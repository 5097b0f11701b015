"""SparkSession factory — the idiomatic replacement of the reference's
driver bootstrap (``spark-jobs/sparkify_etl.py:228-247``: SparkConf /
SparkContext / SQLContext triple + GCS connector flag).

Key choices, pinned for reproducibility and 100 TB posture:
  * ``spark.sql.session.timeZone=UTC`` — the reference's timestamp UDF
    (``sparkify_etl.py:146-150``) used cluster-local time; we pin UTC so
    results are reproducible and DuckDB-oracle-comparable (SURVEY.md §7
    hard-part 1).
  * AQE on (coalesce shuffle partitions + skew-join handling) — replaces
    hand-tuning at every scale factor.
  * Arrow enabled for the pandas-UDF extension surface.
  * Shuffle partitions default to local core count for tests; a real
    cluster deployment overrides via ``extra_conf`` (rule of thumb:
    2-3x total executor cores, or let AQE coalesce from a high initial).
  * ``spark.sql.codegen.cache.maxEntries=2048`` — Spark's generated-class
    cache is an LRU of 100 entries by default, but one pass of the 22
    headline rows compiles 280-364 generated classes and one Sparkify
    ETL pass 110-144. At 100 entries every warm pass evicts and
    recompiles them, and HotSpot then interprets and re-JITs each fresh
    class. 2048 holds the whole working set with headroom: warm passes
    compile no classes, and metaspace ends lower, not higher. The conf
    is static, read once when the JVM-side session starts, so a vanilla
    session not built by ``get_spark`` keeps 100 entries.
  * ``spark.sql.codegen.useIdInClassName=false`` — by default the
    whole-stage class name carries the stage's position in its plan
    (``GeneratedIteratorForCodegenStage4``), so the same pipeline numbered
    differently is new source and a cache miss. That happens in
    ``dedup_minhash_lsh`` and ``training_corpus_select``, whose plans
    renumber once their ``cache()`` is materialized: up to 12 fresh
    compiles per pass on the second and third pass. With a fixed name
    those passes compile nothing, and the first pass reuses pipelines
    shared across queries (309 -> 265 compiles at sf0.001).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "event-data-etl-gcs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's pinned config.

    Local mode defaults to ``local[$SPARK_GRAFT_CPUS]``; on a cluster pass
    ``master=None`` with spark-submit-provided master and override
    ``shuffle_partitions`` for the data scale.
    """
    cpus = DEFAULT_CPUS
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom-filter pruning: selective join sides inject bloom
        # filters into the probe-side scan — at 100 TB this is the
        # difference between scanning the fact table and scanning the
        # fraction of it that can possibly join.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Object-store-friendly committer (replaces the reference's GCS
        # connector tuning at sparkify_etl.py:232 with the general knob).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Incremental runs overwrite only the partitions they produce
        # (SURVEY.md §2.1 S5).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Parquet TIMESTAMP(NANOS) (e.g. the driver's events.ts) is not a
        # Spark type; read as long and convert in the catalog loader
        # (sources/catalog.py) by truncating to microseconds — matching
        # DuckDB's ns->us read behavior.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Write TZ-aware timestamps as annotated INT64 micros, not the
        # INT96 default: INT96 pages carry NO min/max statistics, which
        # silently disables row-group and whole-file pruning on every
        # time-range predicate — at 100 TB that pruning IS the query plan.
        # Micros also round-trips to DuckDB/Trino/BigQuery losslessly.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
