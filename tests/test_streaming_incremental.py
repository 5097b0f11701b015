"""Structured-Streaming incremental mode: Available-Now drain, exactly-once
file bookkeeping across restarts, cross-batch dedup within the watermark."""

from __future__ import annotations

from event_data_etl_gcs_spark.streaming.incremental import (
    run_incremental_available_now,
)

from .test_incremental_drain import _write_file
from .test_sparkify_pipeline import MS, T0, _log_row


def test_dedup_within_watermark_collapses_resends(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the same logical event re-sent with
    a slightly different timestamp still collapses (keys exclude ts)."""
    raw = tmp_path / "raw2"
    raw.mkdir()
    out = str(tmp_path / "wh2")
    ckpt = str(tmp_path / "ckpt2")
    _write_file(
        raw, "f1.json",
        [
            _log_row(ts=T0, userId="u1", sessionId=1, itemInSession=0),
            # resend of the same (user, session, item) 5s later
            _log_row(ts=T0 + 5 * MS, userId="u1", sessionId=1, itemInSession=0),
        ],
    )
    run_incremental_available_now(
        spark, str(raw), out, ckpt, dedup_within_watermark=True
    )
    # one logical event -> one time row (plain dropDuplicates would keep 2)
    assert spark.read.parquet(f"{out}/time").count() == 1


def test_fact_append_is_exactly_once_across_replay(spark, tmp_path):
    """Crash-replay semantics: re-processing the SAME files (checkpoint
    wiped, so the source re-delivers every batch with the same ids) must
    leave the fact table bit-identical — the batch-id partition overwrite
    absorbs the replay instead of appending duplicates."""
    import shutil

    from event_data_etl_gcs_spark.streaming.incremental import idempotent_append

    raw = tmp_path / "raw"
    raw.mkdir()
    out = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")
    fact = str(tmp_path / "fact")

    _write_file(
        raw, "f1.json",
        [
            _log_row(ts=T0, userId="u1", level="free"),
            _log_row(ts=T0 + 60 * MS, userId="u1", level="paid", itemInSession=1),
        ],
    )
    run_incremental_available_now(spark, str(raw), out, ckpt, fact_dir=fact)
    first = spark.read.parquet(fact)
    n1 = first.count()
    assert n1 == 2

    # full replay: same files, fresh checkpoint -> same batch ids again
    shutil.rmtree(ckpt)
    run_incremental_available_now(spark, str(raw), out, ckpt, fact_dir=fact)
    again = spark.read.parquet(fact)
    assert again.count() == n1
    assert {r.userId for r in again.collect()} == {"u1"}

    # a genuinely new file still APPENDS (new batch id -> new partition)
    _write_file(raw, "f2.json", [_log_row(ts=T0 + 7200 * MS, userId="u9")])
    run_incremental_available_now(spark, str(raw), out, ckpt, fact_dir=fact)
    assert spark.read.parquet(fact).count() == n1 + 1

    # unit: double-delivery of one batch id is a no-op on row counts
    df = spark.range(5).withColumnRenamed("id", "v")
    p = str(tmp_path / "unit_fact")
    idempotent_append(df, p, batch_id=0)
    idempotent_append(df, p, batch_id=0)
    assert spark.read.parquet(p).count() == 5
    idempotent_append(df, p, batch_id=1)
    assert spark.read.parquet(p).count() == 10


def test_streaming_knn_maintenance_equals_batch_build(spark, tmp_path):
    """Streaming kNN-graph maintenance: (a) the final directed top-k
    state is IDENTICAL however the corpus is split into batches (1 file
    vs 4 files); (b) its u<v edge derivation equals the uncapped batch
    build (fold scoring, same pinned band geometry); (c) a replayed
    increment leaves the state unchanged (idempotence)."""
    from pyspark.sql import functions as F

    from event_data_etl_gcs_spark.operators.graph import (
        knn_edges_ann,
        knn_topk_to_edges,
    )
    from event_data_etl_gcs_spark.streaming.neardedup import (
        knn_maintain_batch,
        read_knn_topk,
        run_streaming_knn_maintenance,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )

    def state(split_dir: str, index_dir: str, n_files: int):
        emb.repartition(n_files).write.mode("overwrite").parquet(split_dir)
        run_streaming_knn_maintenance(
            spark,
            split_dir,
            index_dir,
            str(tmp_path / (index_dir.rsplit("/", 1)[-1] + "_ckpt")),
            k=3,
            band_bits=4,
            max_files_per_trigger=1,
        )
        return read_knn_topk(spark, index_dir)

    one = state(str(tmp_path / "src1"), str(tmp_path / "idx1"), 1)
    four = state(str(tmp_path / "src4"), str(tmp_path / "idx4"), 4)

    def rows(df):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in df.collect()
        )

    assert rows(one) == rows(four) and len(rows(one)) > 0

    streamed_edges = sorted(map(tuple, knn_topk_to_edges(four).collect()))
    batch_edges = sorted(
        map(
            tuple,
            knn_edges_ann(
                spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
                k=3,
                band_bits=4,
                max_bucket=None,
                ring_cap=None,
                scoring="fold",
            ).collect(),
        )
    )
    assert streamed_edges == batch_edges

    # replay the LAST batch id against the committed state: overwrite of
    # the same vectors/batch_id partition + functional topk rewrite ->
    # state unchanged
    idx = str(tmp_path / "idx4")
    vecs = spark.read.parquet(f"{idx}/vectors")
    last_bid = vecs.agg(F.max("batch_id")).collect()[0][0]
    replay_batch = vecs.filter(F.col("batch_id") == last_bid).select(
        F.col("id").alias("vec_id"), "embedding"
    )
    before = rows(read_knn_topk(spark, idx))
    knn_maintain_batch(replay_batch, int(last_bid), idx, k=3, band_bits=4)
    assert rows(read_knn_topk(spark, idx)) == before


def test_knn_topk_state_survives_crash_mid_commit(spark, tmp_path):
    """ADVICE r6: the topk state commit must be crash-atomic. Simulate a
    crash between the new generation's data write and the manifest
    pointer advance (an uncommitted gen dir on disk, pointer still on
    the old gen): the reader must return the OLD state — not silently
    reset to empty — and a foreachBatch replay of the crashed batch
    must recommit and converge to the same state as a clean run."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from event_data_etl_gcs_spark.streaming.neardedup import (
        knn_maintain_batch,
        read_knn_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    b0 = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter(F.col("vec_id") % 2 == 1)

    def rows(df):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in df.collect()
        )

    # clean two-batch run -> reference final state
    ref_idx = str(tmp_path / "ref_idx")
    knn_maintain_batch(b0, 0, ref_idx, k=3, band_bits=4)
    knn_maintain_batch(b1, 1, ref_idx, k=3, band_bits=4)
    ref = rows(read_knn_topk(spark, ref_idx))

    # crashed run: batch 1's gen-2 data lands but the pointer never moves
    idx = str(tmp_path / "crash_idx")
    knn_maintain_batch(b0, 0, idx, k=3, band_bits=4)
    state_after_b0 = rows(read_knn_topk(spark, idx))
    knn_maintain_batch(b1, 1, idx, k=3, band_bits=4)
    topk_dir = os.path.join(idx, "topk")
    # roll the pointer back to gen 1, leaving gen=2 as orphaned data —
    # byte-for-byte the on-disk state of a crash before os.replace
    import json

    with open(os.path.join(topk_dir, "_state_manifest.json"), "w") as f:
        json.dump({"current": 1}, f)
    assert os.path.isdir(os.path.join(topk_dir, "gen=2"))

    # reader sees the old complete generation, not empty state
    assert rows(read_knn_topk(spark, idx)) == state_after_b0

    # checkpoint replay of batch 1: clears the orphaned gen, recommits,
    # and the final state equals the clean run's
    knn_maintain_batch(b1, 1, idx, k=3, band_bits=4)
    assert rows(read_knn_topk(spark, idx)) == ref
    shutil.rmtree(str(tmp_path / "ref_idx"), ignore_errors=True)
