"""Warm passes reuse generated code: the engine's session keeps the whole
working set of the headline rows in Spark's codegen class cache and names
whole-stage classes independently of their stage number (session.py), so
a second run of the headline rows compiles nothing."""

from __future__ import annotations

from bench import BENCH_QUERIES, force_result
from event_data_etl_gcs_spark.queries import all_queries

from .conftest import SF_SMOKE


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_headline(spark) -> dict[str, int]:
    """Run every headline row once; return the fresh compiles per row."""
    specs, fresh = all_queries(), {}
    for name in BENCH_QUERIES:
        before = _compiles(spark)
        force_result(specs[name].fn(spark, SF_SMOKE))
        fresh[name] = _compiles(spark) - before
    return fresh


def test_second_headline_run_compiles_nothing(spark):
    _run_headline(spark)
    fresh = {k: v for k, v in _run_headline(spark).items() if v}
    assert not fresh, f"warm run recompiled generated classes: {fresh}"
