"""The two workloads. Each one yields, per pass, a list of operations;
an operation calls into the program, checks its output and raises
``CheckFailed`` (or whatever the program raised) when it is wrong.

* ``headline_queries`` — all 22 headline rows: the ten relational rows
  (Parquet scans and Catalyst joins, aggregates, windows and an as-of
  join) and the twelve LLM-data rows (expression-heavy map work and band
  -> bucket -> self-join -> verify cascades with eager checkpoints); no
  writes.
* ``sparkify_etl`` — the reference pipeline on a seeded JSON corpus:
  ``run_pipeline`` writes the year-partitioned star schema, the warehouse
  load stage copies it into DuckDB, and two Available-Now drains ingest
  the two arrivals of log files (the second drain merges).
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from checks import StarSchemaOracle, fold, load_pins
from corpus import ensure_corpus

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = {"bench": os.path.join(HERE, "data", "sf0.01"),
        "smoke": os.path.join(HERE, "data", "sf0.001")}

ANALYTICS_ROWS = (
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue", "q6_revenue_delta",
    "rollup_revenue", "sessionize", "users_latest", "tumbling_window_counts",
    "asof_join_last_purchase", "gap_fill_daily_counts",
)
LLM_ROWS = (
    "token_count", "text_quality", "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "ann_brute_force", "ann_lsh", "ann_ivf_cells", "multimodal_decode",
    "training_corpus_select", "term_frequencies", "train_test_split",
)


class CheckFailed(Exception):
    pass


@dataclass
class Pass:
    """What one pass measured. ``op_s`` is the time of each operation;
    ``layer_s`` sums the time of the calls inside the query operations
    (``queries.build``, ``queries.action``)."""

    index: int
    wall_s: float = 0.0
    cpu_s: float = 0.0
    op_s: dict[str, float] = field(default_factory=dict)
    layer_s: dict[str, float] = field(default_factory=dict)
    failed: list[str] = field(default_factory=list)
    output_bytes: int = 0
    output_files: int = 0
    # traced passes only: job groups (one per operation, plus each
    # streaming run id), their statusTracker counts, drain micro-batches
    groups: list[str] = field(default_factory=list)
    counts: list[dict[str, int]] = field(default_factory=list)
    batches: list[tuple[int, int, int]] = field(default_factory=list)

    def add(self, layer: str, seconds: float) -> None:
        self.layer_s[layer] = self.layer_s.get(layer, 0.0) + seconds


Op = tuple[str, Callable[[Pass], None]]


class QueryWorkload:
    """Registered headline queries over the bundled TPC-H-ish tables."""

    def __init__(self, rows: tuple[str, ...], scale: str, seed: int):
        from event_data_etl_gcs_spark.queries import all_queries

        self.rows = rows
        self.sf_dir = DATA[scale]
        specs = all_queries()
        self.specs = {r: specs[r] for r in rows}
        self.pins = load_pins()[os.path.basename(self.sf_dir)]
        self.rng = random.Random(seed)

    def input_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.sf_dir, f)) for f in os.listdir(self.sf_dir)
        )

    def ops(self, spark, tracer) -> list[Op]:
        order = list(self.rows)
        self.rng.shuffle(order)

        def make(name: str) -> Callable[[Pass], None]:
            spec, pin = self.specs[name], self.pins[name]

            def op(p: Pass) -> None:
                t0 = time.perf_counter()
                with tracer.span("spec.fn"):
                    df = spec.fn(spark, self.sf_dir)
                t1 = time.perf_counter()
                with tracer.span("checksum_fold"):
                    got = fold(df)
                t2 = time.perf_counter()
                p.add("queries.build", t1 - t0)
                p.add("queries.action", t2 - t1)
                if got != pin:
                    raise CheckFailed(f"{name}: checksum fold {got} != pinned {pin}")

            return op

        return [(name, make(name)) for name in order]

    def after_pass(self, p: Pass) -> None:
        pass

    def close(self) -> None:
        pass


class EtlWorkload:
    """The Sparkify pipeline, warehouse load and incremental drains."""

    def __init__(self, scale: str, seed: int, cache_dir: str, work_dir: str):
        self.corpus = ensure_corpus(cache_dir, seed, scale)
        self.oracle = StarSchemaOracle(self.corpus.song_glob, self.corpus.log_glob)
        self.work_dir = work_dir
        self.n = 0

    def input_bytes(self) -> int:
        return self.corpus.json_bytes

    def ops(self, spark, tracer) -> list[Op]:
        # each operation is one layer call; the pass loop spans it
        from event_data_etl_gcs_spark.plans.runner import RunConfig, warehouse_load_stage
        from event_data_etl_gcs_spark.plans.sparkify import run_pipeline
        from event_data_etl_gcs_spark.streaming.incremental import (
            run_incremental_available_now,
        )

        self.n += 1
        d = os.path.join(self.work_dir, f"etl-pass{self.n}")
        shutil.rmtree(d, ignore_errors=True)
        self.dirs = {k: os.path.join(d, k) for k in ("out", "raw", "inc", "ckpt", "failed")}
        os.makedirs(self.dirs["raw"])
        self.db = os.path.join(d, "warehouse.duckdb")
        state: dict = {}

        def pipeline(p: Pass) -> None:
            res = run_pipeline(
                spark, self.corpus.song_glob, self.corpus.log_glob, self.dirs["out"]
            )
            state["paths"] = res.paths

        def load(p: Pass) -> None:
            cfg = RunConfig(self.dirs["raw"], self.dirs["out"], self.dirs["failed"])
            warehouse_load_stage(state["paths"], self.db)(spark, cfg)

        def drain(arrival: int) -> Callable[[Pass], None]:
            def op(p: Pass) -> None:
                # a new arrival lands: hard links, so nothing is copied
                for f in self.corpus.arrivals[arrival]:
                    os.link(f, os.path.join(self.dirs["raw"], os.path.basename(f)))
                run_incremental_available_now(
                    spark, self.dirs["raw"], self.dirs["inc"], self.dirs["ckpt"]
                )

            return op

        return [
            ("run_pipeline", pipeline),
            ("warehouse_load", load),
            ("drain_1", drain(0)),
            ("drain_2", drain(1)),
        ]

    def after_pass(self, p: Pass) -> None:
        """Check the pass's outputs against DuckDB, count what it wrote,
        and remove it. Untimed."""
        if not {"run_pipeline", "warehouse_load"} & set(p.failed):
            errors = self.oracle.check_warehouse(self.db)
            if errors:
                p.failed.append("warehouse_load")
                _report(errors)
        if not {"drain_1", "drain_2"} & set(p.failed):
            inc = self.dirs["inc"]
            errors = self.oracle.check_tables(
                {"users": os.path.join(inc, "users"), "time": os.path.join(inc, "time")}
            )
            if errors:
                p.failed.append("drain_2")
                _report(errors)
        for key in ("out", "inc"):
            for dirpath, _, files in os.walk(self.dirs[key]):
                parquet = [f for f in files if f.endswith(".parquet")]
                p.output_files += len(parquet)
                p.output_bytes += sum(os.path.getsize(os.path.join(dirpath, f)) for f in parquet)
        shutil.rmtree(os.path.dirname(self.dirs["out"]), ignore_errors=True)

    def close(self) -> None:
        self.oracle.close()


def _report(errors: list[str]) -> None:
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)


def make_workload(name: str, scale: str, seed: int, cache_dir: str, work_dir: str):
    if name == "headline_queries":
        return QueryWorkload(ANALYTICS_ROWS + LLM_ROWS, scale, seed)
    if name == "sparkify_etl":
        return EtlWorkload(scale, seed, cache_dir, work_dir)
    raise ValueError(f"unknown workload {name!r}")
