#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload headline_queries --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. One client in this process issues every
call sequentially (a closed loop). The seed sets the operation order
within each pass and generates the Sparkify corpus.

A run sets up the Spark session (which launches the JVM) and runs one
trivial action, runs one untimed warm-up pass, then timed passes:

* ``--trace 0``: timed passes in the warmed session. Their number is
  fixed by ``--seconds`` divided by the workload's nominal pass length
  (``PASS_S``), rounded, at least one, so it is the same on every host and
  commit. Prints the end-to-end metrics; ``warm_pass_cpu_s`` is the
  median CPU time of a timed pass, over this process and every process
  under it.
* ``--trace 1``: the session starts with the Spark event log on; after
  the warm-up come three passes: untraced, traced, untraced. The traced
  pass runs with one job group per operation, spans and a streaming
  listener; it gives the per-layer metrics, and its wall time minus the
  mean of the two untraced passes around it is the tracing overhead.

Every pass checks its outputs (pinned checksum folds, or the star schema
against DuckDB). The last stdout line is the result JSON; the line before
it is the run's self-attribution record. Both, plus the spans of a traced
run, are also written to ``.perfbench/out/``. Exits 2 without a result
when the program is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("headline_queries", "sparkify_etl")
# nominal warm pass length (s) on the 4-vCPU measuring host; with
# --seconds 14 every workload times one pass
PASS_S = {"headline_queries": 14.0, "sparkify_etl": 12.0}


def timed_passes(workload: str, seconds: float) -> int:
    return max(1, round(seconds / PASS_S[workload]))


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _cpu_ticks() -> list[int] | None:
    """Host-wide CPU time counters (user, nice, system, idle, iowait, irq,
    softirq, steal, ...), or None where /proc/stat does not exist."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the JVM, and the Python workers it forks). Time the hypervisor
    stole is not charged to a process."""
    procs: dict[int, tuple[int, float]] = {}
    tick = os.sysconf("SC_CLK_TCK")
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended meanwhile
                continue
            procs[int(name)] = (int(f[1]), (int(f[11]) + int(f[12])) / tick)
    total, me = 0.0, os.getpid()
    for pid, (_, cpu) in procs.items():
        p = pid
        while p in procs and p != me:
            p = procs[p][0]
        if p == me:
            total += cpu
    return total


def _steal_share(before: list[int] | None, after: list[int] | None) -> float | None:
    """Share of CPU time the hypervisor took from this machine in between:
    a slow run on a busy host shows it here."""
    if before is None or after is None:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else None


class Bench:
    def __init__(self, args: argparse.Namespace, work: str):
        from tracing import DrainListener, Tracer
        from workloads import DATA, make_workload

        self.args = args
        self.work = work
        self.region = os.path.join(DATA[args.scale], "region.parquet")
        self.tracer = Tracer()
        self.listener = DrainListener()
        self.spark = None
        self.traced_app: str | None = None  # application id of the traced session
        # inputs first: corpus generation stays out of every metric
        self.wl = make_workload(
            args.workload, args.scale, args.seed, os.path.join(STATE, "cache"), work
        )

    # -- session -------------------------------------------------------
    def session(self, eventlog: bool) -> tuple[float, float]:
        """Start the session; return (get_spark s, first action s)."""
        from event_data_etl_gcs_spark.session import get_spark

        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
            "spark.eventLog.enabled": str(eventlog).lower(),
        }
        if eventlog:
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        with self.tracer.span("get_spark"):
            self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        with self.tracer.span("first_action"):
            self.spark.read.parquet(self.region).count()
        t2 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        if eventlog:
            self.spark.streams.addListener(self.listener)
            self.traced_app = self.spark.sparkContext.applicationId
        return t1 - t0, t2 - t1

    def shutdown(self) -> tuple[float, float]:
        """Stop Spark and its JVM, wait for it; return the peak RSS (MB)
        of this process and of the JVM."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
        return (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
                resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0)

    # -- passes --------------------------------------------------------
    def run_pass(self, index: int, traced: bool):
        from tracing import group_counts
        from workloads import Pass

        p = Pass(index)
        sc = self.spark.sparkContext
        ops = self.wl.ops(self.spark, self.tracer)
        self.tracer.enabled = traced
        runs_before = set(self.listener.progress)
        groups = []
        c0, t0 = _tree_cpu_s(), time.perf_counter()
        with self.tracer.span(f"pass{index}"):
            for name, fn in ops:
                if traced:
                    group = f"pb-{index}-{name}"
                    sc.setJobGroup(group, name)
                    groups.append(group)
                a = time.perf_counter()
                with self.tracer.span(name):
                    try:
                        fn(p)
                    except Exception:  # an operation failure is counted, not fatal
                        p.failed.append(name)
                        traceback.print_exc()
                p.op_s[name] = time.perf_counter() - a
        p.wall_s = time.perf_counter() - t0
        p.cpu_s = _tree_cpu_s() - c0
        self.tracer.enabled = False
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)  # later passes run ungrouped
            runs = sorted(set(self.listener.progress) - runs_before)
            p.groups = groups + runs
            p.batches = [b for r in runs for b in self.listener.batches(r)]
            p.counts = [group_counts(sc, g) for g in p.groups]
        self.wl.after_pass(p)
        return p

    def run(self) -> tuple[dict, dict]:
        args = self.args
        load_before, ticks_before = os.getloadavg(), _cpu_ticks()
        self.tracer.enabled = bool(args.trace)
        start_s, first_action_s = self.session(eventlog=bool(args.trace))
        warm = self.run_pass(0, traced=False)
        if args.trace:
            timed = [self.run_pass(i, traced=i == 2) for i in (1, 2, 3)]
        else:
            timed = [self.run_pass(i, traced=False)
                     for i in range(1, timed_passes(args.workload, args.seconds) + 1)]
        self.cores = self.spark.sparkContext.defaultParallelism
        jvm = self.spark.sparkContext._jvm
        versions = {
            "spark": self.spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        heap_after_gc_mb = (rt.totalMemory() - rt.freeMemory()) / 2**20
        rss_mb = self.shutdown()
        load_after, ticks_after = os.getloadavg(), _cpu_ticks()

        passes = [warm, *timed]
        attempted = sum(len(p.op_s) for p in passes)
        failed = sum(len(set(p.failed)) for p in passes)
        walls = [p.wall_s for p in timed]
        attribution = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale,
            "host": {"nproc": os.cpu_count(), "spark_cores": self.cores,
                     "load_before": load_before, "load_after": load_after,
                     "steal_share": _steal_share(ticks_before, ticks_after)},
            "versions": versions,
            "input_bytes": self.wl.input_bytes(),
            "peak_rss_mb": {"python": rss_mb[0], "jvm": rss_mb[1]},
            "heap_after_gc_mb": heap_after_gc_mb,
            "setup_s": [start_s, first_action_s],
            "warmup_pass_s": warm.wall_s,
            "pass_s": walls,
            "pass_cpu_s": [p.cpu_s for p in timed],
            "ops_s": [p.op_s for p in passes],
            "failed_ops": [p.failed for p in passes],
            "error_rate": failed / attempted,
        }
        if args.trace:
            extra = {
                "session.start_s": (start_s, "s"),
                "session.first_action_s": (first_action_s, "s"),
                "memory.peak_rss_mb": (sum(rss_mb), "MB"),
                "memory.heap_after_gc_mb": (heap_after_gc_mb, "MB"),
            }
            metrics = self.layer_metrics(warm, timed, extra)
        else:
            metrics = {
                "warm_pass_cpu_s": {"value": _median([p.cpu_s for p in timed]), "unit": "s"},
                "setup_s": {"value": start_s + first_action_s, "unit": "s"},
            }
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
        return result, attribution

    def layer_metrics(self, warm, timed, extra) -> dict:
        from tracing import EventLog
        from workloads import ANALYTICS_ROWS, LLM_ROWS

        traced = timed[1]
        untraced = _median([timed[0].wall_s, timed[2].wall_s])
        log = EventLog.parse(os.path.join(self.work, "eventlog", self.traced_app))
        ev = log.total(traced.groups)
        counts = {k: sum(c[k] for c in traced.counts) for k in ("jobs", "stages", "tasks")}
        in_bytes = self.wl.input_bytes()
        trigger = [ms for _, _, ms in traced.batches]
        ops = traced.op_s
        m = {
            "queries.build_s": (traced.layer_s.get("queries.build", 0.0), "s"),
            "queries.action_s": (traced.layer_s.get("queries.action", 0.0), "s"),
            "queries.cold_excess_s": (warm.wall_s - untraced, "s"),
        }
        for row in ANALYTICS_ROWS + LLM_ROWS:
            m[f"queries.{row}.wall_s"] = (ops.get(row, 0.0), "s")
        m.update({
            "spark.jobs": (counts["jobs"], "count"),
            "spark.stages": (counts["stages"], "count"),
            "spark.tasks": (counts["tasks"], "count"),
            "spark.task_s": (ev.task_s, "s"),
            "spark.cpu_s": (ev.cpu_s, "s"),
            "spark.gc_s": (ev.gc_s, "s"),
            "spark.slot_util": (ev.task_s / (traced.wall_s * self.cores), "ratio"),
            "spark.shuffle_write_bytes": (ev.shuffle_write_bytes, "bytes"),
            "spark.shuffle_read_bytes": (ev.shuffle_read_bytes, "bytes"),
            "spark.spill_bytes": (ev.spill_bytes, "bytes"),
            "sources.input_bytes": (ev.input_bytes, "bytes"),
            "sources.output_bytes": (traced.output_bytes, "bytes"),
            "sources.output_files": (traced.output_files, "count"),
            "sources.write_s": (ev.write_s, "s"),
            "sources.bytes_out_per_byte_in": (traced.output_bytes / in_bytes, "ratio"),
            "plans.pipeline_s": (ops.get("run_pipeline", 0.0), "s"),
            "plans.warehouse_load_s": (ops.get("warehouse_load", 0.0), "s"),
            "streaming.drain_s": (ops.get("drain_1", 0.0) + ops.get("drain_2", 0.0), "s"),
            "streaming.batches": (len(traced.batches), "count"),
            "streaming.input_rows": (sum(n for _, n, _ in traced.batches), "count"),
            "streaming.trigger_ms": (_median(trigger), "ms"),
            "trace.warm_pass_s": (traced.wall_s, "s"),
            "trace.untraced_pass_s": (untraced, "s"),
            "trace.overhead_s": (traced.wall_s - untraced, "s"),
            "trace.spans": (len(self.tracer.spans), "count"),
            **extra,
        })
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                    help="smoke: sf0.001 tables and a tiny corpus")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import event_data_etl_gcs_spark.queries  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}", file=sys.stderr)
        return 2

    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep Spark's local directories and temp files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    bench = None
    try:
        bench = Bench(args, work)
        result, attribution = bench.run()
        spans = bench.tracer.dump()
    finally:
        if bench is not None:
            bench.shutdown()
            bench.wl.close()
        shutil.rmtree(work, ignore_errors=True)

    out = os.path.join(STATE, "out")
    os.makedirs(out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out, name), "w") as fh:
        json.dump({"result": result, "attribution": attribution, "spans": spans}, fh)
    print(json.dumps({"attribution": attribution}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
