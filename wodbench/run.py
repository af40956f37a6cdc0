"""Benchmark entry point.

    python3 wodbench/run.py --workload wod_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, sets up (Spark session + inputs + initial state) three times and
keeps the last, measures for ``--seconds``, checks every output, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (spans and Spark counters, see spans.py). Everything the
run writes goes under ``.wodbench_work/`` in the current directory and
is removed at exit; a traced run leaves its spans in
``.wodbench_out/spans-<workload>-seed<seed>.jsonl``. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 3
TAIL_BEYOND = 10  # the tail is the highest percentile with this many samples above it
# The reference job: a fixed CPU-bound Spark job that uses no code of the
# package, timed when the measured window starts. Its seconds go to stderr
# only, to tell a run taken on a busy host; no metric is scaled by them.
REFERENCE_ROWS = 60_000_000

END_TO_END = {
    "setup_s": "s", "bulk_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "ok_ratio": "ratio", "jvm_peak_rss_mb": "MB",
}
QUERY_MODULES = (
    "aggregates", "analytics_ext", "core", "dates_clean", "events_analytics", "joins_dedup",
    "llm_ops", "relational_ext", "sketches", "text_mining", "text_sessionize", "tpch_ext",
)  # the modules that register the sweep's queries
# (span or layer name, counters reported for it)
PER_LAYER = (
    ("session.get_spark", ("s",)),
    ("wodbench.generate", ("s",)),
    ("io.load_tables", ("s",)),
    ("io.read_table", ("s", "jobs")),
    ("operators.dedup.exact_dedup", ("s", "cpu_ms", "max_task_share")),
    ("plans.wod_pipeline.strip_posts", ("s", "cpu_ms", "tasks", "max_task_share")),
    ("plans.wod_pipeline.sessionize_post_text", ("s", "cpu_ms", "shuffle_bytes", "spill_bytes", "max_task_share")),
    ("plans.wod_pipeline.segments_to_records", ("s", "cpu_ms", "shuffle_bytes", "max_task_share")),
    ("plans.wod_pipeline.wod_pipeline", ("s", "jobs", "tasks", "cpu_ms", "shuffle_bytes", "max_task_share", "gap_s")),
    ("sinks.write_jsonl_idempotent", ("s", "jobs", "tasks", "gap_s", "rows_written_ratio")),
    ("sinks.kv_upsert_parquet", ("s", "jobs", "tasks", "gap_s", "bytes_written", "files")),
    ("wod_ingest.batch", ("s", "jobs", "gap_s")),
    ("streaming.cdc_apply.apply_batch", ("s", "jobs", "tasks", "cpu_ms", "shuffle_bytes", "gap_s", "write_bytes_per_change")),
    ("operators.merge.merge_into", ("s", "jobs", "tasks", "max_task_share", "gap_s", "files_rewritten", "files_carried")),
    ("operators.compact.compact_parquet", ("s", "jobs", "bytes_rewritten", "files")),
    *((f"queries.{m}", ("s", "cpu_ms")) for m in QUERY_MODULES),
    ("queries", ("jobs", "tasks", "shuffle_bytes", "spill_bytes", "max_task_share", "gap_s")),
    ("trace", ("overhead_s", "overhead_share")),
)
UNITS = {
    "s": "s", "jobs": "count", "tasks": "count", "cpu_ms": "ms", "shuffle_bytes": "bytes",
    "spill_bytes": "bytes", "max_task_share": "ratio", "gap_s": "s", "rows_written_ratio": "ratio",
    "bytes_written": "bytes", "files": "count", "write_bytes_per_change": "bytes",
    "files_rewritten": "count", "files_carried": "count", "bytes_rewritten": "bytes",
    "overhead_s": "s", "overhead_share": "ratio",
}
PER_LAYER_NAMES = tuple(f"{layer}.{c}" for layer, cs in PER_LAYER for c in cs)


def log(msg: str) -> None:
    print(f"wodbench: {msg}", file=sys.stderr, flush=True)


class Ctx:
    def __init__(self, args, work: str, tracer):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.cpus = len(os.sched_getaffinity(0))
        self.log = log

    def jvm_pid(self) -> int:
        return self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def window_started(self) -> None:
        """Called by a workload when its warm-up is over: the JVM's peak
        RSS is reset, so jvm_peak_rss_mb covers the measured window, and
        the reference job is timed (after one compiling run) for stderr."""
        ref_s = []
        for _ in range(2):
            t0 = time.perf_counter()
            self.spark.range(0, REFERENCE_ROWS, 1, self.cpus).selectExpr("sum(hash(id, id * 3)) AS h").collect()
            ref_s.append(time.perf_counter() - t0)
        self.log(f"reference job seconds: {[round(s, 3) for s in ref_s[1:]]} (about 0.25 on a quiet 4-core box)")
        with open(f"/proc/{self.jvm_pid()}/clear_refs", "w") as f:
            f.write("5")


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with TAIL_BEYOND
    samples above it. While that percentile would lie below the 75th,
    the interpolated 75th percentile: the maximum of a handful of samples
    is mostly noise."""
    v = sorted(samples)
    if len(v) > 4 * TAIL_BEYOND:
        i = len(v) - 1 - TAIL_BEYOND
        return v[i], 100.0 * (i + 1) / len(v)
    if len(v) == 1:
        return v[0], 100.0
    return statistics.quantiles(v, n=4, method="inclusive")[2], 75.0


def spark_session(work: str, cpus: int):
    from weightlifting_wod_etl_spark.session import get_spark

    spark = get_spark(
        app_name="wodbench",
        cpus=cpus,
        extra_conf={
            # get_spark's default is 8g. A 2g cap keeps the JVM's peak RSS
            # steady from run to run (jvm_peak_rss_mb) and small on a shared host.
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it ran in and wait for it: the
    JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def layer_metrics(tracer, wl) -> dict[str, float]:
    """Per-layer values: the median over a span's calls of each counter;
    a layer the workload never called reads 0."""
    import workloads

    by = {}
    for sp in tracer.spans.values():
        by.setdefault(sp.name, []).append(tracer.counters(sp))
    # the lazy pipeline stages were forced as growing prefixes, in rounds:
    # a stage's time is its prefix's minus the one before in the same
    # round (its other counters cover the whole prefix, which may plan its
    # exchanges differently). Later stages first, so each subtracts a raw
    # prefix.
    rounds = [by.get(name, []) for name in workloads.PIPELINE_STAGES]
    for prev_calls, cur_calls in reversed(list(zip(rounds, rounds[1:]))):
        for prev, cur in zip(prev_calls, cur_calls):
            for k in ("s", "cpu_ms"):
                cur[k] -= prev[k]
    by["queries"] = [c for n, cs in by.items() if n.startswith("queries.") for c in cs]
    out = {}
    for layer, counters in PER_LAYER:
        calls = by.get(layer, [])
        for c in counters:
            name = f"{layer}.{c}"
            vals = [call[c] for call in calls if c in call]
            out[name] = wl.layer.get(name, statistics.median(vals) if vals else 0.0)
    return out


def main(argv=None) -> int:
    import workloads
    from spans import Tracer

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(os.getcwd(), ".wodbench_work")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(os.environ["TMPDIR"])
    tracer = Tracer(False)
    ctx = Ctx(args, "", tracer)
    setup_s, get_spark_s, gen_s = [], [], []
    try:
        for r in range(SETUP_ROUNDS):
            work = os.path.join(base, f"round{r}")
            os.makedirs(work)
            if ctx.spark is not None:
                ctx.spark.stop()
            t0 = time.perf_counter()
            ctx.spark = spark_session(work, ctx.cpus)
            t1 = time.perf_counter()
            ctx.work = work
            tracer.bind(ctx.spark)
            wl = workloads.WORKLOADS[args.workload](ctx)
            wl.setup()
            t2 = time.perf_counter()
            setup_s.append(t2 - t0)
            get_spark_s.append(t1 - t0)
            gen_s.append(t2 - t1)
            if r:
                shutil.rmtree(os.path.join(base, f"round{r - 1}"), ignore_errors=True)
        tracer.enabled = ctx.trace
        t_run = time.perf_counter()
        wl.run(t_run + args.seconds)
        rss = jvm_peak_rss_mb(ctx.jvm_pid())
        t_check = time.perf_counter()
        tracer.enabled = ctx.trace
        wl.check()
        log(f"phase seconds: setup {sum(setup_s):.1f}, run {t_check - t_run:.1f}, check {time.perf_counter() - t_check:.1f}")
        if ctx.trace:
            wl.layer["session.get_spark.s"] = statistics.median(get_spark_s)
            wl.layer["wodbench.generate.s"] = statistics.median(gen_s)
            traced_s, untraced_s = wl.overhead_samples()
            if traced_s and untraced_s:
                over = statistics.median(traced_s) - statistics.median(untraced_s)
                wl.layer["trace.overhead_s"] = over
                wl.layer["trace.overhead_share"] = over / statistics.median(untraced_s)
            metrics = layer_metrics(tracer, wl)
            out_dir = os.path.join(os.getcwd(), ".wodbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            latency = wl.latency_samples()
            tail_v, tail_pct = tail(latency)
            metrics = {
                "setup_s": statistics.median(setup_s),
                "bulk_s": statistics.median(wl.bulk_s),
                "op_p50_s": statistics.median(latency),
                "op_tail_s": tail_v,
                "ok_ratio": 1.0 - wl.failed / max(1, wl.attempted),
                "jvm_peak_rss_mb": rss,
            }
            log(f"op_p50_s and op_tail_s (p{tail_pct:.0f}) are of {len(latency)} of {len(wl.op_s)} operations; bulk_s is the median of {len(wl.bulk_s)}")
            log(f"operation seconds: {[round(s, 3) for s in wl.op_s]}; bulk seconds: {[round(s, 3) for s in wl.bulk_s]}; setup seconds: {[round(s, 3) for s in setup_s]}")
            if wl.op_steal:
                log(f"operation steal shares: {[round(s, 3) for s in wl.op_steal]}")
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cpus": ctx.cpus, "inputs": wl.inputs}))
    def unit(name: str) -> str:
        return UNITS[name.rsplit(".", 1)[1]] if ctx.trace else END_TO_END[name]

    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    os.environ["TZ"] = "UTC"
    time.tzset()
    # the run reads and writes only under the current directory
    work_root = os.path.join(os.getcwd(), ".wodbench_work")
    os.environ["TMPDIR"] = os.path.join(work_root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_root, "spark-local")
    # Python workers import the package from PYTHONPATH, not sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [HERE, ROOT]
    sys.exit(main())
