"""The three workloads. Each drives the package's public functions from
one process in a closed loop: the next batch or query starts only after
the previous one has committed or finished.

A workload object is built once per set-up round. ``setup`` makes its
inputs and initial state, ``run`` measures until the deadline, ``check``
compares outputs with expectations outside the timed region. Every
operation (a batch, the backfill, a compaction, a query build or a query
execution) adds to ``attempted``; one that raises or fails its check
adds to ``failed``.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import statistics
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import checks
import gen
from gen import RECORD_COLS

QUIET_STEAL = 0.01  # see Workload.latency_samples

# the span names the tracer records; run.py turns them into metric names
PIPELINE_STAGES = (
    "operators.dedup.exact_dedup",
    "plans.wod_pipeline.strip_posts",
    "plans.wod_pipeline.sessionize_post_text",
    # segments_to_records (operators.pivot, operators.dates) and then
    # operators.clean.clean_records: one stage, since the clean prefix
    # plans cheaper than the bare records prefix
    "plans.wod_pipeline.segments_to_records",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters from /proc/stat: user, nice,
    system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time between two cpu_ticks() readings that the
    hypervisor gave to other guests (steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def files_by_inode(data_dir: str) -> dict[int, int]:
    """inode -> bytes of the table's data files; a file carried into a
    new version by hard link keeps its inode."""
    from weightlifting_wod_etl_spark.operators.skipping import list_data_files

    out = {}
    for f in list_data_files(data_dir):
        st = os.stat(f)
        out[st.st_ino] = st.st_size
    return out


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.work = ctx.work
        self.attempted = 0
        self.failed = 0
        self._count = threading.Lock()  # the sweep's warm-up runs ops on threads
        self.op_s: list[float] = []  # per-operation latency samples
        self.op_traced: list[bool] = []  # whether each sample ran traced
        self.op_steal: list[float] = []  # each sample's steal share
        self.bulk_s: list[float] = []
        self.inputs: dict = {}  # input sizes, printed beside the metrics
        self.layer: dict[str, float] = {}  # extra per-layer counts

    def op(self, fn, *args):
        """Run one timed operation; returns (result, seconds) or
        (None, None) after counting a failure."""
        with self._count:
            self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception:  # one failed operation must not end the run
            with self._count:
                self.failed += 1
            self.ctx.log(f"operation failed:\n{traceback.format_exc()}")
            return None, None
        return out, time.perf_counter() - t0

    def trace_if(self, on: bool) -> bool:
        """In a traced run, trace only some operations, so the difference
        to the untraced ones measures the tracing overhead."""
        self.tracer.enabled = self.ctx.trace and on
        return self.tracer.enabled

    def sample(self, s: float, traced: bool, steal: float = 0.0) -> None:
        self.op_s.append(s)
        self.op_traced.append(traced)
        self.op_steal.append(steal)

    def latency_samples(self) -> list[float]:
        """The samples op_p50_s and op_tail_s are taken from: those whose
        steal share is at most QUIET_STEAL, or else at most that of the
        quarter of the samples (at least two) with the least steal. On a
        quiet host that is every sample. On a shared 4-vCPU host a
        trickle batch took about 25% longer while the hypervisor stole
        2-3% of the CPU time, and steal says nothing about the program
        (README.md, Host steal)."""
        if not self.op_steal:
            return self.op_s
        n = len(self.op_steal)
        cut = max(QUIET_STEAL, sorted(self.op_steal)[min(n, max(2, n // 4)) - 1])
        return [s for s, st in zip(self.op_s, self.op_steal) if st <= cut]

    def overhead_samples(self) -> tuple[list[float], list[float]]:
        """(traced, untraced) operation latencies."""
        return (
            [s for s, t in zip(self.op_s, self.op_traced) if t],
            [s for s, t in zip(self.op_s, self.op_traced) if not t],
        )

    def fail(self, what: str, n: int = 1) -> None:
        if n:
            self.failed += 1
            self.ctx.log(f"check failed: {what} ({n} mismatching)")


# ------------------------------------------------------------ wod_ingest


class Sinks:
    """One JSONL sink + ledger + KV table, and the records the JSONL sink
    must hold."""

    def __init__(self, root: str):
        self.jsonl, self.ledger, self.kv = (os.path.join(root, n) for n in ("records", "ledger", "kv"))
        self.written: set[tuple] = set()


class WodIngest(Workload):
    """Reference pipeline end to end: wod_pipeline, then the JSONL sink
    with its idempotency ledger and the KV upsert (the DynamoDB/S3
    analog). Phase 1 backfills one large batch into empty sinks; phase 2
    trickles small batches of new, edited and unchanged posts into them."""

    # Sized so per-post work dominates the backfill (about 2/3 of it on a
    # 4-core box; README.md, Backfill size).
    N_POSTS = 3000
    BATCH_POSTS = 5
    # Untimed warm-up before the backfill: trickle batch time keeps
    # falling for some 30 batches while the JVM compiles the driver-side
    # code (README.md, Trickle samples). WARMUP_STREAMS streams, fewer
    # than the cores, each run a small backfill and WARMUP_BATCHES trickle
    # batches into sinks of their own at the same time, so the warm-up
    # covers that many batches in about two thirds of the time.
    WARMUP_STREAMS = 3
    WARMUP_BATCHES = 5
    # untimed trickle batches into the backfilled sinks before the window
    FIRST_BATCHES = 2

    def setup(self):
        self.posts_dir = os.path.join(self.work, "posts")
        os.makedirs(self.posts_dir)
        self.plan = gen.IngestPlan(self.ctx.seed, self.N_POSTS, self.BATCH_POSTS)
        self.sinks = Sinks(os.path.join(self.work, "out"))
        self.backfill = os.path.join(self.posts_dir, "backfill.parquet")
        self.inputs = {
            "backfill_posts": len(self.plan.backfill),
            "backfill_html_bytes": gen.write_posts(self.plan.backfill, self.backfill),
            "duplicate_post_ids": self.plan.n_duplicate_ids,
            "trickle_posts_per_batch": self.BATCH_POSTS,
        }
        self.jsonl_offered = self.jsonl_written = 0

    def _ingest(self, sinks: Sinks, path: str, seq: int) -> int:
        from weightlifting_wod_etl_spark.plans.wod_pipeline import wod_pipeline
        from weightlifting_wod_etl_spark.sinks import kv_upsert_parquet, write_jsonl_idempotent

        tr = self.tracer
        posts = self.spark.read.parquet(path)
        with tr.span("plans.wod_pipeline.wod_pipeline"):
            # one snapshot of the records feeds both sinks
            records = (
                wod_pipeline(posts)
                .withColumn("fetch_seq", F.lit(seq))
                .withColumn("month", F.substring("date", 1, 7))
                .localCheckpoint()
            )
        idem = F.sha2(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in RECORD_COLS]), 256)
        with tr.span("sinks.write_jsonl_idempotent"):
            n = write_jsonl_idempotent(
                records.select(*RECORD_COLS, idem.alias("idem_key")), sinks.jsonl, sinks.ledger
            )
        with tr.span("sinks.kv_upsert_parquet") as sp:
            before = _table_files(sinks.kv)
            kv_upsert_parquet(
                records.select(*RECORD_COLS, "fetch_seq", "month"), sinks.kv,
                key_cols=["post_id", "date"], order_cols=["fetch_seq"], partition_by=["month"],
            )
            if sp is not None:
                after = _table_files(sinks.kv)
                sp.extra["bytes_written"] = float(sum(b for i, b in after.items() if i not in before))
                sp.extra["files"] = float(len(after))
        return n

    def _force_stages(self, warm_path: str) -> None:
        """Traced runs only, after the backfill: force each lazy stage's
        output prefix with a noop sink, first untraced over the warm-up
        posts (which compiles each prefix's plan), then traced over the
        backfill posts. A stage's self time is its prefix time minus the
        previous prefix time (run.py takes the differences)."""
        from weightlifting_wod_etl_spark.operators.clean import DEFAULT_RENAME, clean_records
        from weightlifting_wod_etl_spark.operators.dedup import exact_dedup
        from weightlifting_wod_etl_spark.plans import wod_pipeline as wp

        tr = self.tracer
        for traced, path in ((False, warm_path), (True, self.backfill)):
            tr.enabled = traced
            posts = self.spark.read.parquet(path)
            with tr.span(PIPELINE_STAGES[0]):
                deduped = exact_dedup(posts, key_cols=["post_id"], order_cols=[F.col("html").asc_nulls_last()])
                _noop(deduped)
            with tr.span(PIPELINE_STAGES[1]):
                stripped = wp.strip_posts(deduped)
                _noop(stripped)
            with tr.span(PIPELINE_STAGES[2]):
                segmented = wp.sessionize_post_text(stripped)
                _noop(segmented)
            with tr.span(PIPELINE_STAGES[3]):
                _noop(clean_records(wp.segments_to_records(segmented, stripped), rename_map=DEFAULT_RENAME))

    def _batch(self, posts: list, path: str, seq: int):
        """One checked batch; returns (seconds, steal share), or None if
        it failed."""
        sinks = self.sinks
        offered = {r for p in posts for r in p.records()}
        ticks = cpu_ticks()
        with self.tracer.span("wod_ingest.batch"):
            n, s = self.op(self._ingest, sinks, path, seq)
        if n is None:
            return None
        steal = steal_share(ticks, cpu_ticks())
        expect = len(offered - sinks.written)
        sinks.written |= offered
        self.jsonl_offered += len(offered)
        self.jsonl_written += n
        if n != expect:
            self.fail(f"batch {seq}: JSONL rows written {n}, expected {expect}")
        return s, steal

    def _warm_stream(self, i: int) -> str:
        """One untimed warm-up stream: a small backfill, then trickle
        batches, into scratch sinks. Returns its backfill posts' path."""
        plan = gen.IngestPlan(self.ctx.seed, 10, self.BATCH_POSTS, stream=f"warm-up-{i}")
        sinks = Sinks(os.path.join(self.work, f"warm{i}"))
        path = os.path.join(self.posts_dir, f"warm{i}-00000.parquet")
        gen.write_posts(plan.backfill, path)
        self._ingest(sinks, path, 0)
        for seq in range(1, self.WARMUP_BATCHES + 1):
            batch_path = os.path.join(self.posts_dir, f"warm{i}-{seq:05d}.parquet")
            gen.write_posts(plan.next_batch(), batch_path)
            self._ingest(sinks, batch_path, seq)
        return path

    def warm_up(self) -> str:
        """Untimed: the warm-up streams, so the measured backfill and
        trickle run compiled code (a scheduled deployment keeps its
        session warm between runs). Returns one stream's posts' path."""
        t0 = time.perf_counter()
        with ThreadPoolExecutor(self.WARMUP_STREAMS) as pool:
            paths = list(pool.map(self._warm_stream, range(self.WARMUP_STREAMS)))
        self.ctx.log(
            f"warm-up: {self.WARMUP_STREAMS} streams of {self.WARMUP_BATCHES + 1} batches"
            f" in {time.perf_counter() - t0:.1f} s"
        )
        return paths[0]

    def _trickle(self, seq: int):
        batch = self.plan.next_batch()
        path = os.path.join(self.posts_dir, f"trickle-{seq:05d}.parquet")
        gen.write_posts(batch, path)
        return self._batch(batch, path, seq)

    def run(self, deadline: float):
        start = time.perf_counter()
        self.tracer.enabled = False
        warm_path = self.warm_up()
        self.ctx.window_started()
        self.trace_if(True)
        # the offered records are those of the winning post per id
        done = self._batch(list(self.plan.current.values()), self.backfill, 0)
        if done is not None:
            self.bulk_s.append(done[0])
        if self.ctx.trace:
            self._force_stages(warm_path)
        self.trace_if(False)
        for seq in range(1, self.FIRST_BATCHES + 1):
            self._trickle(seq)
        # the trickle gets the whole window, however long the backfill took
        deadline += time.perf_counter() - start
        while time.perf_counter() < deadline or len(self.op_s) < 3:
            seq += 1
            traced = self.trace_if(seq % 2 == 0)
            done = self._trickle(seq)
            if done is not None:
                s, steal = done
                self.sample(s, traced, steal)
        self.inputs["trickle_batches"] = seq

    def check(self):
        from weightlifting_wod_etl_spark.io import read_table

        with self.tracer.span("io.read_table"):
            kv = [tuple(row) for row in read_table(self.spark, self.sinks.kv).select(*RECORD_COLS).collect()]
        expected = [rec for p in self.plan.current.values() for rec in p.records()]
        self.fail("final KV table vs the generator's plan", checks.row_diff(expected, kv))
        self.fail(
            "JSONL contents vs records offered",
            checks.row_diff(self.sinks.written, checks.read_jsonl_records(self.sinks.jsonl)),
        )
        self.layer["sinks.write_jsonl_idempotent.rows_written_ratio"] = self.jsonl_written / max(1, self.jsonl_offered)


def _table_files(path: str) -> dict[int, int]:
    from weightlifting_wod_etl_spark.operators.versioned import resolve, table_exists

    return files_by_inode(resolve(path)) if table_exists(path) else {}


# ------------------------------------------------------------ cdc_stream


class CdcStream(Workload):
    """Change batches through ``streaming.cdc_apply.make_cdc_apply`` into
    a versioned table clustered on ``k`` with a footer-stats index.
    Three batches in four touch one hot key range (a file-targeted
    merge), one in four is spread uniformly (a near-full rewrite);
    ``compact_parquet`` re-clusters the table every second batch. The
    first two batches and the first compaction are an untimed warm-up;
    they are checked like the others."""

    N_KEYS = 150_000
    BATCH_ROWS = 2000
    HOT_KEYS = 3000
    N_FILES = 12
    COMPACT_EVERY = 2
    WARMUP_BATCHES = 2
    MIN_BATCHES = 6  # so every run measures a uniform batch and two compactions

    def setup(self):
        from weightlifting_wod_etl_spark.operators.skipping import save_stats_index

        self.table = gen.cdc_base(self.ctx.seed, self.N_KEYS)
        self.path = os.path.join(self.work, "orders_cdc")
        # clustered on k: N_FILES files of consecutive keys, indexed by
        # the program's footer-stats index (what file-targeted merges prune on)
        rows = sorted(checks.table_rows(self.table))
        os.makedirs(self.path)
        per_file = -(-len(rows) // self.N_FILES)
        for i in range(self.N_FILES):
            gen.write_rows(rows[i * per_file:(i + 1) * per_file], gen.TABLE_SCHEMA, os.path.join(self.path, f"part-{i:05d}.parquet"))
        save_stats_index(self.path, ["k"])
        self.target_bytes = sum(files_by_inode(self.path).values()) // self.N_FILES + 1
        self.batch_dir = os.path.join(self.work, "changes")
        os.makedirs(self.batch_dir)
        self.inputs = {
            "table_keys": len(self.table), "change_rows_per_batch": self.BATCH_ROWS,
            "hot_key_range": 2 * self.HOT_KEYS, "key_range": 2 * self.N_KEYS,
        }
        self.changes = 0
        self.bytes_committed = 0
        self.merge_calls: list[dict] = []
        self.hot: list[bool] = []  # per latency sample: a hot-range batch

    def overhead_samples(self):
        """Hot batches only: every uniform batch runs traced."""
        traced, untraced = [], []
        for s, t, hot in zip(self.op_s, self.op_traced, self.hot):
            if hot:
                (traced if t else untraced).append(s)
        return traced, untraced

    def _apply(self, apply_batch, path: str, b: int):
        with self.tracer.span("streaming.cdc_apply.apply_batch"):
            apply_batch(self.spark.read.parquet(path), b)

    def _compact(self) -> int:
        """Re-cluster the table; returns the data bytes the commit wrote."""
        from weightlifting_wod_etl_spark.operators.compact import compact_parquet
        from weightlifting_wod_etl_spark.operators.versioned import resolve

        with self.tracer.span("operators.compact.compact_parquet") as sp:
            before = files_by_inode(resolve(self.path))
            compact_parquet(self.spark, self.path, target_file_bytes=self.target_bytes, sort_by=["k"])
            after = files_by_inode(resolve(self.path))
            written = sum(v for i, v in after.items() if i not in before)
            if sp is not None:
                sp.extra["bytes_rewritten"] = float(written)
                sp.extra["files"] = float(len(after))
        return written

    def run(self, deadline: float):
        from weightlifting_wod_etl_spark.operators import merge
        from weightlifting_wod_etl_spark.operators.versioned import resolve
        from weightlifting_wod_etl_spark.streaming import cdc_apply

        calls = self.merge_calls

        def traced_merge(*args, **kwargs):
            # wraps merge_into from outside to keep its returned stats
            with self.tracer.span("operators.merge.merge_into") as sp:
                stats = merge.merge_into(*args, **kwargs)
                if sp is not None:
                    sp.extra["files_rewritten"] = float(stats["files_rewritten"])
                    sp.extra["files_carried"] = float(stats["files_carried"])
            calls.append(stats)
            return stats

        cdc_apply.merge_into = traced_merge
        try:
            apply_batch = cdc_apply.make_cdc_apply(self.path, on=["k"], seq_col="seq", op_col="op")
            start = time.perf_counter()
            b = 0
            while b < self.MIN_BATCHES or time.perf_counter() < deadline:
                rows = gen.cdc_batch(self.ctx.seed, b, self.N_KEYS, self.BATCH_ROWS, self.HOT_KEYS)
                path = os.path.join(self.batch_dir, f"batch-{b:05d}.parquet")
                gen.write_rows(rows, gen.CDC_SCHEMA, path)
                before = files_by_inode(resolve(self.path))
                n_calls = len(calls)
                # every uniform batch and every other hot one traced
                traced = self.trace_if(b % 2 == 0)
                _, s = self.op(self._apply, apply_batch, path, b)
                self._after_commit(before, rows, n_calls, b)
                if b >= self.WARMUP_BATCHES and s is not None:
                    self.sample(s, traced)
                    self.hot.append(b % 4 != 0)
                b += 1
                if b % self.COMPACT_EVERY == 0:
                    self.trace_if(True)
                    written, s = self.op(self._compact)
                    if written is not None:
                        self.bytes_committed += written
                        if b > self.WARMUP_BATCHES:
                            self.bulk_s.append(s)
                if b == self.WARMUP_BATCHES:
                    # untimed warm-up done (a uniform batch, a hot batch and
                    # a compaction): the window starts now
                    deadline += time.perf_counter() - start
                    self.ctx.window_started()
            self.inputs["batches"] = b
        finally:
            cdc_apply.merge_into = merge.merge_into

    def _after_commit(self, before: dict, rows: list, n_calls: int, b: int) -> None:
        """Replay the batch by brute force and check merge_into's stats
        against the recount; count the data bytes the commit wrote."""
        from weightlifting_wod_etl_spark.operators.versioned import resolve

        after = files_by_inode(resolve(self.path))
        self.bytes_committed += sum(v for i, v in after.items() if i not in before)
        self.changes += len(rows)
        expect = checks.cdc_replay(self.table, rows)
        got = self.merge_calls[n_calls:]
        if len(got) != 1:
            self.fail(f"batch {b}: {len(got)} merge_into calls, expected 1")
            return
        stats = got[0]
        bad = {k: (stats.get(k), v) for k, v in expect.items() if stats.get(k) != v}
        if stats.get("dup_target_rows_collapsed"):
            bad["dup_target_rows_collapsed"] = (stats["dup_target_rows_collapsed"], 0)
        if stats["files_rewritten"] + stats["files_carried"] != len(after):
            bad["files"] = (stats["files_rewritten"] + stats["files_carried"], len(after))
        self.fail(f"batch {b}: merge stats vs recount {bad}", len(bad))

    def check(self):
        from weightlifting_wod_etl_spark.io import read_table

        with self.tracer.span("io.read_table"):
            got = [tuple(r) for r in read_table(self.spark, self.path).select(*gen.TABLE_COLS).collect()]
        self.fail("final table vs last-by-seq replay", checks.row_diff(checks.table_rows(self.table), got))
        self.layer["streaming.cdc_apply.apply_batch.write_bytes_per_change"] = self.bytes_committed / max(1, self.changes)


# ----------------------------------------------------------- query_sweep

# One of bench.py's HEADLINE queries from each of twelve registering
# modules, so three passes fit one run. Where a module has a query that
# an open ROADMAP lead names (q_tpch_q1, q_percentile, q_group_concat)
# that one is used. No query here checkpoints part of its frame (bench.py's
# COLD_ADJUDICATED set): the oracle collect would fill the checkpoint, and
# the timed passes would skip that work. q_mad_anomaly is such a query,
# so events_analytics is represented by q_event_gap_stats. q_wod_pipeline
# and q_cdc_apply have their own workloads.
SWEEP = (
    "q_tpch_q1", "q_percentile", "q_sessionize_events", "q_date_extract",
    "q_event_gap_stats", "q_range_join", "q_simhash", "q_count_distinct",
    "q_hll_union", "q_tfidf_topk", "q_group_concat", "q_tpch_q16",
)
SWEEP_SF = 0.01
# the first pass is not used, so per-query medians are over at least four
MIN_PASSES = 5


def query_modules() -> dict[str, str]:
    """Registered query name -> the queries.<module> that registered it."""
    from weightlifting_wod_etl_spark import queries, queries_registry

    by_fn = {}
    for m in pkgutil.iter_modules(queries.__path__):
        mod = importlib.import_module(f"{queries.__name__}.{m.name}")
        for obj in vars(mod).values():
            if callable(obj) and getattr(obj, "__module__", None) == mod.__name__:
                by_fn[obj.__name__] = f"queries.{m.name}"
    return {q: by_fn[fn.__name__] for q, fn in queries_registry.QUERIES.items()}


class QuerySweep(Workload):
    """Read-only analytics: registered queries over generated star-schema
    tables. Each frame is built once, then every pass runs each query to
    a noop sink; a query's latency is its median over the passes."""

    def setup(self):
        self.sf_dir = os.path.join(self.work, "star")
        self.inputs = {f"{k}_rows": v for k, v in gen.write_star(self.ctx.seed, SWEEP_SF, self.sf_dir).items()}
        self.inputs["queries"] = len(SWEEP)

    def run(self, deadline: float):
        from weightlifting_wod_etl_spark.io import load_tables

        with self.tracer.span("io.load_tables"):
            load_tables(self.spark, self.sf_dir)
        self.module = query_modules()
        t0 = time.perf_counter()
        # Untimed warm-up, four queries at a time: build each frame
        # (analysis and any eager work), then collect its result for the
        # oracle check, which also compiles the query's generated code.
        self.tracer.enabled = False
        with ThreadPoolExecutor(4) as pool:
            built = dict(zip(SWEEP, pool.map(self._build, SWEEP)))
            self.frames = {q: df for q, df in built.items() if df is not None}
            self.digests = dict(zip(self.frames, pool.map(self._collect, self.frames.values())))
        self.ctx.log(f"frames built and results collected in {time.perf_counter() - t0:.1f} s")
        self.ctx.window_started()
        self.samples = {q: [] for q in self.frames}
        self.passes: list[bool] = []  # traced flag per pass
        while len(self.passes) < MIN_PASSES or time.perf_counter() < deadline:
            # in a traced run every other pass is traced
            traced = self.trace_if(len(self.passes) % 2 == 1)
            for q in self.samples:
                with self.tracer.span(self.module[q]):
                    _, s = self.op(_noop, self.frames[q])
                self.samples[q].append(s)
            self.passes.append(traced)
            self.ctx.log(f"pass {len(self.passes)} done at {time.perf_counter() - t0:.1f} s")
        self.inputs["passes"] = len(self.passes)
        # the first pass is the first noop execution of each query: unused
        self.op_s = sorted(self._medians(lambda i: i > 0).values())
        self.bulk_s = [sum(self.op_s)]
        if self.ctx.trace:
            self._profile_write_path()

    def _profile_write_path(self) -> None:
        """Traced runs only: stream CDC batches into a clustered table as
        cdc_stream does, so the write-path layers (cdc_apply, merge,
        skipping, compact) are profiled in this workload's traced run.
        The batches are checked like any others."""
        cdc = CdcStream(self.ctx)
        cdc.work = os.path.join(self.work, "cdc")
        os.makedirs(cdc.work)
        cdc.setup()
        cdc.run(time.perf_counter())  # its minimum batch count
        cdc.check()
        self.attempted += cdc.attempted
        self.failed += cdc.failed
        self.layer.update(cdc.layer)

    def _build(self, q: str):
        from weightlifting_wod_etl_spark import queries_registry

        df, _ = self.op(queries_registry.QUERIES[q], self.spark, self.sf_dir)
        return df

    def _collect(self, df):
        try:
            return checks.result_digest(df.columns, df.collect())
        except Exception as e:
            self.ctx.log(f"collect failed: {type(e).__name__}: {e}")
            return None

    def _medians(self, use) -> dict[str, float]:
        out = {}
        for q, v in self.samples.items():
            vals = [s for i, s in enumerate(v) if use(i) and s is not None]
            if vals:
                out[q] = statistics.median(vals)
        return out

    def overhead_samples(self):
        if not self.ctx.trace:
            return [], []
        traced = self._medians(lambda i: self.passes[i])
        untraced = self._medians(lambda i: i > 0 and not self.passes[i])
        both = traced.keys() & untraced.keys()
        return [sum(traced[q] for q in both)], [sum(untraced[q] for q in both)]

    def check(self):
        import duckdb

        from weightlifting_wod_etl_spark import queries_registry
        from weightlifting_wod_etl_spark.io import TABLES, table_path

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(self.sf_dir, t)}')")
            for q, got in self.digests.items():
                if got is None:
                    self.fail(f"{q}: result not collected")
                    continue
                cur = con.execute(queries_registry.ORACLES[q])
                want = checks.result_digest([c[0] for c in cur.description], cur.fetchall())
                if got != want:
                    self.fail(f"{q}: {got[0]} rows vs oracle {want[0]}")
        finally:
            con.close()


WORKLOADS = {"wod_ingest": WodIngest, "cdc_stream": CdcStream, "query_sweep": QuerySweep}
