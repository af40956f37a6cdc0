"""Streaming sessionization tests: file-source micro-batches → memory sink,
cross-checked against the batch plan on the same data."""

from __future__ import annotations

from tests.conftest import SF_SMOKE

import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def stream_dirs(spark):
    """Split sf0.001 events into two parquet files (two micro-batches)."""
    from weightlifting_wod_etl_spark.io import load_table

    # load_table normalizes whatever physical ts encoding the testdata
    # generation shipped (ns-as-bigint, NTZ micros, tz-aware micros).
    src = load_table(spark, SF_SMOKE, "events")
    tmp = tempfile.mkdtemp(prefix="wod_stream_")
    in_dir = os.path.join(tmp, "in")
    ckpt = os.path.join(tmp, "ckpt")
    half = src.count() // 2
    a = src.orderBy("ts").limit(half)
    b = src.orderBy("ts").subtract(a)
    a.coalesce(1).write.parquet(os.path.join(in_dir, "batch_a"))
    b.coalesce(1).write.parquet(os.path.join(in_dir, "batch_b"))
    yield src, in_dir, ckpt
    shutil.rmtree(tmp, ignore_errors=True)


def _run_stream(spark, df, ckpt, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(300)
    # A still-running query here means a partially-written sink: the
    # tolerance-based assertions below could pass on partial data, so a
    # hang must fail loudly instead of shipping as a flaky mismatch.
    assert finished, f"stream {name} still running after 300s"
    assert q.exception() is None, q.exception()
    return spark.table(name)


def test_session_window_stream_matches_batch(spark, stream_dirs):
    from weightlifting_wod_etl_spark.streaming.sessions import session_window_agg

    src, in_dir, ckpt = stream_dirs
    schema = src.schema
    stream = spark.readStream.schema(schema).option("recursiveFileLookup", "true").parquet(in_dir)
    got = _run_stream(
        spark, session_window_agg(stream, watermark="1 minute"), ckpt + "_sw", "sw_out"
    ).collect()
    batch = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.sum_value)
        for r in session_window_agg(src).collect()
    }
    assert len(got) > 0, "stream emitted nothing — watermark never advanced"
    for r in got:  # every emitted session must be exactly a batch session
        key = (r.user_id, r.session_start, r.session_end)
        assert key in batch, f"streamed session {key} not in batch result"
        assert batch[key] == (r.n_events, r.sum_value)
    # availableNow leaves only post-watermark sessions unemitted
    assert len(got) >= len(batch) * 0.5


def test_stateful_sessionizer_stream(spark, stream_dirs):
    from weightlifting_wod_etl_spark.operators.sessionize import gap_sessionize
    from weightlifting_wod_etl_spark.streaming.sessions import stateful_gap_sessionize

    src, in_dir, ckpt = stream_dirs
    stream = spark.readStream.schema(src.schema).option("recursiveFileLookup", "true").parquet(in_dir)
    got = _run_stream(
        spark, stateful_gap_sessionize(stream), ckpt + "_state", "state_out"
    ).collect()
    # batch truth: gap sessions per user (closed ones only get emitted)
    batch_df = gap_sessionize(
        src.select("user_id", "ts", "value"),
        ts_col="ts",
        partition_cols=["user_id"],
        gap_seconds=1800,
        tiebreak_cols=["value"],
    )
    batch = {
        (r.user_id, r.session_start): (r.n_events, float(r.sum_value))
        for r in batch_df.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    }
    assert len(got) > 0
    matched = 0
    for r in got:
        key = (r.user_id, r.session_start)
        if key in batch:
            assert batch[key][0] == r.n_events
            # both sides round to 2dp; allow one ulp of the last digit
            # for accumulation-order drift at a rounding knife-edge
            assert abs(batch[key][1] - float(r.sum_value)) < 0.015, (
                key,
                batch[key],
                r.sum_value,
            )
            matched += 1
    assert matched >= len(got) * 0.9


def test_stream_dedup_within_watermark(spark, stream_dirs):
    """Replayed keys across micro-batches are suppressed exactly once."""
    import os

    from weightlifting_wod_etl_spark.streaming.dedup import dedup_stream

    src, in_dir, ckpt = stream_dirs
    # build a replayed input: batch_a ∪ (batch_a sample ∪ batch_b) — the
    # sample rows arrive twice, in different micro-batches
    tmp = ckpt + "_dedup_in"
    a = spark.read.parquet(os.path.join(in_dir, "batch_a"))
    b = spark.read.parquet(os.path.join(in_dir, "batch_b"))
    replay = a.orderBy("event_id").limit(50)
    a.coalesce(1).write.parquet(os.path.join(tmp, "m1"))
    replay.unionByName(b).coalesce(1).write.parquet(os.path.join(tmp, "m2"))

    stream = (
        spark.readStream.schema(src.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(tmp)
    )
    got = _run_stream(
        spark, dedup_stream(stream, keys=["event_id"]), ckpt + "_dedup", "dedup_out"
    )
    ids = [r.event_id for r in got.select("event_id").collect()]
    assert len(ids) == len(set(ids)), "stream emitted duplicate keys"
    assert set(ids) == {r.event_id for r in src.collect()}, "lost or invented keys"


def test_foreach_batch_twin_sink_exactly_once(spark, stream_dirs):
    """OP20 streaming flavor: one cached micro-batch fans to parquet + JSONL;
    a re-run over the same checkpoint produces zero duplicates."""
    import glob

    from weightlifting_wod_etl_spark.streaming.twin_sink import make_twin_sink

    src, in_dir, _ = stream_dirs
    tmp = tempfile.mkdtemp(prefix="wod_twin_")
    pq_dir = os.path.join(tmp, "pq")
    js_dir = os.path.join(tmp, "js")
    ledger = os.path.join(tmp, "ledger")
    metrics = os.path.join(tmp, "metrics")
    ckpt = os.path.join(tmp, "ckpt")
    expected = src.count()

    def run():
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir + "/*")
            .select("event_id", "user_id", "event_type", "ts", "value")
        )
        q = (
            stream.writeStream.foreachBatch(
                make_twin_sink(
                    pq_dir, js_dir, ledger,
                    metrics_dir=metrics,
                    required_cols=["user_id", "event_type"],
                    measure="value",
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run()
    pq_rows = spark.read.parquet(pq_dir + "/batch_id=*").count()
    js_rows = spark.read.json(js_dir + "/batch_id=*").count()
    assert pq_rows == expected
    assert js_rows == expected
    assert len(glob.glob(os.path.join(ledger, "*.done"))) >= 2  # >=2 batches

    # Observation counters: one metrics file per batch, computed by the
    # write tasks themselves (no extra scan); counts sum to the input
    import json as _json

    metric_files = sorted(glob.glob(os.path.join(metrics, "batch-*.json")))
    assert len(metric_files) == len(glob.glob(os.path.join(ledger, "*.done")))
    per_batch = [_json.load(open(f)) for f in metric_files]
    for m in per_batch:
        assert {"batch_id", "n_rows", "null_user_id", "null_event_type",
                "sum_value_cents"} <= set(m)
    assert sum(m["n_rows"] for m in per_batch) == expected

    run()  # replay with the same checkpoint: availableNow sees nothing new
    assert spark.read.parquet(pq_dir + "/batch_id=*").count() == expected
    assert spark.read.json(js_dir + "/batch_id=*").count() == expected
    shutil.rmtree(tmp, ignore_errors=True)


def test_stateless_curation_ops_run_in_streaming_mode(spark):
    """The scan-local curation projections (PII redaction, repetition
    score) must be streamable unchanged: same plan on readStream, output
    equal to the batch run over the same files."""
    import pandas as pd  # noqa: F401  (parity of imports with module head)

    from weightlifting_wod_etl_spark.io import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    tmp = tempfile.mkdtemp(prefix="wod_curation_stream_")
    in_dir = os.path.join(tmp, "in")
    docs.coalesce(2).write.parquet(in_dir)

    def redact(df):
        t = F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@example.com"),
        )
        red = F.regexp_replace(
            t, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
        )
        return df.select("doc_id", F.md5(red).alias("redacted_md5"))

    stream = spark.readStream.schema(docs.schema).parquet(in_dir)
    got = _run_stream(
        spark, redact(stream), os.path.join(tmp, "ckpt"), "curation_out"
    ).collect()
    want = {r.doc_id: r.redacted_md5 for r in redact(docs).collect()}
    assert len(got) == len(want)
    for r in got:
        assert want[r.doc_id] == r.redacted_md5
    shutil.rmtree(tmp, ignore_errors=True)


def test_completion_notification_listener(spark, stream_dirs):
    """OP22: the notification listener records started → progress →
    terminated for a pipeline run, with row counts covering the input."""
    import json as _json

    from weightlifting_wod_etl_spark.streaming.notify import notify_on_completion

    src, in_dir, ckpt = stream_dirs
    tmp = tempfile.mkdtemp(prefix="wod_notify_")
    log = os.path.join(tmp, "notifications.jsonl")
    listener = notify_on_completion(spark, log)
    try:
        stream = (
            spark.readStream.schema(src.schema)
            .option("recursiveFileLookup", "true")
            .parquet(in_dir)
            .select("event_id")
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("notify_out")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        deadline = time.time() + 30
        events = []
        while time.time() < deadline:
            if os.path.exists(log):
                events = [_json.loads(l) for l in open(log)]
                if any(e["event"] == "terminated" for e in events):
                    break
            time.sleep(0.5)
        kinds = {e["event"] for e in events}
        assert {"started", "progress", "terminated"} <= kinds, kinds
        rows = sum(
            e.get("num_input_rows", 0) for e in events if e["event"] == "progress"
        )
        assert rows == src.count()
        terminated = [e for e in events if e["event"] == "terminated"]
        assert terminated[-1]["exception"] is None
    finally:
        spark.streams.removeListener(listener)
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_stream_interval_join_matches_batch(spark, stream_dirs):
    """Stream-stream event-time interval join (purchase within 1 hour of a
    click by the same user): the streamed inner join must emit exactly the
    batch join's pairs. Watermark is set beyond the data's span so no
    state is evicted mid-test; the time-range bound is still what lets the
    planner accept the stream-stream join at all."""
    from weightlifting_wod_etl_spark.streaming.joins import interval_join

    src, in_dir, ckpt = stream_dirs

    def split(df):
        clicks = df.filter("event_type = 'click'").select(
            "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
        )
        buys = df.filter("event_type = 'purchase'").select(
            "user_id", F.col("ts").alias("buy_ts"), F.col("event_id").alias("buy_id")
        )
        return clicks, buys

    stream = (
        spark.readStream.schema(src.schema)
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )
    s_clicks, s_buys = split(stream)
    joined = interval_join(
        s_clicks, s_buys, "user_id", "click_ts", "buy_ts",
        max_delay="1 hour", watermark="365 days",
    ).select("user_id", "click_id", "buy_id")
    got = {
        (r.user_id, r.click_id, r.buy_id)
        for r in _run_stream(spark, joined, ckpt + "_ssj", "ssj_out").collect()
    }

    b_clicks, b_buys = split(src)
    want = {
        (r.user_id, r.click_id, r.buy_id)
        for r in interval_join(
            b_clicks, b_buys, "user_id", "click_ts", "buy_ts", max_delay="1 hour"
        ).select("user_id", "click_id", "buy_id").collect()
    }
    assert len(want) > 0, "fixture produced no click→purchase pairs"
    assert got == want


def test_cdc_apply_stream_materializes_merge_table(spark, tmp_path):
    """Change stream (inserts/updates/deletes with per-key sequence) applied
    via MERGE per micro-batch: the materialized table equals the net effect
    of the changes in sequence order."""
    from weightlifting_wod_etl_spark.io import read_table
    from weightlifting_wod_etl_spark.streaming.cdc_apply import make_cdc_apply

    schema = "k long, v string, op string, seq long"
    m1 = spark.createDataFrame(
        [(1, "a1", "I", 1), (2, "b1", "I", 2), (3, "c1", "I", 3)], schema
    )
    m2 = spark.createDataFrame(
        [
            (1, "a2", "U", 4),      # update k=1
            (2, None, "D", 5),      # delete k=2
            (4, "d1", "I", 6),      # insert k=4
            (4, "d2", "U", 7),      # ...updated within the same batch
        ],
        schema,
    )
    in_dir = str(tmp_path / "cdc_in")
    m1.coalesce(1).write.parquet(in_dir + "/m1")
    m2.coalesce(1).write.parquet(in_dir + "/m2")

    target = str(tmp_path / "cdc_table")
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            make_cdc_apply(target, on=["k"], seq_col="seq")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {r.k: r.v for r in read_table(spark, target).collect()}
    assert got == {1: "a2", 3: "c1", 4: "d2"}
    # replay idempotence: re-applying the collapsed second batch is a no-op
    make_cdc_apply(target, on=["k"], seq_col="seq")(m2, 99)
    assert {r.k: r.v for r in read_table(spark, target).collect()} == got


def test_stream_static_join_enriches_each_batch(spark, stream_dirs):
    """Stream-static join: every micro-batch joins against a static dim
    (no watermark, no state) — the per-batch enrichment pattern. Result
    must equal the batch join."""
    src, in_dir, ckpt = stream_dirs
    dim = spark.createDataFrame(
        [(t, t[0].upper()) for t in
         ["click", "view", "purchase", "signup", "error"]],
        ["event_type", "segment"],
    )
    stream = (
        spark.readStream.schema(src.schema)
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
        .join(dim, "event_type")  # static side: plain batch frame
        .select("event_id", "segment")
    )
    got = {
        (r.event_id, r.segment)
        for r in _run_stream(spark, stream, ckpt + "_ss", "ss_out").collect()
    }
    want = {
        (r.event_id, r.segment)
        for r in src.join(dim, "event_type").select("event_id", "segment").collect()
    }
    assert got == want and len(got) > 0


def test_stream_stream_interval_join_left_outer_emits_unmatched(
    spark, stream_dirs
):
    """LEFT OUTER stream-stream interval join: matched pairs equal the
    batch inner join; a click with no purchase inside its hour emits with
    a null partner once the watermark passes click_ts + max_delay. The
    final watermark stops short of the stream tail, so emitted unmatched
    rows are a subset of the batch truth — but must cover most of it."""
    from weightlifting_wod_etl_spark.streaming.joins import interval_join

    src, in_dir, ckpt = stream_dirs

    def split(df):
        clicks = df.filter("event_type = 'click'").select(
            "user_id", F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        buys = df.filter("event_type = 'purchase'").select(
            "user_id", F.col("ts").alias("buy_ts"),
            F.col("event_id").alias("buy_id"),
        )
        return clicks, buys

    stream = (
        spark.readStream.schema(src.schema)
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )
    s_clicks, s_buys = split(stream)
    joined = interval_join(
        s_clicks, s_buys, "user_id", "click_ts", "buy_ts",
        max_delay="1 hour", watermark="1 minute", how="left_outer",
    ).select("click_id", "buy_id")
    got = _run_stream(spark, joined, ckpt + "_ssjo", "ssjo_out").collect()
    got_matched = {(r.click_id, r.buy_id) for r in got if r.buy_id is not None}
    got_unmatched = {r.click_id for r in got if r.buy_id is None}

    b_clicks, b_buys = split(src)
    want_matched = {
        (r.click_id, r.buy_id)
        for r in interval_join(
            b_clicks, b_buys, "user_id", "click_ts", "buy_ts",
            max_delay="1 hour",
        ).select("click_id", "buy_id").collect()
    }
    all_clicks = {r.click_id for r in b_clicks.collect()}
    want_unmatched = all_clicks - {c for c, _ in want_matched}

    assert got_matched == want_matched and len(want_matched) > 0
    assert got_unmatched <= want_unmatched
    assert len(got_unmatched) >= 0.8 * len(want_unmatched) > 0
    # no click may appear both matched and null-partnered
    assert not ({c for c, _ in got_matched} & got_unmatched)


def test_cdc_batch_collapse_seq_tie_is_deterministic_and_replay_safe(
    spark, tmp_path
):
    """Review r10: collapsing by seq alone picked a partition-order winner
    on sequence ties, so a replay could apply a DIFFERENT change than the
    first delivery — breaking the documented replay idempotence. The
    collapse now uses a total order (seq, then every remaining column)."""
    from weightlifting_wod_etl_spark.io import read_table
    from weightlifting_wod_etl_spark.streaming.cdc_apply import make_cdc_apply

    target = str(tmp_path / "tie")
    spark.createDataFrame([(1, "base")], "k long, payload string").write.parquet(
        target
    )
    # two changes for k=1 at the SAME sequence value, shuffled across
    # partitions: the total order must pick one winner stably
    batch = spark.createDataFrame(
        [(1, "U", 5, "aaa"), (1, "U", 5, "zzz")],
        "k long, op string, seq long, payload string",
    ).repartition(4)
    apply = make_cdc_apply(target, on=["k"], seq_col="seq")
    apply(batch, 0)
    first = read_table(spark, target).collect()[0].payload
    assert first == "zzz"  # max by the (seq, op, payload) total order
    apply(batch, 1)  # at-least-once replay of the same batch
    again = [r.payload for r in read_table(spark, target).collect()]
    assert again == ["zzz"]  # same winner, no duplicate


def test_cdc_null_op_row_is_an_upsert_not_silently_dropped(spark, tmp_path):
    """Review r10: op = NULL failed BOTH branch filters (== and != each
    evaluate NULL) and the change vanished. Non-delete — including
    null/unknown op — must apply as an upsert."""
    from weightlifting_wod_etl_spark.io import read_table
    from weightlifting_wod_etl_spark.streaming.cdc_apply import make_cdc_apply

    target = str(tmp_path / "nullop")
    spark.createDataFrame([(1, "old")], "k long, payload string").write.parquet(
        target
    )
    batch = spark.createDataFrame(
        [(1, None, 1, "new"), (2, None, 1, "ins")],
        "k long, op string, seq long, payload string",
    )
    make_cdc_apply(target, on=["k"], seq_col="seq")(batch, 0)
    got = {r.k: r.payload for r in read_table(spark, target).collect()}
    assert got == {1: "new", 2: "ins"}


def test_cdc_null_sequence_loses_to_numbered_change(spark, tmp_path):
    """r11 dirty-parity class: out-of-order duplicates with NULL sequence
    numbers. seq.desc() is NULLS LAST in Spark, so a NULL-seq change must
    lose the in-batch collapse to ANY numbered change for the same key;
    two NULL-seq changes for one key pick a stable winner via the
    full-column tie-break (replay-idempotent); a key whose only change
    has NULL seq still applies."""
    from weightlifting_wod_etl_spark.io import read_table
    from weightlifting_wod_etl_spark.streaming.cdc_apply import make_cdc_apply

    target = str(tmp_path / "nullseq")
    spark.createDataFrame(
        [(1, "base1"), (2, "base2")], "k long, payload string"
    ).write.parquet(target)
    batch = spark.createDataFrame(
        [
            (1, "U", None, "null_seq_loser"),
            (1, "U", 1, "numbered_winner"),
            (2, "U", None, "aaa"),  # two NULL-seq changes: tiebreak
            (2, "U", None, "zzz"),  # picks the column-order max
            (3, "U", None, "only_change"),
        ],
        "k long, op string, seq long, payload string",
    ).repartition(4)
    apply = make_cdc_apply(target, on=["k"], seq_col="seq")
    apply(batch, 0)
    got = {r.k: r.payload for r in read_table(spark, target).collect()}
    assert got == {1: "numbered_winner", 2: "zzz", 3: "only_change"}
    apply(batch, 1)  # at-least-once replay converges
    again = {r.k: r.payload for r in read_table(spark, target).collect()}
    assert again == got


def _sweep_batch(open_session, hours, values, gap_seconds=1800):
    """One micro-batch through the shared gap-merge sweep, the way
    ``stateful_gap_sessionize`` drives it: every merged session but the
    last is emitted, the last is the new open-session state. Sessions are
    ``(start_us, last_us, n, total_cents)``; ``hours`` are offsets from
    2024-01-01."""
    import pandas as pd

    from weightlifting_wod_etl_spark.streaming.sessions import _gap_merge_sweep

    sweep = _gap_merge_sweep(gap_seconds * 1_000_000)
    ts = [pd.Timestamp("2024-01-01") + pd.Timedelta(hours=h) for h in hours]
    merged = sweep(iter([pd.DataFrame({"ts": ts, "value": values})]), open_session)
    return [tuple(m) for m in merged[:-1]], tuple(merged[-1])


def _us(h):
    """µs since epoch of 2024-01-01 + ``h`` hours."""
    import pandas as pd

    return int((pd.Timestamp("2024-01-01") + pd.Timedelta(hours=h)).value) // 1000


def test_tws_processor_late_event_never_regresses_open_session():
    """Review r10: a late-but-in-watermark event used to set last_us
    backwards unconditionally — emitting inverted sessions (end < start).
    Late events now extend-or-singleton, never regress."""
    # batch 1: one event at h=10 opens the session
    out, state = _sweep_batch(None, [10], [1.0])
    assert not out

    # batch 2 delivers LATE events h=9 (before the session's gap reach —
    # singleton) and h=9.7 (within gap of h=10 — extends start backwards)
    out, state = _sweep_batch(state, [9, 9.7], [2.0, 4.0])
    assert out == [(_us(9), _us(9), 1, 200)]  # exactly the singleton for h=9

    start_us, last_us, n, total = state
    assert last_us == _us(10)  # NOT regressed
    assert start_us == _us(9.7)  # extended back
    assert n == 2 and total == 500  # integer cents in state (r12)


def test_tws_processor_merges_consecutive_late_events():
    """ADVICE r10: two very-late events in the same batch within gap_us of
    each other used to emit one singleton EACH, diverging from batch
    gap_sessionize which merges them into one session. The sweep now
    gap-merges (state ∪ batch), so a late chain becomes one session, and
    a chain reaching the open session's horizon merges into it."""
    # batch 1: open session at h=10
    out, state = _sweep_batch(None, [10], [1.0])
    assert not out

    # batch 2: three very-late events — h=8 and h=8.4 are within the
    # 30-min gap of each other (ONE merged session, not two singletons);
    # h=5 stands alone (its own singleton)
    out, state = _sweep_batch(state, [8.4, 5, 8], [2.0, 8.0, 4.0])
    assert out == [
        (_us(5), _us(5), 1, 800),
        (_us(8), _us(8.4), 2, 600),
    ]
    # open session untouched
    assert state == (_us(10), _us(10), 1, 100)  # integer cents (r12)

    # batch 3: a late CHAIN h=9.0 → h=9.4 → h=9.8 that connects through
    # to the open session at h=10 — everything merges, nothing emits
    out, state = _sweep_batch(state, [9.0, 9.8, 9.4], [1.0, 1.0, 1.0])
    assert not out
    assert state == (_us(9.0), _us(10), 4, 400)  # integer cents (r12)


def test_stateful_sessionize_out_of_order_microbatch_no_inverted_sessions(
    spark, tmp_path
):
    """Same defect through the applyInPandasWithState path, end-to-end:
    micro-batch 2 carries events EARLIER than batch 1's (inside the
    watermark). No emitted session may have end < start."""
    import datetime as dt

    from weightlifting_wod_etl_spark.streaming.sessions import (
        stateful_gap_sessionize,
    )

    base = dt.datetime(2024, 1, 1, 10, 0, 0)

    def mk(rows, name):
        df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        df.coalesce(1).write.parquet(str(tmp_path / "in" / name))

    mk([(7, base, 1.0)], "batch_a")  # 10:00
    mk(
        [
            (7, base - dt.timedelta(hours=1), 2.0),  # 09:00 — very late
            (7, base - dt.timedelta(minutes=20), 4.0),  # 09:40 — in gap
        ],
        "batch_b",
    )
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in"))
    )
    got = _run_stream(
        spark,
        stateful_gap_sessionize(stream, gap_seconds=1800, watermark="4 hours"),
        str(tmp_path / "ckpt"),
        "late_out",
    ).collect()
    for r in got:
        assert r.session_start <= r.session_end, r


def test_interval_join_outer_keeps_right_side_key(spark):
    """Review r10: under full/right outer the unmatched right row's key
    lived only in the renamed right column, which was dropped — the row
    came out with a NULL key and no attribution."""
    import datetime as dt

    from weightlifting_wod_etl_spark.streaming.joins import interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    clicks = spark.createDataFrame(
        [(1, t0)], "user_id long, click_ts timestamp"
    )
    purchases = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=5)), (2, t0)],
        "user_id long, purchase_ts timestamp",
    )
    out = interval_join(
        clicks, purchases, key="user_id", left_ts="click_ts",
        right_ts="purchase_ts", max_delay="30 minutes", how="full_outer",
    ).collect()
    keys = sorted(r.user_id for r in out)
    assert keys == [1, 2]  # user 2's unmatched purchase keeps its key


def test_stateful_sessionize_null_ts_and_null_value_guarded(spark, tmp_path):
    """Review r11: a NULL event time converted through NaT.value
    (INT64_MIN) opened a phantom epoch-us interval that overflowed on
    emit (OutOfBoundsDatetime kills the query); a NULL value poisoned the
    whole session's sum to NaN. NULL ts rows drop (session_window's rule);
    NULL values contribute 0 while still counting."""
    import datetime as dt

    from weightlifting_wod_etl_spark.streaming.sessions import (
        stateful_gap_sessionize,
    )

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (7, base, 1.0),
        (7, base + dt.timedelta(minutes=5), None),  # NULL value, in session
        (7, None, 99.0),  # NULL ts: dropped
        (7, base + dt.timedelta(hours=3), 2.0),  # closes the first session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    df.coalesce(1).write.parquet(str(tmp_path / "in" / "b1"))
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("recursiveFileLookup", "true")
        .parquet(str(tmp_path / "in"))
    )
    out = _run_stream(
        spark,
        stateful_gap_sessionize(stream, gap_seconds=1800, watermark="9 hours"),
        str(tmp_path / "ckpt"),
        "nullguard_out",
    ).collect()
    assert len(out) == 1  # first session emitted; the h+3 one stays open
    (s,) = out
    assert s.n_events == 2  # NULL-value event counted
    assert s.sum_value == 1.0  # NaN did not poison; NULL contributed 0
    assert s.session_start == base
    assert s.session_end == base + dt.timedelta(minutes=5)


def test_dedup_stream_batch_fallback_is_deterministic(spark):
    """Review r11: the batch fallback used dropDuplicates (partition-
    order-dependent survivor). Earliest ts must win, with a full-column
    tiebreak, regardless of partition layout."""
    import datetime as dt

    from weightlifting_wod_etl_spark.streaming.dedup import dedup_stream

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0 + dt.timedelta(minutes=9), "late_replay"),
        (1, t0, "first_writer"),
        (1, t0, "first_writer_tie_zzz"),
    ]
    for n_parts in (1, 7):
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, payload string"
        ).repartition(n_parts)
        got = dedup_stream(df, keys=["event_id"]).collect()
        assert len(got) == 1
        assert got[0].payload == "first_writer"  # earliest ts, tie -> asc min


def test_interval_join_semi_and_anti_do_not_reference_right_columns(spark):
    """Review r11: semi/anti output carries left columns only; the
    unconditional right-key coalesce raised UNRESOLVED_COLUMN."""
    import datetime as dt

    from weightlifting_wod_etl_spark.streaming.joins import interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    clicks = spark.createDataFrame(
        [(1, t0), (2, t0)], "user_id long, click_ts timestamp"
    )
    buys = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=10))],
        "user_id long, buy_ts timestamp",
    )
    semi = interval_join(
        clicks, buys, "user_id", "click_ts", "buy_ts",
        max_delay="30 minutes", how="left_semi",
    ).collect()
    assert [r.user_id for r in semi] == [1]
    anti = interval_join(
        clicks, buys, "user_id", "click_ts", "buy_ts",
        max_delay="30 minutes", how="left_anti",
    ).collect()
    assert [r.user_id for r in anti] == [2]


def test_cdc_apply_tolerates_map_payload_column(spark, tmp_path):
    """Review r11: the full-column tiebreak ordered by a MapType column,
    which Spark rejects as unorderable — the factory crashed on the first
    micro-batch for a Debezium-style before/after-image schema."""
    from weightlifting_wod_etl_spark.io import read_table
    from weightlifting_wod_etl_spark.streaming.cdc_apply import make_cdc_apply

    target = str(tmp_path / "mapcdc")
    spark.createDataFrame(
        [(1, "old", {"v": "0"})],
        "k long, payload string, image map<string,string>",
    ).write.parquet(target)
    batch = spark.createDataFrame(
        [
            (1, "U", 1, "mid", {"v": "1"}),
            (1, "U", 2, "fin", {"v": "2"}),
            (2, "U", 1, "ins", {"v": "9"}),
        ],
        "k long, op string, seq long, payload string, image map<string,string>",
    ).repartition(3)
    make_cdc_apply(target, on=["k"], seq_col="seq")(batch, 0)
    got = {r.k: (r.payload, dict(r.image)) for r in read_table(spark, target).collect()}
    assert got == {1: ("fin", {"v": "2"}), 2: ("ins", {"v": "9"})}


@pytest.mark.parametrize("writer", ["twin_sink", "write_jsonl_idempotent"])
def test_twin_sink_jsonl_keeps_explicit_nulls(spark, tmp_path, writer):
    """Review r11: the JSONL twin used the writer default
    ignoreNullFields=true, silently dropping null-valued keys per row —
    the shape drift io.write_jsonl exists to prevent. Both JSONL writers
    go through io.write_jsonl (the idempotent sink used to write ``{}``
    for a row whose only payload field was NULL)."""
    import glob
    import json as _json
    import os

    from weightlifting_wod_etl_spark.sinks import write_jsonl_idempotent
    from weightlifting_wod_etl_spark.streaming.twin_sink import make_twin_sink

    out = str(tmp_path / "twin")
    batch = spark.createDataFrame(
        [(1, None), (2, 5.0)], "k long, value double"
    )
    if writer == "twin_sink":
        sink = make_twin_sink(
            os.path.join(out, "pq"), os.path.join(out, "jsonl"),
            os.path.join(out, "ledger"),
        )
        sink(batch, 0)
        jsonl_dir = os.path.join(out, "jsonl", "batch_id=0")
    else:
        jsonl_dir = os.path.join(out, "jsonl")
        keyed = batch.withColumn("idem_key", F.col("k").cast("string"))
        assert write_jsonl_idempotent(
            keyed, jsonl_dir, os.path.join(out, "ledger")
        ) == 2
    files = glob.glob(os.path.join(jsonl_dir, "part-*"))
    lines = []
    for fp in files:
        with open(fp) as f:
            lines += [_json.loads(ln) for ln in f if ln.strip()]
    by_k = {d["k"]: d for d in lines}
    assert "value" in by_k[1] and by_k[1]["value"] is None  # null kept


def test_cdc_apply_null_key_changes_are_replay_idempotent(spark, tmp_path):
    """Review r12 (reproduced): a NULL-key change row matched nothing in
    merge_into's null-unsafe key joins, always landed in the insert
    branch, and was RE-INSERTED on every at-least-once replay — and once
    present could never be updated or deleted. NULL-key changes (a
    malformed feed) are dropped before merging."""
    import os

    from weightlifting_wod_etl_spark.io import read_table
    from weightlifting_wod_etl_spark.streaming.cdc_apply import make_cdc_apply

    target = os.path.join(str(tmp_path), "cdc_nullkey")
    spark.createDataFrame([(1, "base")], "k long, v string").write.parquet(target)
    batch = spark.createDataFrame(
        [(None, "U", 1, "nullkey"), (2, "U", 1, "ins")],
        "k long, op string, seq long, v string",
    )
    apply_batch = make_cdc_apply(target, on=["k"], seq_col="seq", op_col="op")
    apply_batch(batch, 0)
    apply_batch(batch, 1)  # at-least-once replay
    rows = sorted(
        ((r.k, r.v) for r in read_table(spark, target).collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert rows == [(1, "base"), (2, "ins")]  # no NULL-key duplicates ever


def test_cdc_apply_null_key_drop_is_counted_on_stderr(spark, tmp_path, caplog):
    """r13 advice (regression pin): NULL-key change rows are dropped as
    unaddressable, but a corrupted feed silently shrinking is hard to
    detect downstream — the drop must be COUNTED and logged per batch.
    Asserts the warning carries the batch id and the exact count."""
    import os

    from weightlifting_wod_etl_spark.streaming.cdc_apply import make_cdc_apply

    target = os.path.join(str(tmp_path), "cdc_nullkey_count")
    spark.createDataFrame([(1, "base")], "k long, v string").write.parquet(target)
    batch = spark.createDataFrame(
        [(None, "U", 1, "a"), (None, "D", 2, "b"), (2, "U", 1, "ins")],
        "k long, op string, seq long, v string",
    )
    apply_batch = make_cdc_apply(target, on=["k"], seq_col="seq", op_col="op")
    apply_batch(batch, 7)
    assert "batch 7 dropped 2 NULL-key change row(s)" in caplog.text
    # a clean batch must NOT log — the counter is a corruption signal,
    # not per-batch noise
    clean = spark.createDataFrame(
        [(3, "U", 1, "c")], "k long, op string, seq long, v string"
    )
    caplog.clear()
    apply_batch(clean, 8)
    assert "batch 8" not in caplog.text


def test_cdc_apply_null_key_drop_is_logged_when_merge_raises(
    spark, tmp_path, caplog, monkeypatch
):
    """ADVICE r19: the NULL-key drop count was printed only after a
    successful merge, so a batch whose commit failed lost the feed-
    corruption record along with the commit. The count must still be
    logged while the merge's error propagates."""
    import os

    import pytest

    from weightlifting_wod_etl_spark.operators import versioned
    from weightlifting_wod_etl_spark.streaming.cdc_apply import make_cdc_apply

    target = os.path.join(str(tmp_path), "cdc_nullkey_raise")
    spark.createDataFrame([(1, "base")], "k long, v string").write.parquet(target)
    batch = spark.createDataFrame(
        [(None, "U", 1, "a"), (2, "U", 1, "ins")],
        "k long, op string, seq long, v string",
    )

    def failing_commit(*args, **kwargs):
        raise OSError("planted commit failure")

    monkeypatch.setattr(versioned, "finish_commit", failing_commit)
    apply_batch = make_cdc_apply(target, on=["k"], seq_col="seq", op_col="op")
    with pytest.raises(OSError, match="planted commit failure"):
        apply_batch(batch, 3)
    assert "batch 3 dropped 1 NULL-key change row(s)" in caplog.text


def test_dedup_stream_batch_fallback_tolerates_map_column(spark):
    """Review r12 (reproduced): the batch fallback ordered by every
    non-key column bare — a MapType column made the window ORDER BY
    unresolvable (INVALID_ORDERING_TYPE) and the whole backfill plan was
    rejected, breaking the 'same pipeline backfills and streams'
    promise. Map columns now order via their JSON text (the cdc_apply
    r11 fix, shared since r12)."""
    import datetime

    from weightlifting_wod_etl_spark.streaming.dedup import dedup_stream

    t0 = datetime.datetime(2024, 3, 1, 10, 0, 0)
    df = spark.createDataFrame(
        [
            (1, t0, {"a": "x"}),
            (1, t0, {"a": "y"}),
            (2, t0, None),
        ],
        "event_id long, ts timestamp, image map<string,string>",
    )
    out = dedup_stream(df, keys=("event_id",))
    rows = {r.event_id: r.image for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1] == {"a": "x"}  # deterministic: JSON-text order, not arrival


def test_cdc_apply_batch_leaves_no_cached_frames(spark, tmp_path):
    """Round-diff review r13: the NULL-key observability change rebound
    batch_df to its filtered derivative, so the finally-block unpersist
    ran on an uncached plan and leaked one persisted batch per
    micro-batch. After apply_batch, nothing may remain cached."""
    from weightlifting_wod_etl_spark.streaming.cdc_apply import make_cdc_apply

    spark.catalog.clearCache()
    target = str(tmp_path / "cdc_leak")
    spark.createDataFrame([(1, 10, 1)], "k long, v long, seq long").write.parquet(
        target
    )
    batch = spark.createDataFrame(
        [(1, 11, 2, "U"), (None, 99, 3, "U"), (2, 20, 4, "U")],
        "k long, v long, seq long, op long" .replace("op long", "op string"),
    )
    make_cdc_apply(target, on=["k"], seq_col="seq")(batch, 7)
    # the DataFrame cacheManager, not getPersistentRDDs: localCheckpoint
    # RDDs (merge_into's key-stats frame) legitimately appear in the
    # latter until GC'd; only df.persist() registrations live here
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "cached batch leaked"
    )


def test_cdc_apply_empty_key_list_is_refused_at_build_time():
    """Review r14: an empty `on` used to die mid-stream inside the first
    micro-batch with an opaque TypeError from the NULL-key filter — the
    precondition must be named when the sink is BUILT."""
    import pytest

    from weightlifting_wod_etl_spark.streaming.cdc_apply import make_cdc_apply

    with pytest.raises(ValueError, match="at least one key column"):
        make_cdc_apply("/tmp/nowhere", on=[], seq_col="seq")


def test_cdc_apply_all_null_key_batch_commits_nothing(spark, tmp_path):
    """r18 optimization round: the empty-batch guard moved from a
    post-collapse count job onto the raw-batch stats aggregation
    (key-ok rows exist iff collapsed rows do). The degenerate case the
    rewrite must preserve: a batch whose EVERY row is NULL-keyed
    collapses to nothing — no merge may run, so a nonexistent target
    stays nonexistent (a commit would mint an empty version 0) and an
    existing target keeps its version."""
    import os

    from weightlifting_wod_etl_spark.operators.versioned import (
        current_version,
        table_exists,
    )
    from weightlifting_wod_etl_spark.streaming.cdc_apply import make_cdc_apply

    all_null = spark.createDataFrame(
        [(None, "U", 1, "x"), (None, "D", 2, "y")],
        "k long, op string, seq long, v string",
    )
    fresh = os.path.join(str(tmp_path), "cdc_allnull_fresh")
    make_cdc_apply(fresh, on=["k"], seq_col="seq")(all_null, 0)
    assert not table_exists(fresh), "empty batch minted a table"

    existing = os.path.join(str(tmp_path), "cdc_allnull_existing")
    spark.createDataFrame([(1, "base")], "k long, v string").write.parquet(
        existing
    )
    apply_batch = make_cdc_apply(existing, on=["k"], seq_col="seq")
    apply_batch(
        spark.createDataFrame(
            [(2, "U", 1, "ins")], "k long, op string, seq long, v string"
        ),
        0,
    )
    v_before = current_version(existing)
    apply_batch(all_null, 1)
    assert current_version(existing) == v_before, (
        "all-NULL-key batch committed a new version"
    )


def test_cdc_apply_zero_row_batch_returns_and_commits_nothing(spark, tmp_path):
    """r19: the NULL-key drop count rides an Observation that resolves
    when merge_into's key-stats job scans the batch — pin that a ZERO-row
    micro-batch (idle stream tick) still resolves the observation (no
    hang waiting for metrics), mints no commit on an existing table, and
    creates nothing on a fresh path."""
    import os

    from weightlifting_wod_etl_spark.operators.versioned import (
        current_version,
        table_exists,
    )
    from weightlifting_wod_etl_spark.streaming.cdc_apply import make_cdc_apply

    empty = spark.createDataFrame([], "k long, op string, seq long, v string")

    existing = os.path.join(str(tmp_path), "cdc_zero_existing")
    spark.createDataFrame([(1, "base")], "k long, v string").write.parquet(
        existing
    )
    apply_batch = make_cdc_apply(existing, on=["k"], seq_col="seq")
    v_before = current_version(existing)
    apply_batch(empty, 0)
    assert current_version(existing) == v_before

    fresh = os.path.join(str(tmp_path), "cdc_zero_fresh")
    make_cdc_apply(fresh, on=["k"], seq_col="seq")(empty, 0)
    assert not table_exists(fresh)
