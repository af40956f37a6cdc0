"""Streaming sessionization — the reference's micro-batch trigger (OP21)
and idempotency state (OP3) mapped to Structured Streaming.

Reference context: EventBridge fires the pipeline every 10 minutes
(``serverless/resources.yml:97``) and a DynamoDB TTL ledger dedups replays
(``services/idempotency_service.py:75-106``). In Spark those are the
trigger cadence and checkpointed state respectively; the session operator
itself is the same boundary-detection idea as the batch gap sessionizer,
expressed two ways:

  - ``session_window_agg``: the built-in gap-merged session window with a
    watermark — at scale, state per key is O(open sessions), late data
    beyond the watermark is dropped (the streaming analog of the
    reference's TTL'd idempotency skips).
  - ``stateful_gap_sessionize``: applyInPandasWithState with explicit
    per-user state — the shape to extend when session logic outgrows the
    built-in (e.g. per-session feature accumulation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_GAP = "30 minutes"
DEFAULT_WATERMARK = "2 hours"


def session_window_agg(
    events: DataFrame,
    gap: str = DEFAULT_GAP,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Gap-merged session windows per user: start/end/count/value rollup.

    Works identically on a batch or streaming DataFrame — the streaming
    flavor just needs the watermark to bound state.
    """
    from ..functions.money import sum_fixed

    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # order-free fixed-point sum: a raw double F.sum accumulates
            # in partial-merge order, flipping the 2nd decimal run to run
            # near half-cent boundaries (same fix as plans/flagship.py)
            F.round(sum_fixed("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# total_cents, not a double total (review r12): state accumulates across
# micro-batches, and raw double addition is order-dependent — the same
# data under a different maxFilesPerTrigger split summed in a different
# order and could flip round(total, 2) one cent off the batch truth
# (session_window_agg was converted to sum_fixed for exactly this).
# Integer cents make the streamed sum order-free and bit-comparable.
# STATE-SCHEMA v2 — checkpoint compatibility: restarting a query from a
# pre-r12 checkpoint is an INCOMPATIBLE-schema start (double → long);
# Spark's state-store schema check rejects it at startup, which is the
# safe outcome — drain the old query (process no new data, let timers
# close sessions) or start a fresh checkpoint. Never map the old
# positional value through: a stored 12.0 (dollars) would silently
# reread as 12 cents.
STATE_SCHEMA = "start_us long, last_us long, n long, total_cents long"
OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)


def _gap_merge_sweep(gap_us: int):
    """Build the per-key session sweep behind
    :func:`stateful_gap_sessionize`: ``sweep(pdf_iter, open_session)`` ->
    start-sorted merged sessions as ``[start_us, last_us, n, total_cents]``
    lists, the last one still open.

    Returned as a closure so cloudpickle ships it BY VALUE inside the
    sessionizer's function — Python workers cannot import this package,
    and a module-level helper would be pickled by reference."""

    def sweep(pdf_iter, open_session):
        import math

        import pandas as pd

        intervals = []
        for pdf in pdf_iter:
            for t, v in zip(pd.to_datetime(pdf["ts"]), pdf["value"]):
                # NULL event time: NaT.value is INT64_MIN — it would open
                # a phantom epoch-µs interval that OVERFLOWS on emit.
                # session_window drops NULL-ts rows; mirror that.
                if pd.isna(t):
                    continue
                us = int(t.value) // 1000
                # NULL value: NaN poisons the session's sum; batch F.sum
                # skips NULLs — contribute 0 (count still ticks). Values
                # are INTEGER CENTS (HALF_UP like to_fixed) so the
                # cross-batch accumulation is order-free (review r12).
                cents = (
                    0
                    if pd.isna(v)
                    else int(math.copysign(
                        math.floor(abs(float(v)) * 100 + 0.5), float(v)
                    ))
                )
                intervals.append((us, us, 1, cents))
        # One unit interval per event plus the open-session interval from
        # state, then a single gap-merge sweep over start-sorted intervals
        # — which IS batch gap-sessionize semantics over (state ∪ batch).
        # Consecutive very-late events within gap_us of each other merge
        # into ONE late session (ADVICE r10) instead of one singleton
        # each; a late chain that reaches the open session's gap horizon
        # merges into it. Only sessions emitted in PRIOR batches can
        # never retro-merge (single-session state — the documented
        # streaming/batch divergence). Bounds never regress: the open
        # session only ever absorbs intervals, so its end is monotone.
        if open_session is not None and open_session[1] is not None:
            intervals.append(tuple(open_session))
        intervals.sort(key=lambda iv: (iv[0], iv[1]))
        merged: list[list] = []
        for s, e, cnt, tot in intervals:
            if merged and s <= merged[-1][1] + gap_us:
                m = merged[-1]
                m[1] = max(m[1], e)
                m[2] += cnt
                m[3] += tot
            else:
                merged.append([s, e, cnt, tot])
        return merged

    return sweep


def stateful_gap_sessionize(
    events: DataFrame, gap_seconds: int = 1800, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Custom stateful sessionizer: applyInPandasWithState keyed by user.

    Emits a session row whenever a gap closes it; the open session lives in
    group state (and would emit on event-time timeout in production). The
    closure is SELF-CONTAINED — Python workers cannot import this package.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    sweep = _gap_merge_sweep(gap_seconds * 1_000_000)

    def fn(key, pdf_iter, state):
        import pandas as pd

        (user_id,) = key
        merged = sweep(pdf_iter, state.get if state.exists else None)
        out = [(user_id, s, e, cnt, tot) for s, e, cnt, tot in merged[:-1]]
        if merged:
            state.update(tuple(merged[-1]))
        elif state.exists:
            # clear a legacy sentinel; NEVER mint state for a key that
            # produced nothing — with NoTimeout, state is immortal, so
            # the old (None, None, 0, 0.0) write leaked one permanent
            # state row per all-NULL-ts key (review r12)
            state.remove()
        if out:
            df = pd.DataFrame(
                out, columns=["user_id", "s", "e", "n_events", "cents"]
            )
            yield pd.DataFrame(
                {
                    "user_id": df.user_id,
                    "session_start": pd.to_datetime(df.s, unit="us"),
                    "session_end": pd.to_datetime(df.e, unit="us"),
                    "n_events": df.n_events,
                    # one exact division per emitted session — the only
                    # float op in the whole sum path
                    "sum_value": df.cents / 100.0,
                }
            )

    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

