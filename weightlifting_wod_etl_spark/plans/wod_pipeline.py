"""The reference pipeline end-to-end, as ONE Spark job — E1 of SURVEY.md §3.

Reference chain (eight Lambdas + Step Functions JSON hops):
    fetch → dump raw → strip HTML → group by day → segment days →
    records by day → clean → persist (KV + JSONL)

Spark translation: a single declarative plan over a posts DataFrame —
    strip (expressions) → posexplode lines → day window → segment window →
    ordered pivot → spine date attach → clean
The only process boundaries are the two window shuffles (both keyed by
post) and the pivot groupBy; Catalyst fuses everything else. Per-post
parallelism (the reference's Map state, OP19) is free: posts are rows.

Semantics preserved (verified against reference transforms.py:115-343 and
its test fixtures — see tests/test_wod_pipeline.py):
  - markers open their group; preamble before the first marker is dropped
  - a day's first segment collapses to key 'session' with ONLY the marker
    line as value (transforms.py:191-194: ``[['session', x[0][0]], *x[1:]]``)
  - a day with no segment markers at all becomes 'session' = 'rest day'
  - record date = week_start + day_ordinal where week_start is the Sunday
    before the slug/title date range start (falling back to post_date):
    ``start = d - timedelta(d.isoweekday())``, records use dates[1:]
  - clean: rename segment keys, drop raw 's'/'r', 'yyyy-MM-dd' dates,
    session NULL → 'Rest Day', required fields exist, NULLs → ''
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.html import decode_entities, strip_html
from ..operators.clean import DEFAULT_RENAME, clean_records
from ..operators.dates import extract_date_range, week_start_sunday
from ..operators.pivot import ordered_concat_expr, pivot_wide
from ..operators.sessionize import explode_lines, sessionize_by_marker

DAY_MARKER = "(?i)(Monday)|(Tuesday)|(Wednesday)|(Thursday)|(Friday)|(Saturday)|(Sunday)"
SEGMENT_MARKER = "(?i)(Session)|(Suggested Warm-Up)|^[A-F].$"
# Explicit pivot values = the pipeline's DECLARED schema (review r15
# adjudication): the reference builds ragged per-day dicts keyed by the
# marker line VERBATIM (transforms.py:240-250), so a post with an 'F.'
# segment (the marker regex admits A-F; the rename map stops at E.) or a
# later 'Session ...' marker line carries that extra key through to its
# JSON record. A typed DataFrame cannot carry ragged keys — that is the
# OP23 envelope elimination — and restricted to the nine declared output
# columns the two engines agree exactly (an unknown key never feeds a
# declared column in the reference either; its lines are equally
# excluded from neighboring segments here because the marker still opens
# a group). The golden weekly fixture exercises none beyond these seven.
SEGMENT_KEYS = ["session", "Suggested Warm-Up", "A.", "B.", "C.", "D.", "E."]


def strip_posts(posts: DataFrame) -> DataFrame:
    """OP4 — html → text, carrying post metadata (handler.py:166-190)."""
    return posts.select(
        "post_id",
        strip_html("html").alias("text"),
        "post_date",
        "slug",
        decode_entities("title").alias("title"),
    )


def sessionize_post_text(stripped: DataFrame) -> DataFrame:
    """OP5+OP10+OP11 — lines → (post_id, day_idx, seg_idx, line_idx, line).

    Two nested marker windows, both partitioned by post (day level) then by
    (post, day) — shuffle keys stay bounded by entity, never global.
    """
    lines = explode_lines(stripped, text_col="text", id_cols=["post_id"])
    days = sessionize_by_marker(
        lines, DAY_MARKER, partition_cols=["post_id"], group_col="day_idx"
    )
    # drop_preamble=False here: a day whose lines match no segment marker
    # (rest day) must stay visible to the day spine; seg_idx==0 rows are
    # filtered at record build instead (transforms.py:191-194 parity)
    return sessionize_by_marker(
        days,
        SEGMENT_MARKER,
        partition_cols=["post_id", "day_idx"],
        order_col="line_idx",
        group_col="seg_idx",
        drop_preamble=False,
    )


@functools.cache
def _week_start() -> Column:
    """Week spine anchor (OP12+OP13): the Sunday before the slug/title
    range start, else before post_date. Built once per process: the
    expression does not depend on the data, and its date-range parser is
    the costliest part of building the pipeline's plan."""
    rng_start, _ = extract_date_range("slug", "title")
    return week_start_sunday(F.coalesce(rng_start, F.to_date("post_date")))


def segments_to_records(segmented: DataFrame, stripped: DataFrame) -> DataFrame:
    """OP14 — per (post, day): {segment_key: joined lines} + spine date.

    seg 1 collapses to ('session', marker line); other segments key on
    their marker line verbatim; days with no segments become rest days.
    """
    # ONE pass over the sessionized lines (r18 optimization round, guide
    # §2.4): the former kv / day-spine / rest-anti-join triple consumed
    # `segmented` three times, and because each branch pruned different
    # columns below the exchange, Catalyst planned THREE full
    # strip+explode+window chains (no ReusedExchange) — the dominant cost
    # of the whole pipeline. Aggregate every (post, day, seg) group once
    # — seg 0 included — and derive rest days from max(seg_idx)==0 over
    # the (post, day) window instead of an anti-join: a rest day is
    # EXACTLY a day none of whose lines opened a segment (all rows keep
    # seg 0), so the day-spine/anti-join pair is redundant. The window
    # reuses the chain's post_id partitioning (no new exchange); proved
    # equivalent by the unchanged oracle + golden fixture.
    per_seg = segmented.groupBy("post_id", "day_idx", "seg_idx").agg(
        F.min_by("line", "line_idx").alias("key_line"),
        F.count(F.lit(1)).alias("n_lines"),
        ordered_concat_expr("line_idx", "line", " ").alias("all_joined"),
    )
    # value = join of lines AFTER the marker line = all_joined minus prefix
    value = F.when(
        F.col("n_lines") > 1,
        F.expr("substring(all_joined, length(key_line) + 2)"),
    ).otherwise(F.lit(""))
    max_seg = F.max("seg_idx").over(Window.partitionBy("post_id", "day_idx"))
    is_rest = F.col("__max_seg") == 0
    kv_all = (
        per_seg.withColumn("__max_seg", max_seg)
        # keep real segments, plus the single seg-0 row of rest days;
        # preamble seg-0 rows of segmented days drop exactly as before
        .filter((F.col("seg_idx") > 0) | is_rest)
        .select(
            "post_id",
            "day_idx",
            F.when(is_rest, F.lit(1).cast("bigint"))
            .otherwise(F.col("seg_idx"))
            .alias("seg_idx"),
            F.when(is_rest | (F.col("seg_idx") == 1), F.lit("session"))
            .otherwise(F.col("key_line"))
            .alias("k"),
            F.when(is_rest, F.lit("rest day"))
            .when(F.col("seg_idx") == 1, F.col("key_line"))
            .otherwise(value)
            .alias("v"),
        )
    )
    # duplicate segment keys within a day: LAST one wins (the reference's
    # dict comprehension overwrites in iteration order) — max_by(seg_idx)
    # makes that deterministic under shuffle, where first() would not be.
    # pivot_wide is the one codified explicit-values pivot (r13: this was
    # an inline re-spelling of it)
    wide = pivot_wide(
        kv_all, ["post_id", "day_idx"], "k", SEGMENT_KEYS, F.max_by("v", "seg_idx")
    )
    week_start = stripped.select("post_id", _week_start().alias("week_start"))
    return (
        wide.join(week_start, "post_id")
        .withColumn("date", F.date_add(F.col("week_start"), F.col("day_idx").cast("int")))
        .drop("week_start")
    )


def wod_pipeline(posts: DataFrame) -> DataFrame:
    """Full reference-parity pipeline: posts(html) → cleaned day records."""
    from ..operators.dedup import exact_dedup

    # ONE post per post_id (r13): the sessionization windows partition by
    # post and order by line_idx alone, so two posts sharing an id would
    # interleave their lines with TIED order keys — day/segment assignment
    # then depends on shuffle order (the q21 duplicate-PK class). The
    # reference fetches each post once by id; a duplicate id is malformed
    # input, resolved deterministically by keeping the lexicographically
    # smallest html (NULLS LAST). Partitioned on post_id — the same key
    # every downstream window uses, so the exchange is reused.
    # lazy localCheckpoint (r13 bench adjudication): stripped feeds BOTH
    # the sessionizer and the week-start join, and without the checkpoint
    # each consumer re-executed the dedup window's exchange+sort over the
    # full-html posts — measured 1.55 s vs 0.99 s at sf0.1 (no-dedup
    # baseline 0.95 s); the checkpoint makes the dedup effectively free.
    posts = exact_dedup(
        posts, key_cols=["post_id"], order_cols=[F.col("html").asc_nulls_last()]
    ).localCheckpoint(eager=False)
    stripped = strip_posts(posts)
    segmented = sessionize_post_text(stripped)
    records = segments_to_records(segmented, stripped)
    cleaned = clean_records(records, rename_map=DEFAULT_RENAME)
    # no final orderBy: a global range-sort exchange would be pure
    # presentation cost (results are set-compared; at 100 TB sorting the
    # whole output to look nice is the single biggest avoidable shuffle)
    return cleaned.select(
        "post_id", "date", "session", "warm_up",
        "segment_a", "segment_b", "segment_c", "segment_d", "segment_e",
    )
