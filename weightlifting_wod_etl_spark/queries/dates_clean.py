"""Date-extraction, week-spine, clean/normalize, weekly-rollup queries
(OP12, OP13, OP15, OP16, OP17)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.dates import (
    MONTHS,
    date_spine,
    extract_date_range,
    week_start_sunday,
)
from ..queries_registry import register

# Reverse month map shared by Spark and oracle (CASE chain in SQL) —
# derived from the SAME list month_number() is built from (r13: a
# retyped copy could drift one-sidedly, the interpolate-shared-constants
# rule).
_MONTH_CASE = " ".join(
    f"WHEN '{m}' THEN {i}" for i, m in enumerate(MONTHS, start=1)
)


@register(
    "q_date_extract",
    oracle=f"""
    WITH slugged AS (
        SELECT o_orderkey,
               lower(monthname(o_orderdate)) || '-' ||
               day(o_orderdate)::VARCHAR || '-' ||
               least(day(o_orderdate) + 6, 28)::VARCHAR || '-' ||
               year(o_orderdate)::VARCHAR AS slug
        FROM orders
    ), parsed AS (
        SELECT o_orderkey, slug,
               CASE regexp_extract(slug, '([a-z]+)-(\\d+)-(\\d+)-(\\d+)', 1) {_MONTH_CASE} END AS m,
               regexp_extract(slug, '([a-z]+)-(\\d+)-(\\d+)-(\\d+)', 2)::INT AS d1,
               regexp_extract(slug, '([a-z]+)-(\\d+)-(\\d+)-(\\d+)', 3)::INT AS d2,
               regexp_extract(slug, '([a-z]+)-(\\d+)-(\\d+)-(\\d+)', 4)::INT AS y
        FROM slugged
    )
    SELECT o_orderkey, slug,
           strftime(make_date(y, m, d1), '%Y-%m-%d') AS range_start,
           strftime(make_date(y, m, d2), '%Y-%m-%d') AS range_end
    FROM parsed
    """,
)
def q_date_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP12 — regex date-range extraction from a slug (transforms.py:42-112).

    Slugs are constructed from o_orderdate in the reference's
    'month-d1-d2-year' form, then parsed back with the engine operator.
    """
    # fan_out (guide §2.5): the regex-chain projection dominates this
    # query's cost, and the committed testdata ships orders as one
    # 1-row-group file — a single scan task regardless of cores. The
    # guard only fires when achievable splits < parallelism (never on
    # properly-split production input); measured 4.8x at sf0.1.
    orders = load_table(spark, sf_dir, "orders", fan_out=True)
    # F.concat, NOT concat_ws: the oracle's || propagates a NULL
    # o_orderdate into a NULL slug, while concat_ws SKIPS null pieces and
    # would mint the bogus slug '28' (least() also ignores the NULL)
    slugged = orders.select(
        "o_orderkey",
        F.concat(
            F.lower(F.date_format("o_orderdate", "MMMM")),
            F.lit("-"),
            F.dayofmonth("o_orderdate").cast("string"),
            F.lit("-"),
            F.least(F.dayofmonth("o_orderdate") + 6, F.lit(28)).cast("string"),
            F.lit("-"),
            F.year("o_orderdate").cast("string"),
        ).alias("slug"),
    )
    start, end = extract_date_range("slug")
    return slugged.select(
        "o_orderkey",
        "slug",
        F.date_format(start, "yyyy-MM-dd").alias("range_start"),
        F.date_format(end, "yyyy-MM-dd").alias("range_end"),
    )


@register(
    "q_date_spine",
    oracle="""
    WITH weeks AS (
        SELECT DISTINCT (o_orderdate::DATE - isodow(o_orderdate::DATE) * INTERVAL 1 DAY)::DATE AS ws
        FROM orders
        -- a NULL date anchors no week: without the guard the NULL ws
        -- cross-joins into 7 phantom ordinals with NULL spine dates,
        -- while Spark's sequence(NULL, ...) explodes to zero rows
        WHERE o_orderdate IS NOT NULL
    )
    SELECT strftime(ws, '%Y-%m-%d') AS week_start,
           d::BIGINT AS day_ordinal,
           strftime(ws + d * INTERVAL 1 DAY, '%Y-%m-%d') AS spine_date
    FROM weeks, unnest(generate_series(0, 6)) AS t(d)
    """,
)
def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP13 — Sunday-anchored week spine, one row per (week, ordinal)
    (transforms.py:227-248; §2.3-3 anchor semantics)."""
    orders = load_table(spark, sf_dir, "orders")
    weeks = (
        orders.filter(F.col("o_orderdate").isNotNull())
        .select(week_start_sunday(F.to_date("o_orderdate")).alias("ws"))
        .distinct()
    )
    return weeks.select(
        F.date_format("ws", "yyyy-MM-dd").alias("week_start"),
        F.posexplode(date_spine(F.col("ws"), 7)).alias("day_ordinal", "spine_d"),
    ).select(
        "week_start",
        F.col("day_ordinal").cast("bigint").alias("day_ordinal"),
        F.date_format("spine_d", "yyyy-MM-dd").alias("spine_date"),
    )


@register(
    "q_clean_normalize",
    oracle="""
    SELECT o_orderkey AS record_id,
           strftime(o_orderdate, '%Y-%m-%d') AS date,
           CASE WHEN nullif(o_orderstatus, 'P') IS NULL THEN 'Rest Day'
                ELSE nullif(o_orderstatus, 'P') END AS session,
           coalesce(nullif(o_orderpriority, '3-MEDIUM'), '') AS priority
    FROM orders
    """,
)
def q_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP16 — canonical date strings, session NULL→'Rest Day', NULL→''
    (transforms.py:289-343). NULLs are injected via nullif to exercise the
    fill paths on clean synthetic data."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("record_id"),
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("date"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("Rest Day")).alias("session"),
        F.coalesce(F.nullif("o_orderpriority", F.lit("3-MEDIUM")), F.lit("")).alias("priority"),
    )


@register(
    "q_weekly_rollup",
    oracle="""
    WITH based AS (
        SELECT o_orderdate::DATE AS d,
               (o_orderdate::DATE - isodow(o_orderdate::DATE) * INTERVAL 1 DAY)::DATE AS ws,
               o_totalprice
        FROM orders
    )
    SELECT strftime(ws, '%Y-%m-%d') AS week_start,
           strftime(min(d), '%Y-%m-%d') AS first_day,
           strftime(max(d), '%Y-%m-%d') AS last_day,
           count(*)::BIGINT AS n_orders,
           sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS sum_total
    FROM based
    GROUP BY ws
    """,
)
def q_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP15/OP17 — weekly min/max/count/sum rollup (handler.py:215-226).

    The money sum uses integer cents (functions/money.py) so the aggregate
    is order-free and engine-exact.
    """
    from ..functions.money import to_fixed

    orders = load_table(spark, sf_dir, "orders")
    based = orders.select(
        F.to_date("o_orderdate").alias("d"),
        week_start_sunday(F.to_date("o_orderdate")).alias("ws"),
        "o_totalprice",
    )
    return based.groupBy("ws").agg(
        F.date_format(F.min("d"), "yyyy-MM-dd").alias("first_day"),
        F.date_format(F.max("d"), "yyyy-MM-dd").alias("last_day"),
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(to_fixed("o_totalprice")) / F.lit(100.0)).alias("sum_total"),
    ).select(
        F.date_format("ws", "yyyy-MM-dd").alias("week_start"),
        "first_day",
        "last_day",
        "n_orders",
        "sum_total",
    )
