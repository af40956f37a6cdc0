"""Analytics extensions: rolling-hash fingerprint, exact percentiles,
CUBE grouping sets, tumbling time windows.

These widen the engine's declared surface beyond the reference's own
operators (SURVEY.md §2 north-star extensions): content-defined
fingerprinting for dedup pipelines, distribution statistics, OLAP grouping
sets, and the batch analog of a streaming tumbling-window aggregation.

Scale notes (100 TB): every query here is a single-shuffle hash aggregate
or a pure projection — no joins, no windows over unbounded partitions.
The rolling hash is a per-row ``aggregate`` over the token array (JVM
higher-order function, whole-stage codegen, zero Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.casefold import (
    oracle_portable_lower_sql,
    portable_lower,
)
from ..functions.money import to_fixed
from ..io import load_table
from ..queries_registry import register

# Rabin-Karp parameters: multiplier co-prime to the Mersenne-ish modulus;
# acc < 2^31 so acc * MULT < 2^51 — no bigint overflow under ANSI mode.
_ROLL_MULT = 1_000_003
_ROLL_MOD = 2_147_483_647


def rolling_hash(text: Column) -> Column:
    """Polynomial rolling hash (Rabin-Karp) over whitespace tokens.

    Token value = ascii(first char) * 1009 + length — cheap, engine-portable
    (identical in DuckDB), and sensitive to token order, unlike a bag-of-
    words hash. The '_' append makes the empty token well-defined without a
    conditional. Runs entirely in codegen via ``aggregate`` — the reference
    fingerprints documents one-at-a-time in Python (md5 of normalized text);
    here the hash is a streaming fold that at 100 TB never leaves the scan
    stage.
    """
    # explicit class, not \s: Java \s includes \x0B, RE2's does not
    # (review r11)
    # portable_lower (r16): the hash keys on exact lowered codepoints
    toks = F.split(F.trim(portable_lower(text)), r"[ \t\n\f\r]+")
    return F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: (
            acc * F.lit(_ROLL_MULT)
            + F.ascii(F.substring(F.concat(t, F.lit("_")), 1, 1)).cast("bigint") * F.lit(1009)
            + F.length(t)
        )
        % F.lit(_ROLL_MOD),
    )


@register(
    "q_rolling_hash",
    oracle=rf"""
    WITH fp AS (
        SELECT doc_id,
               -- CASE mirror of Spark's F.aggregate(NULL array) -> NULL:
               -- DuckDB's list_prepend(0, NULL) is [0], which would hash
               -- NULL text to fingerprint 0 instead of NULL
               CASE WHEN text IS NULL THEN NULL ELSE
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform(
                           regexp_split_to_array(trim({oracle_portable_lower_sql('text')}), '[ \t\n\f\r]+'),
                           t -> (ascii(substr(t || '_', 1, 1)) * 1009 + length(t))::BIGINT)),
                   (a, b) -> (a * 1000003 + b) % 2147483647) END AS fingerprint
        FROM documents
    )
    SELECT doc_id, fingerprint,
           count(*) OVER (PARTITION BY fingerprint)::BIGINT AS n_same
    FROM fp
    """,
)
def q_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint + duplicate cluster size —
    the content-defined-chunking primitive of dedup pipelines (complements
    q_doc_fingerprint's normalized md5)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", rolling_hash(F.col("text")).alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return fp.select("doc_id", "fingerprint", F.count(F.lit(1)).over(w).alias("n_same"))


@register(
    "q_percentile",
    oracle="""
    WITH c AS (SELECT l_returnflag, round(l_extendedprice * 100)::BIGINT AS cents
               FROM lineitem)
    SELECT l_returnflag,
           quantile_cont(cents, [0.25, 0.5, 0.75])[1]::DOUBLE / 100.0 AS p25,
           quantile_cont(cents, [0.25, 0.5, 0.75])[2]::DOUBLE / 100.0 AS p50,
           quantile_cont(cents, [0.25, 0.5, 0.75])[3]::DOUBLE / 100.0 AS p75,
           -- count(cents), not count(*): NULL values are ignored by the
           -- quantiles and by exact_percentiles' n_items; an all-NULL
           -- group stays PRESENT on both sides (NULL quantiles, 0 items)
           count(cents)::BIGINT AS n_items
    FROM c
    GROUP BY l_returnflag
    """,
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (one agg buffer for
    all three cut points).

    Engine-exactness: cut points are DYADIC (1/4, 1/2, 3/4) and the input is
    integer cents, so position, fraction, and interpolated value are all
    exactly representable doubles — ``(a+b)/2`` vs ``a+f*(b-a)`` agree
    bit-for-bit however each engine orders the ops (a non-dyadic p90 over
    raw doubles differs in the last ulp and flips round() at .xx5
    boundaries). Scale: operators/percentile.py aggregates value COUNTS
    first (map-side combinable), then windows over distinct values — no
    reducer ever buffers a group's raw rows, unlike ``F.percentile`` whose
    buffer is the group itself (3 groups ⇒ 3 reducers hold everything)."""
    from ..operators.percentile import exact_percentiles

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", to_fixed("l_extendedprice").alias("__cents")
    )
    p = exact_percentiles(li, ["l_returnflag"], "__cents", [0.25, 0.5, 0.75])
    return p.select(
        "l_returnflag",
        (F.col("p25") / F.lit(100.0)).alias("p25"),
        (F.col("p50") / F.lit(100.0)).alias("p50"),
        (F.col("p75") / F.lit(100.0)).alias("p75"),
        "n_items",
    )


@register(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING_ID(o_orderstatus, o_orderpriority)::BIGINT AS gid,
           count(*)::BIGINT AS n_orders,
           round(sum(round(o_totalprice * 100)::BIGINT) / 100.0, 2) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE grouping sets with grouping-id disambiguation — all 4
    grouping sets in ONE pass (Spark expands the sets map-side before a
    single shuffle; no per-level rescan of the fact table)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(to_fixed("o_totalprice")) / F.lit(100.0), 2).alias("sum_price"),
    )


@register(
    "q_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING_ID(o_orderstatus, o_orderpriority)::BIGINT AS gid,
           count(*)::BIGINT AS n_orders,
           round(sum(round(o_totalprice * 100)::BIGINT) / 100.0, 2) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-hierarchical GROUPING SETS — two independent marginals that
    neither ROLLUP nor CUBE expresses, still ONE Expand + one shuffle (the
    naive alternative is two scans + a union). grouping_id disambiguates
    which marginal a row belongs to since either key column can be NULL."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"]], "o_orderstatus", "o_orderpriority"
    ).agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(to_fixed("o_totalprice")) / F.lit(100.0), 2).alias("sum_price"),
    )


@register(
    "q_tumbling_window",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type,
           count(*)::BIGINT AS n_events,
           round(sum(round(value * 100)::BIGINT) / 100.0, 2) AS sum_value
    FROM events
    -- Spark's window() silently drops NULL timestamps; time_bucket(NULL)
    -- would keep a NULL bucket — both engines filter explicitly
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation — the batch analog of the
    streaming `groupBy(window(...))` plan in streaming/sessions.py; windows
    are computed map-side (pure projection), so this is one hash-agg
    shuffle keyed on (bucket, type) regardless of input size. The NULL-ts
    filter makes window()'s implicit null-drop explicit (the oracle has
    no such implicit)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(to_fixed("value")) / F.lit(100.0), 2).alias("sum_value"),
    )
    return agg.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@register(
    "q_sliding_window",
    oracle="""
    SELECT strftime(s, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           count(*)::BIGINT AS n_events,
           round(sum(round(value * 100)::BIGINT) / 100.0, 2) AS sum_value
    FROM (
        SELECT value,
               unnest([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS s
        FROM events
        -- same explicit NULL-ts filter as q_tumbling_window
        WHERE ts IS NOT NULL
    )
    GROUP BY 1
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) 1-hour window, 30-minute slide — each event lands
    in exactly 2 windows. Spark expands the window memberships map-side
    (pure projection, ×2 row amplification) then hash-aggregates: one
    shuffle keyed on bucket start, identical to the streaming
    `groupBy(window(ts, '1 hour', '30 minutes'))` plan. NULL-ts filter:
    see q_tumbling_window."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    agg = ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(to_fixed("value")) / F.lit(100.0), 2).alias("sum_value"),
    )
    return agg.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        "n_events",
        "sum_value",
    )


@register(
    "q_map_fns",
    oracle="""
    SELECT o_orderkey,
           element_at(map_concat(MAP {'status': o_orderstatus, 'prio': o_orderpriority},
                                 MAP {'okey': o_orderkey::VARCHAR}), 'status')[1] AS status,
           element_at(map_concat(MAP {'status': o_orderstatus, 'prio': o_orderpriority},
                                 MAP {'okey': o_orderkey::VARCHAR}), 'prio')[1] AS prio,
           cardinality(map_concat(MAP {'status': o_orderstatus, 'prio': o_orderpriority},
                                  MAP {'okey': o_orderkey::VARCHAR}))::BIGINT AS n_keys
    FROM orders
    """,
)
def q_map_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction / merge / lookup (SURVEY §2.2 map-fns row: the
    reference's dict build + {**a, **b} merge + rename-map lookup) — all
    scan-local expressions; DuckDB's element_at returns a list, hence the
    [1] unwrap in the oracle."""
    o = load_table(spark, sf_dir, "orders")
    m = F.map_concat(
        F.create_map(
            F.lit("status"), F.col("o_orderstatus"),
            F.lit("prio"), F.col("o_orderpriority"),
        ),
        F.create_map(F.lit("okey"), F.col("o_orderkey").cast("string")),
    )
    return o.select(
        "o_orderkey",
        F.element_at(m, "status").alias("status"),
        F.element_at(m, "prio").alias("prio"),
        F.size(m).cast("bigint").alias("n_keys"),
    )


@register(
    "q_window_dedup",
    oracle="""
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM events
    -- NULLS LAST pinned both sides (r12): Spark ASC defaults NULLS
    -- FIRST, DuckDB NULLS LAST — a NULL ts tie inside the NULL-hour
    -- bucket (or a NULL event_id at a ts tie) would keep different rows
    QUALIFY row_number() OVER (
        PARTITION BY user_id, event_type, time_bucket(INTERVAL '1 hour', ts)
        ORDER BY ts NULLS LAST, event_id NULLS LAST) = 1
    """,
)
def q_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event per (user, type) per hour — the batch analog of
    streaming ``dropDuplicatesWithinWatermark`` (streaming/dedup state
    keyed the same way; the 1-hour bucket is the watermark horizon). The
    driver can't observe a running stream, so this pins the dedup
    SEMANTICS the streaming path shares: keep-first under an explicit
    (ts, event_id) total order — never arrival-order dropDuplicates,
    whose winner changes run to run.

    Plan: one exchange on the dedup key (user, type, hour) with
    WindowGroupLimit pushing the rank filter map-side; at 100 TB the key
    space grows with users × hours, so no key is ever hot."""
    e = load_table(spark, sf_dir, "events")
    # asc_nulls_last pins (r12): all NULL-ts events share the NULL hour
    # bucket, where unpinned ASC put a NULL event_id FIRST in Spark and
    # LAST in DuckDB — a different surviving row per engine
    w = Window.partitionBy(
        "user_id", "event_type", F.date_trunc("hour", "ts")
    ).orderBy(F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
    )


@register(
    "q_pruned_scan",
    oracle="""
    SELECT o_orderpriority,
           count(*)::BIGINT AS n_orders,
           round(sum(round(o_totalprice * 100)::BIGINT) / 100.0, 2) AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <= TIMESTAMP '1996-03-31 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def q_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-stats data skipping as a LIVE read path (VERDICT r6 §next.5).

    Writes a date-clustered copy of ``orders`` (repartitionByRange on
    o_orderdate → per-file date spans are disjoint), then answers a
    quarter's revenue question through ``io.read_pruned`` — the scan opens
    only the files whose footer min/max intersect the quarter, and the
    still-applied predicate makes the result identical to a full scan by
    construction (which is exactly what the oracle checks against the raw
    table). test_skipping.py asserts the file-count reduction; at 100 TB
    this layout + index turns a point/range query from a full-table scan
    into a handful of file opens, the same mechanism Delta/Iceberg ship in
    their metadata layers."""
    import datetime

    # The clustered layout is a FIXTURE, not the thing measured: built
    # once per process and source generation so the bench times the
    # pruned READ — at deployment the table is maintained clustered by
    # compact/zorder, not rebuilt per query (VERDICT r8 §next.6). See
    # operators/skipping.clustered_scratch_copy.
    from ..operators.skipping import clustered_scratch_copy

    scratch = clustered_scratch_copy(
        spark,
        sf_dir,
        "orders",
        ["o_orderdate", "o_orderpriority", "o_totalprice"],
        "o_orderdate",
    )
    from ..io import read_pruned

    pruned = read_pruned(
        spark,
        scratch,
        "o_orderdate",
        datetime.datetime(1996, 1, 1),
        datetime.datetime(1996, 3, 31),
    )
    return pruned.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # to_fixed, not a hand-inlined round().cast: the helper carries
        # the r11 non-finite/overflow guard (review r11)
        F.round(F.sum(to_fixed("o_totalprice")) / F.lit(100.0), 2).alias(
            "revenue"
        ),
    )


@register(
    "q_skyline",
    oracle="""
    SELECT p.p_partkey, round(p.p_retailprice, 2) AS price,
           p.p_size::BIGINT AS size
    FROM part p
    -- a part with an unknown dimension has no place on a Pareto
    -- frontier: NULL comparisons make it vacuously undominated in the
    -- NOT EXISTS while the engine's equi-join back drops NULL keys
    WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
      AND NOT EXISTS (
        SELECT 1 FROM part s
        WHERE s.p_retailprice <= p.p_retailprice
          AND s.p_size >= p.p_size
          AND (s.p_retailprice < p.p_retailprice OR s.p_size > p.p_size)
    )
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier): parts not dominated on (price low, size
    high) — the multi-criteria shortlist operator. The oracle states the
    naive quadratic NOT EXISTS; the engine computes the same set in
    O(n log n):

    1. collapse to the best (max) size per distinct price — one uniform
       hash shuffle; anything below its price's best is dominated by it
       (strictly smaller size, equal price);
    2. one ordered window over the COLLAPSED per-price maxima: a price's
       best survives iff it strictly exceeds the running max over all
       strictly-cheaper prices (rows frame after the per-price collapse ≡
       strictly-smaller prices);
    3. join the surviving (price, size) points back to parts — ties on a
       skyline point are all non-dominated (no strict inequality), so
       every part carrying that point returns.

    The global window runs on |distinct prices| rows, not |parts|; at
    100 TB use skyline-of-skylines (the operator is associative: the
    skyline of a union is the skyline of per-partition skylines) to
    pre-reduce before this window — step 1 already is that pre-reduction
    keyed by price."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
    )
    pts = p.groupBy("p_retailprice").agg(F.max("p_size").alias("best_size"))
    w = (
        Window.orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = (
        pts.withColumn("prev_best", F.max("best_size").over(w))
        .filter(
            F.col("prev_best").isNull()
            | (F.col("best_size") > F.col("prev_best"))
        )
        .select("p_retailprice", F.col("best_size").alias("p_size"))
    )
    return (
        p.join(F.broadcast(sky), ["p_retailprice", "p_size"])
        .select(
            "p_partkey",
            F.round("p_retailprice", 2).alias("price"),
            F.col("p_size").cast("long").alias("size"),
        )
    )
