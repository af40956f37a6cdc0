"""Physical-plan regressions: the scale properties we claim must show up
in .explain output, not just in docstrings."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


from contextlib import contextmanager


@contextmanager
def _fanout_off(spark):
    """Build plans as they would look on properly-split (production)
    input, where the §2.5 fan-out guard never fires: every scan reports
    ``defaultParallelism`` achievable splits."""
    import pytest

    from weightlifting_wod_etl_spark import io

    parallelism = spark.sparkContext.defaultParallelism
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(io, "achievable_scan_splits", lambda path: parallelism)
        yield


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    df = QUERIES["q_tpch_q6"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    # at least the date + quantity predicates reach the parquet reader
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    assert "l_quantity" in plan.split("PushedFilters")[1][:400]


def test_scan_prunes_columns(spark, sf_dir):
    from weightlifting_wod_etl_spark.io import load_table

    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema  # widest column must be pruned


def test_pivot_no_extra_distinct_job(spark, sf_dir):
    """Explicit pivot values ⇒ single aggregate, no values-discovery scan."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    df = QUERIES["q_pivot_wide"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("FileScan") == 1


def test_wholestage_codegen_covers_hot_path(spark, sf_dir):
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    df = QUERIES["q_tpch_q1"](spark, sf_dir)
    df.collect()  # finalize the AQE plan on THIS QueryExecution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators print as "*(n) Op" in the final adaptive plan
    assert "isFinalPlan=true" in plan
    assert "*(" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """Bin bucketing must turn the pure range predicate into an equi-join;
    a BroadcastNestedLoopJoin/CartesianProduct here dies at scale."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    df = QUERIES["q_range_join"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_single_exchange_no_join_node(spark, sf_dir):
    """The union-sort as-of join is a window, not a join: no join operator
    and exactly one Exchange on the key."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    df = QUERIES["q_asof_join"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    # one exchange for the right-side dedup window + carry window share the
    # same (key) partitioning, so they reuse a single shuffle
    assert plan.count("Exchange hashpartitioning") == 1


def test_sampling_queries_are_scan_local(spark, sf_dir):
    """Hash sampling and token chunking must be pure projections/filters —
    zero Exchanges: at 100 TB they run entirely inside the scan stage."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    for name in ("q_hash_sample", "q_chunk_bounds", "q_token_chunks"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "Exchange" not in plan, f"{name} shuffles: not scan-local"


def test_dataset_split_single_shuffle(spark, sf_dir):
    """Split assignment is map-side; only the (split, lang) agg shuffles."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_dataset_split"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_semi_join_is_semi_with_pushed_date_filter(spark, sf_dir):
    """EXISTS must plan as LeftSemi (bounded output, no dup explosion) and
    the orders date range must reach the parquet scan."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_semi_join"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_outer_join_dist_keeps_outer(spark, sf_dir):
    """The priority predicate must stay in the join condition — the plan
    keeps a LeftOuter join (a WHERE would have let Catalyst rewrite it to
    inner and drop zero-order customers). Pinned on q_tpch_q13, the
    canonical Q13 registration (q_outer_join_dist retired r12)."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_tpch_q13"](spark, sf_dir))
    assert "LeftOuter" in plan


def test_anti_scalar_sub_one_row_broadcast_only(spark, sf_dir):
    """The decorrelated threshold may nested-loop ONLY as a one-row cross
    broadcast; the NOT EXISTS itself must be a hash LeftAnti."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_anti_scalar_sub"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "Cross" in plan  # the single-row threshold join, nothing else


def test_full_outer_aggregates_before_join(spark, sf_dir):
    """Both daily series must collapse via hash agg BEFORE the full-outer
    shuffle join — the join input is |distinct days|, not the fact tables."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_full_outer"](spark, sf_dir))
    assert "FullOuter" in plan
    # 2 scans, each followed by partial+final HashAggregate pairs (>=4 total)
    assert plan.count("FileScan") == 2
    assert plan.count("HashAggregate") >= 4


def test_count_distinct_expand_single_scan(spark, sf_dir):
    """Multi-distinct plans via Expand over ONE scan (no self-joins)."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_count_distinct"](spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_window_frames_share_one_sort(spark, sf_dir):
    """All four frame variants (running, moving, lag, lead) share a single
    Exchange + Sort + Window node — no per-frame re-shuffle or re-sort."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_window_frames"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort [") == 1
    assert plan.count("Window ") == 1


def test_sequence_pack_window_partitions_on_bucket(spark, sf_dir):
    """The packing window must partition on (lang, pack_bucket), never lang
    alone — a lang-only partition funnels the full corpus through
    ~|languages| reducers at scale."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_sequence_pack"](spark, sf_dir))
    window_part = plan.split("windowspecdefinition(")[1]
    assert "pack_bucket" in window_part[:200], "window partition key lost the bucket"
    # and the shuffle feeding the window carries the bucket too
    exch = plan.split("Exchange hashpartitioning(")[1]
    assert "pack_bucket" in exch[:200]


def test_q7_q10_filters_reach_scans(spark, sf_dir):
    """Q7's date range must push into the lineitem scan despite the
    disjunctive nation-pair predicate above the joins; Q10's quarter and
    returnflag predicates must reach their scans."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    q7 = _plan(QUERIES["q_tpch_q7"](spark, sf_dir))
    assert "l_shipdate" in q7.split("PushedFilters")[1][:300]
    q10 = _plan(QUERIES["q_tpch_q10"](spark, sf_dir))
    pushed = [seg[:200] for seg in q10.split("PushedFilters")[1:]]
    assert any("o_orderdate" in seg for seg in pushed)
    assert any("l_returnflag" in seg for seg in pushed)


def test_pii_and_repetition_are_scan_local(spark, sf_dir):
    """PII redaction and intra-doc repetition are pure projections —
    zero Exchanges; at 100 TB they fuse into the scan stage. The r18
    §2.5 fan-out guard never fires on properly-split input, so the
    100 TB shape is the plan built under ``_fanout_off`` (production
    inputs have row groups >= cores; the testdata has one)."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    with _fanout_off(spark):
        for name in ("q_pii_redact", "q_intradoc_repetition"):
            plan = _plan(QUERIES[name](spark, sf_dir))
            assert "Exchange" not in plan, f"{name} shuffles"
            assert "BatchEvalPython" not in plan


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval-gram side must broadcast: the train-side stream never
    shuffles on the gram key."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_top_per_group_is_two_phase(spark, sf_dir):
    """Per-group top-k must pre-prune inside (group, hash-bucket) windows
    before the exact per-group window — two Window nodes, and the first
    one's partition key carries the bucket."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    for name in ("q_domain_cap", "q_stratified_sample"):
        df = QUERIES[name](spark, sf_dir)
        plan = _plan(df)
        assert plan.count("Window ") == 2, f"{name} lost the two-phase shape"
        # the physical plan pre-projects the bucket as _w0; the logical
        # plan keeps the expression — assert the bucket there
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        # the stratified sample reuses its md5 projection (__h), so its
        # bucket expression is substring(__h...), not a second md5
        local = logical.split("Window ")[-1]
        assert "substring(md5" in local or "substring(__h" in local, (
            f"{name}: local window does not partition on the hash bucket"
        )


def test_multimodal_ops_are_shuffle_free(spark, sf_dir):
    """resize (1:1) and frame-sample (1:N) are partition-local mapInPandas
    — zero Exchanges; payloads never cross the wire."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    for name in ("q_media_resize", "q_frame_sample"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "Exchange" not in plan, f"{name} shuffles"
        assert "MapInPandas" in plan


def test_no_query_plans_python_row_udfs_or_cartesian(spark, sf_dir):
    """Engine-wide invariant: NO registered query may plan a row-at-a-time
    Python UDF (BatchEvalPython), an un-keyed cartesian product, or an
    unexpected Arrow UDF. The only sanctioned Python surfaces are the
    multimodal mapInPandas stubs and the streaming applyInPandasWithState
    path (not registered here)."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    offenders = {}
    for name, fn in QUERIES.items():
        plan = _plan(fn(spark, sf_dir))
        bad = [
            marker
            for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct")
            if marker in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"slow-path operators in plans: {offenders}"


def test_trigram_entropy_is_shuffle_free(spark, sf_dir):
    """The per-row run-length fold must plan ZERO exchanges — the whole
    point vs the explode+groupBy shape that shuffles one row per corpus
    character. 100 TB shape pinned under ``_fanout_off`` (the §2.5
    guard never fires on properly-split input)."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    with _fanout_off(spark):
        plan = _plan(QUERIES["q_trigram_entropy"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode either


def test_scan_fanout_is_adaptive_not_constant(spark, sf_dir, tmp_path):
    """The §2.5 unsplittable-input guard must (a) fire as a round-robin
    Exchange when achievable splits < parallelism, (b) disappear when
    the input reports as many splits as parallelism, and (c) count real
    row groups so that a well-split production input never pays it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from weightlifting_wod_etl_spark.io import (
        achievable_scan_splits,
        load_table,
    )

    # (a) the testdata ships one row group per table -> guard fires
    df = load_table(spark, sf_dir, "documents", fan_out=True)
    assert "roundrobinpartitioning" in _plan(df).lower()

    # (b) properly-split input never pays it (the 100 TB plan shape)
    with _fanout_off(spark):
        df_off = load_table(spark, sf_dir, "documents", fan_out=True)
        assert "Exchange" not in _plan(df_off)

    # (c) row-group counting: a file written with many small row groups
    # reports them all; >= defaultParallelism would disable the guard
    p = str(tmp_path / "many_groups.parquet")
    pq.write_table(
        pa.table({"x": list(range(1000))}), p, row_group_size=10
    )
    assert achievable_scan_splits(p) == 100
    assert (
        achievable_scan_splits(f"{sf_dir}/documents.parquet")
        < spark.sparkContext.defaultParallelism
    )


def test_funnel_single_user_exchange(spark, sf_dir):
    """Three chained stage windows + the per-user agg must share ONE
    Exchange on user_id (plus the single-row final agg's)."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_funnel_conversion"](spark, sf_dir))
    # exchanges: hashpartitioning(user_id) once + SinglePartition for the
    # global one-row aggregate — anything more means a window re-shuffled
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_passage_dedup_single_hash_shuffle(spark, sf_dir):
    """Chunking is map-side; the only hash exchange keys on passage_hash."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_passage_dedup"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "passage_hash" in plan.split("Exchange hashpartitioning")[1][:200]


def test_tfidf_winner_uses_window_group_limit(spark, sf_dir):
    """The per-doc rank<=1 filter must push as WindowGroupLimit (partial
    top-k before the doc shuffle), and the idf side must broadcast."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_tfidf_topk"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "BroadcastExchange" in plan


def test_canonical_rep_shares_one_group_exchange(spark, sf_dir):
    """Member-count window and winner window partition on the same key —
    one Exchange serves both."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_canonical_rep"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_scd2_windows_share_one_exchange_and_sort(spark, sf_dir):
    """Change-detection lag and interval-close lead partition and order
    identically — one Exchange and ONE sort must serve both windows."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_scd2_snapshot"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort ") == 1


def test_weighted_sample_is_scan_local(spark, sf_dir):
    """Per-row keep-probability sampling must plan zero exchanges — pure
    row arithmetic over the scan."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_weighted_sample"](spark, sf_dir))
    assert "Exchange" not in plan


def test_zscore_broadcasts_stats_back(spark, sf_dir):
    """Group stats reduce to |groups| rows then broadcast onto the fact
    table — one hash exchange (the agg), never a stats window that would
    re-shuffle every fact row onto 5 hot partitions."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_zscore_normalize"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastExchange" in plan


def test_rolling_range_single_user_exchange(spark, sf_dir):
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_rolling_range"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_tpch_ext_no_cartesian_or_nested_loop(spark, sf_dir):
    """The round-6 TPC-H shapes must plan pure hash/broadcast joins —
    even the Q15 scalar-max (a 1-row cross join) must compile to an
    equi-join via the filter's equality, never a nested loop."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    for name in ("q_tpch_q8", "q_tpch_q12", "q_tpch_q13", "q_tpch_q15",
                 "q_tpch_q16", "q_tpch_q17", "q_tpch_q21"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "Cartesian" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name


def test_tpch_q8_broadcasts_dims(spark, sf_dir):
    """Nation/region (and at test SF the other dims) ride broadcast; the
    plan must not shuffle a dimension onto the fact join keys."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_tpch_q8"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Cartesian" not in plan


def test_tpch_q13_outer_join_keeps_every_customer(spark, sf_dir):
    """The priority exclusion must live in the join condition, keeping
    the join outer: Σ custdist == |customer| exactly (a WHERE-clause
    exclusion would silently drop customers whose every order is
    excluded). The testdata has no zero-order customer, so the invariant
    is checked as mass conservation rather than presence of c_count=0."""
    from weightlifting_wod_etl_spark.io import load_table
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    dist = QUERIES["q_tpch_q13"](spark, sf_dir).collect()
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert sum(r["custdist"] for r in dist) == n_cust


def test_tpch_q21_reuses_orderkey_exchange(spark, sf_dir):
    """All three correlation legs key on l_orderkey; the executed plan
    must shuffle lineitem a bounded number of times (semi + anti legs
    share scans/exchanges, no per-leg rescan explosion)."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_tpch_q21"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 4


def test_tdigest_centroids_only_cross_the_wire(spark, sf_dir):
    """The digest pipeline must build scan-locally (MapInPandas with no
    exchange beneath it) and shuffle only centroid rows into the per-group
    merge (FlatMapGroupsInPandas). The extra exchanges belong to the
    exact-percentile verification harness, not the sketch path."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_tdigest_quantile"](spark, sf_dir))
    assert plan.count("MapInPandas") == 1
    assert plan.count("FlatMapGroupsInPandas") == 1
    # stage 1 is scan-local: nothing may shuffle between scan and digest
    map_subtree = plan.split("MapInPandas")[1]
    assert "Exchange" not in map_subtree.split("FileScan")[0].rsplit("+-", 1)[-1]


def test_quantile_bound_reduces_before_join(spark, sf_dir):
    """Both sides (sketch agg, counts-first exact percentiles) reduce to
    |groups| rows before a broadcast join — the fact table never shuffles
    raw rows on the join key."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_quantile_bound"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "Cartesian" not in plan


def test_lateral_topk_decorrelates_to_window_group_limit(spark, sf_dir):
    """The correlated LATERAL sort+limit must decorrelate into a rank
    window with WindowGroupLimit (partial top-k before the exchange) —
    never a per-outer-row rescan (nested loop / cartesian)."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_lateral_topk"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embed_centroid_single_bounded_exchange(spark, sf_dir):
    """The posexplode must partial-combine map-side down to the
    |labels|x|dim| key space before one exchange."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_embed_centroid"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") == 2  # partial + final


def test_tpch_q11_single_fact_scan_window_total(spark, sf_dir):
    """Q11's grand total must be a global window over the part-level
    aggregate, NOT a scalar-subquery branch: Spark plans are trees, so a
    second consumer of the supply subtree would rescan the fact (exchange
    reuse does not bridge the extra aggregation level). Pin: exactly one
    lineitem scan, the SinglePartition exchange ships aggregate rows, and
    no join materializes the threshold."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_tpch_q11"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("Exchange SinglePartition") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the single-partition input is the partkey aggregate, not raw lines
    below = plan.split("Exchange SinglePartition", 1)[1]
    assert below.index("HashAggregate(keys=[l_partkey") < below.index("FileScan")


def test_tpch_q20_is_pure_semi_join_chain(spark, sf_dir):
    """Q20's nest decorrelates to LEFT SEMI joins end-to-end (part filter
    into lineitem, majority set + nation set into supplier) — no Existence
    joins, no nested loop, and the per-part total is a window over the
    aggregated qty matrix (one extra Exchange at most), not a second
    fact-table pass."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_tpch_q20"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    # one scan of lineitem only: majority derives from the agg, not a rescan
    assert plan.count("lineitem.parquet") == 1


def test_fuzzy_dedup_joins_on_block_key(spark, sf_dir):
    """The levenshtein self-join must be an equi-join on the block key
    (the inequality + distance land as join conditions/filters) — an
    unblocked all-pairs nested loop is the exact scale failure the
    blocking exists to prevent."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_fuzzy_dedup"](spark, sf_dir))
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan  # JVM expression, not a Python UDF
    assert "BatchEvalPython" not in plan


def test_cumulative_distinct_aggregates_before_global_window(spark, sf_dir):
    """Entity first-seen collapses via partial-aggregable min BEFORE any
    single-partition work: the global running-sum window (the deliberate
    SinglePartition) must sit above daily aggregates, and the fact-sized
    shuffles key on the entity, never ship raw events to one partition."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_cumulative_distinct"](spark, sf_dir))
    assert plan.count("Exchange SinglePartition") == 1  # the calendar window
    # raw events shuffle on entity keys (uniform, partial-aggregated)...
    assert "hashpartitioning(user_id" in plan
    # ...and the single-partition exchange's INPUT subtree (children print
    # after the parent) is day-level aggregate rows, never raw events
    below = plan.split("Exchange SinglePartition", 1)[1]
    assert below.index("HashAggregate(keys=[day") < below.index("FileScan")


def test_global_topn_is_take_ordered_not_full_sort(spark, sf_dir):
    """A bounded ORDER BY LIMIT must compile to TakeOrderedAndProject
    (per-task heaps, no range-partitioned sort exchange) — a global Sort
    here would total-shuffle the fact table at scale."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_global_topn"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_ewma_single_window_no_join(spark, sf_dir):
    """The truncated-geometric EWMA is 8 lags over ONE per-user window:
    exactly one Exchange + Sort, no self-join."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_ewma"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_mad_anomaly_broadcasts_stats_never_shuffles_raw_rows(spark, sf_dir):
    """Both medians reduce through the counts-first percentile operator
    (shuffle volume = distinct (group, value) pairs) and the per-group
    stats come back as broadcast joins — raw event rows must never be
    hash-exchanged on the low-cardinality group key alone."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_mad_anomaly"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the counts-first shuffles carry the VALUE in their keys (distinct
    # (group, value) pairs cross the wire, not raw rows). The med branch's
    # identical (event_type, cents) exchange sits BEHIND dev's
    # localCheckpoint boundary (the r10 4-scans→2 fix), so only the mad
    # median's counts exchange is visible in the final plan.
    keys = [seg.split(")", 1)[0] for seg in plan.split("Exchange hashpartitioning(")[1:]]
    assert any("dev" in k for k in keys), keys
    # ...and any group-keyed exchange ships partial-aggregate output, so
    # every exchange sits above a map-side HashAggregate or a reduced frame
    assert "partial_count" in plan or "partial_sum" in plan


def test_cms_expands_vocabulary_not_corpus(spark, sf_dir):
    """The 4x hash expansion of the count-min sketch must sit ABOVE the
    token-vocabulary aggregate (explode of 4 structs per DISTINCT token),
    never multiply the raw token stream before its first reduction."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_cms_estimate"](spark, sf_dir))
    # two corpus scans exactly: the sketch pass and the exact-count
    # verification twin (the twin drops at scale — q_quantile_bound's
    # accepted shape); never a third
    assert plan.count("documents.parquet") == 2
    assert "HashAggregate(keys=[tok" in plan
    # the sketch-side 4-struct hash expansion (the build side of the est
    # join, printed last) sits ABOVE the vocabulary aggregate — i.e. it
    # multiplies DISTINCT tokens, never the raw stream
    gen_tail = plan.rsplit("Generate explode(array(struct", 1)[1]
    assert "HashAggregate(keys=[tok" in gen_tail


def test_hll_bound_dedups_before_sketch_no_distinct_rewrite(spark, sf_dir):
    """The exact twin must come from a functionless (group, user) dedup
    aggregate, NEVER from count(DISTINCT) mixed into the sketch agg —
    Catalyst's distinct-rewrite would carry the rsd=0.01 HLL buffer
    (1640 longs) as per-(group, user) grouping state (measured 4× slower
    at sf0.1)."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_hll_bound"](spark, sf_dir))
    assert "count(distinct" not in plan
    # the pair-keyed dedup aggregates carry no aggregate functions
    for seg in plan.split("HashAggregate(keys=[event_type")[1:]:
        head = seg.split("output=[", 1)[0]
        if ", user_id" in seg.split("]", 1)[0]:
            assert "approx_count_distinct" not in head, head


def test_bloom_semi_join_broadcasts_bitmap_no_nested_loop(spark, sf_dir):
    """The bitmap side must be a broadcast hash join (the fact table never
    shuffles for the bit-test) and nothing in the plan may degrade to a
    nested loop / cartesian."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    import re

    plan = _plan(QUERIES["q_bloom_semi_join"](spark, sf_dir))
    # pin the word-index join itself — a bare "BroadcastHashJoin in plan"
    # also matches the verify semi join and misses a fact-side shuffle
    assert re.search(r"BroadcastHashJoin \[__bf_word", plan), plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan  # the exact verify join survives as a semi


def test_chi_square_single_data_proportional_scan(spark, sf_dir):
    """The four consumers of the cell-count frame (marginals ×2, total,
    grid) must share ONE events pass via the lazy localCheckpoint — the
    plan shows the checkpoint barrier, not 4 parquet scans."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_chi_square"](spark, sf_dir))
    assert plan.count("FileScan") == 0, plan.count("FileScan")


def test_streaks_windows_run_on_activity_calendar(spark, sf_dir):
    """The island window must sit above the (user, day) distinct — raw
    event rows never reach a window operator."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_streaks"](spark, sf_dir))
    # dedup aggregate appears below the window in the plan text
    assert "Window" in plan and "HashAggregate" in plan
    w_pos = plan.index("Window")
    assert "HashAggregate" in plan[w_pos:], "no aggregate below the window"


def test_mode_per_group_uses_window_group_limit(spark, sf_dir):
    """rank=1 over per-user counts must push the limit map-side."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_mode_per_group"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_unpivot_is_expand_single_aggregate(spark, sf_dir):
    """UNPIVOT must plan as a map-side Expand feeding ONE partial-agg
    exchange — not four scans unioned."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_unpivot_measures"](spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("FileScan") == 1


def test_rollup_is_expand_single_scan(spark, sf_dir):
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_rollup_time"](spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("FileScan") == 1


def test_recursive_reachability_recursion_off_raw_events(spark, sf_dir):
    """The recursion must iterate over the collapsed edge view; the raw
    events table appears once (edge derivation), not once per hop."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    df = QUERIES["q_recursive_reachability"](spark, sf_dir)
    plan = _plan(df)
    # the lazy localCheckpoint hides the events scan behind an RDD barrier:
    # zero parquet scans in the recursion plan means the per-hop edge
    # re-derivation (measured 1.84 s at sf0.1, ~9x the fixed version)
    # cannot come back
    assert plan.count("events.parquet") == 0, plan.count("events.parquet")


def test_skyline_window_runs_on_collapsed_points(spark, sf_dir):
    """The global skyline window must sit above the per-price max
    aggregate (|distinct prices| rows), never over raw parts; the
    join-back of surviving points must broadcast."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_skyline"](spark, sf_dir))
    assert "Window" in plan and "BroadcastHashJoin" in plan
    w_pos = plan.index("Window")
    assert "HashAggregate" in plan[w_pos:], "window not above the collapse agg"


def test_nullsafe_join_is_hash_join_not_nested_loop(spark, sf_dir):
    """EqualNullSafe must remain a sargable join key: a broadcast HASH
    join, never a nested-loop with the null-safe predicate as a filter."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_nullsafe_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partitioned_layout_prunes_partitions_at_plan_time(spark, tmp_path):
    """Hive-partitioned writes must yield PartitionFilters (directory-level
    pruning before any file is opened) — the at-rest layout contract
    io.write_parquet's partition_by exists for."""
    from pyspark.sql import functions as F

    from weightlifting_wod_etl_spark.io import load_table, write_parquet

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_date")
    write_parquet(events, path, partition_by=["event_date"])

    full = spark.read.parquet(path)
    n_days = full.select("event_date").distinct().count()
    assert n_days > 3

    one_day = full.filter(
        F.col("event_date") == full.agg(F.min("event_date")).collect()[0][0]
    )
    plan = _plan(one_day)
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "event_date" in pf, "date predicate did not become a partition filter"
    # and the predicate is NOT also a data filter — it never reaches row
    # evaluation, the directories simply aren't listed
    assert one_day.count() > 0
    assert one_day.count() < full.count() / 3


def test_rank_fns_one_window_node_no_duplicated_functions(spark, sf_dir):
    """r14 regression pin: composing round_ratio_exact directly over
    rank()/count() window functions minted ~19 duplicate window
    expressions inside one WindowExec (window expressions extract per
    OCCURRENCE, no CSE) — 0.39 s → 3.59 s at sf0.1. The two-stage shape
    must keep ONE Window node over ONE exchange with each window
    function computed once (a handful of _we aliases, never ~19)."""
    import re

    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    plan = _plan(QUERIES["q_rank_fns"](spark, sf_dir))
    assert plan.count("Window ") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    n_we = len(set(re.findall(r"_we\d+", plan)))
    assert n_we <= 6, f"window expressions duplicated again: {n_we} _we aliases"


import pytest as _pytest


@_pytest.fixture(scope="module")
def registered_plans(spark, sf_dir):
    """Every registered query's physical-plan string, built ONCE per
    module — the engine-wide _we sweep and the HOF-duplication sweep
    both walk all ~150 plans; sharing the build halves the cost."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    return {name: _plan(fn(spark, sf_dir)) for name, fn in QUERIES.items()}


def test_no_query_duplicates_window_expressions_engine_wide(registered_plans):
    """r15 (VERDICT r14 #2): generalize the q_rank_fns pin into a sweep.
    Catalyst extracts window expressions per OCCURRENCE with no CSE, so
    composing a multi-reference helper (round_ratio_exact, coalesce+
    isNull pairs, ...) directly over a window function silently mints
    duplicate _we chains inside WindowExec — the class behind the r14
    q_rank_fns 4.35x regression and q_ewma's 14-for-7 lag extraction
    (fixed r15 by two-staging). Build every registered query's physical
    plan and bound the distinct _we count so the NEXT
    helper-over-window-function migration fails THIS test, not a bench.

    Allowlist: q_event_transitions composes directly over lead() by
    sanction — its window runs on a <=36-row event_type x event_type
    aggregate (r14 audit), where duplication costs nanoseconds and the
    two-stage rewrite would cost more in code than it saves.
    """
    import re

    SANCTIONED = {
        # windows a <=36-row aggregate; duplication is free there
        "q_event_transitions": 40,
    }
    BOUND = 8
    offenders = {}
    for name, plan in registered_plans.items():
        if "Window" not in plan:
            continue
        n_we = len(set(re.findall(r"_we\d+", plan)))
        if n_we > SANCTIONED.get(name, BOUND):
            offenders[name] = n_we
    assert not offenders, (
        f"window expressions duplicated (> {BOUND} distinct _we aliases; "
        f"per-occurrence extraction, no CSE — two-stage the projection "
        f"or let-bind the operand): {offenders}"
    )


# r16 (VERDICT r15 #4): per-plan occurrence bounds for expensive subtrees
# in HOF-bearing (interpreted) projections. Calibrated against the r16
# engine-wide survey — current maxima: pmod 12 (q_curation_pipeline: the
# 6-instance tiered quality expression, duplicated once by CollapseProject
# into its filter consumer), array_intersect 4 / array_distinct 5
# (q_ngram_jaccard), regexp_extract_all 4, array_sort 1. The pre-fix
# q_curation_pipeline shape carried 20 pmod instances (proved caught by
# the negative control below). Headroom is deliberately small: one more
# helper-inlining regression of the r15 class blows the bound.
HOF_EXPENSIVE_BOUNDS = {
    "pmod(": 14,
    "array_intersect(": 6,
    "regexp_extract_all(": 6,
    "array_distinct(": 8,
    "array_sort(": 4,
}


def test_no_hof_plan_duplicates_expensive_subtrees_engine_wide(registered_plans):
    """r16 (VERDICT r15 #4): the interpreted-HOF helper rule as a sweep.
    Higher-order functions are CodegenFallback, so any projection
    containing a ``let`` runs INTERPRETED — and interpreted evaluation
    re-computes every duplicated subtree per occurrence (no codegen
    subexpression reuse). A multi-reference helper composed un-let-bound
    inside such a projection silently multiplies real per-row work: the
    r15 q_curation_pipeline episode carried 20 pmod instances and ran 2x
    slow until round_ratio_exact_posden/i64 let-bound the internals.
    Plan-level occurrence counts are the cheap detector (the rule is
    written up in functions/money.round_ratio_exact_posden's docstring);
    this sweep bounds them for every registered query whose physical
    plan contains a lambdafunction."""
    offenders = {}
    for name, plan in registered_plans.items():
        if "lambdafunction" not in plan:
            continue
        over = {
            tok: plan.count(tok)
            for tok, bound in HOF_EXPENSIVE_BOUNDS.items()
            if plan.count(tok) > bound
        }
        if over:
            offenders[name] = over
    assert not offenders, (
        f"expensive subtrees duplicated inside interpreted HOF plans "
        f"(bounds {HOF_EXPENSIVE_BOUNDS}; let-bind the helper internals "
        f"— functions/money.round_ratio_exact_posden is the model): "
        f"{offenders}"
    )


def test_hof_duplication_detector_catches_prefix_curation_shape(spark):
    """Negative control for the sweep above: reconstruct the r15 PRE-FIX
    q_curation_pipeline shape — the GENERAL round_ratio_exact composed
    directly inside the let-bound feats projection, consumed by both a
    filter and an aggregate (CollapseProject duplicates the projection
    into each consumer) — and prove the detector flags it. Keeps the
    sweep's bound honest: if a refactor ever loosens the counting, this
    test fails first."""
    from pyspark.sql import functions as F

    from weightlifting_wod_etl_spark.functions.expr import let as _let
    from weightlifting_wod_etl_spark.functions.money import round_ratio_exact
    from weightlifting_wod_etl_spark.operators.text import (
        PUNCT_CLASS,
        stopword_count,
        ws_token_count,
    )

    text = F.col("text")
    feats = F.struct(
        ws_token_count(text).alias("n_toks"),
        F.size(F.regexp_extract_all(text, F.lit(PUNCT_CLASS), 0))
        .cast("bigint")
        .alias("n_punct"),
        F.length(text).cast("bigint").alias("n_chars"),
        stopword_count(text).alias("stop"),
    )

    def body(f):
        m = F.least(f.n_toks, F.lit(100))
        big_l = F.greatest(f.n_chars, F.lit(1))
        big_t = F.greatest(f.n_toks, F.lit(1))
        q = F.least(5 * f.n_punct, big_l)
        r = F.least(5 * f.stop, big_t)

        def c(x):
            return x.cast("decimal(38,0)")

        num = (
            F.lit(4) * c(m) * c(big_l) * c(big_t)
            + F.lit(300) * (c(big_l) - c(q)) * c(big_t)
            + F.lit(300) * c(r) * c(big_l)
        )
        return round_ratio_exact(num, F.lit(1000) * c(big_l) * c(big_t), 4)

    df = spark.createDataFrame([("hello world",)], "text string")
    scored = df.select(
        F.when(text.isNotNull(), _let(feats, body)).alias("quality")
    )
    # filter + aggregate both consume `quality`, as the real pipeline does
    prefix = scored.filter(F.col("quality") >= 0.5).agg(
        F.sum("quality").alias("sum_quality")
    )
    plan = _plan(prefix)
    assert "lambdafunction" in plan
    assert plan.count("pmod(") > HOF_EXPENSIVE_BOUNDS["pmod("], (
        "the reconstructed pre-fix shape no longer trips the detector — "
        f"pmod count {plan.count('pmod(')}"
    )
