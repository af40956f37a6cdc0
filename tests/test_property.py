"""Property-based checks: custom operators vs independent brute-force
references on randomized inputs (hypothesis). Complements the DuckDB
oracle parity sweep — these catch semantic edge cases (ties, empties,
boundary rows) the fixed corpus may never hit.

Spark round-trips are slow, so examples are few but adversarially shaped:
tiny domains force duplicate keys, equal timestamps, and boundary hits.
"""

from __future__ import annotations

from tests.conftest import SF_SMOKE

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from weightlifting_wod_etl_spark.operators.asof import asof_join
from weightlifting_wod_etl_spark.operators.graph import connected_components
from weightlifting_wod_etl_spark.operators.percentile import exact_percentiles
from weightlifting_wod_etl_spark.operators.rangejoin import band_range_join

_SETTINGS = dict(
    max_examples=5, deadline=None, suppress_health_check=list(HealthCheck)
)


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 9)),
        min_size=1,
        max_size=25,
    ),
)
@settings(**_SETTINGS)
def test_asof_join_matches_bruteforce(spark, left, right):
    """For every left row: payload of the max-(ts, tiebreak) right row with
    right_ts <= left_ts on the same key, else null."""
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], ["lid", "k", "lts"]
    )
    rdf = spark.createDataFrame(right, ["k", "rts", "tb"])
    got = {
        r.lid: r.asof_tb
        for r in asof_join(
            ldf, rdf, key="k", left_ts="lts", right_ts="rts",
            right_payload=["tb"], tiebreak="tb",
        ).collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [(rts, tb) for (rk, rts, tb) in right if rk == k and rts <= t]
        want = max(cands)[1] if cands else None
        assert got[i] == want, f"left row {i} (k={k}, ts={t}): {got[i]} != {want}"


@given(
    points=st.lists(st.integers(0, 100), min_size=1, max_size=20),
    intervals=st.lists(
        st.tuples(st.integers(0, 100), st.integers(0, 40)), min_size=1, max_size=10
    ),
)
@settings(**_SETTINGS)
def test_range_join_matches_nested_loop(spark, points, intervals):
    """Bin bucketing must produce EXACTLY the half-open-interval pairs,
    independent of bin width (probe widths around and off interval sizes)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    pdf = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=s)) for i, s in enumerate(points)],
        ["pid", "pts"],
    )
    idf = spark.createDataFrame(
        [
            (j, base + dt.timedelta(seconds=s), base + dt.timedelta(seconds=s + w))
            for j, (s, w) in enumerate(intervals)
        ],
        ["iid", "istart", "iend"],
    )
    for bin_w in (1, 7, 64):
        got = {
            (r.pid, r.iid)
            for r in band_range_join(pdf, idf, "pts", "istart", "iend", bin_w).collect()
        }
        want = {
            (i, j)
            for i, s in enumerate(points)
            for j, (st_, w) in enumerate(intervals)
            if st_ <= s < st_ + w
        }
        assert got == want, f"bin_width={bin_w}: {got ^ want}"


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=30
    )
)
@settings(**_SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    parent = list(range(13))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    want = {n: find(n) for n in nodes}

    edf = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.component for r in connected_components(edf).collect()}
    assert got == want


@given(
    vals=st.lists(st.integers(0, 30), min_size=1, max_size=40),
)
@settings(**_SETTINGS)
def test_exact_percentiles_match_numpy(spark, vals):
    """Dyadic cuts over integers: must equal numpy's linear interpolation
    exactly (same pos = p*(n-1) definition)."""
    df = spark.createDataFrame([("g", v) for v in vals], ["g", "v"])
    row = exact_percentiles(df, ["g"], "v", [0.25, 0.5, 0.75]).collect()[0]
    want = np.percentile(np.array(vals, dtype=np.float64), [25, 50, 75])
    assert row.n_items == len(vals)
    assert (row.p25, row.p50, row.p75) == tuple(want), (
        f"{(row.p25, row.p50, row.p75)} != {tuple(want)}"
    )


def test_asof_join_equal_ts_right_before_left(spark):
    """At-or-before includes ties: a right row at exactly left_ts carries."""
    ldf = spark.createDataFrame([(1, 10)], ["k", "lts"])
    rdf = spark.createDataFrame([(1, 10, 7)], ["k", "rts", "tb"])
    out = asof_join(
        ldf, rdf, key="k", left_ts="lts", right_ts="rts",
        right_payload=["tb"], tiebreak="tb",
    ).collect()
    assert out[0].asof_tb == 7


def test_merge_asof_cross_check(spark):
    """Deterministic cross-check against pandas merge_asof on a seeded set
    with duplicate (key, ts) right rows."""
    rng = np.random.RandomState(7)
    left = pd.DataFrame(
        {"k": rng.randint(0, 4, 60), "lts": rng.randint(0, 40, 60)}
    ).reset_index(names="lid")
    right = pd.DataFrame(
        {
            "k": rng.randint(0, 4, 40),
            "rts": rng.randint(0, 40, 40),
            "tb": rng.randint(0, 100, 40),
        }
    )
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            key="k", left_ts="lts", right_ts="rts",
            right_payload=["tb"], tiebreak="tb",
        )
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    # merge_asof keeps the LAST right row among equal rts; sorting by
    # (rts, tb) makes that the max-tiebreak row = asof_join's winner
    want = pd.merge_asof(
        left.sort_values(["lts", "lid"]),
        right.sort_values(["rts", "tb"]),
        left_on="lts", right_on="rts", by="k",
        direction="backward", allow_exact_matches=True,
    ).sort_values("lid").reset_index(drop=True)
    assert (
        got["asof_tb"].fillna(-1).astype(int).tolist()
        == want["tb"].fillna(-1).astype(int).tolist()
    )


def test_ngram_jaccard_df_cap_bounds_hot_shingle_blowup(spark):
    """A stop-phrase shared by k docs must NOT expand to k²/2 candidate
    pairs when the document-frequency cap is on — while pairs sharing rare
    shingles are still found."""
    from weightlifting_wod_etl_spark.operators.minhash import ngram_jaccard_pairs

    hot = "the quick brown fox jumps over"
    rows = [(i, f"u{i}a u{i}b {hot} u{i}c u{i}d") for i in range(40)]
    # one genuine near-dup pair built from rare shingles only
    rows.append((100, "alpha beta gamma delta epsilon zeta eta theta iota"))
    rows.append((101, "alpha beta gamma delta epsilon zeta eta theta kappa"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = ngram_jaccard_pairs(
        docs, shingle_n=4, min_jaccard=0.0, max_shingle_df=10
    ).toPandas()
    # hot-shingle buckets (df=40 > 10) are dropped before pair expansion:
    # the only surviving candidates share a rare shingle
    assert set(zip(capped.doc_a, capped.doc_b)) == {(100, 101)}

    uncapped = ngram_jaccard_pairs(
        docs, shingle_n=4, min_jaccard=0.0, max_shingle_df=None
    ).toPandas()
    assert len(uncapped) >= 40 * 39 // 2  # the quadratic blowup the cap kills


def test_new_queries_deterministic_across_runs(spark):
    """Same query twice must produce identical frames — catches
    nondeterministic orderings/partial aggs in the round-4 additions."""
    from tests.parity import canonicalize

    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    sf = SF_SMOKE
    for name in (
        "q_pii_redact", "q_decontaminate", "q_domain_cap",
        "q_stratified_sample", "q_token_topk", "q_sequence_pack",
        "q_tpch_q7", "q_tpch_q10", "q_tpch_q14",
    ):
        a = canonicalize(QUERIES[name](spark, sf).toPandas())
        b = canonicalize(QUERIES[name](spark, sf).toPandas())
        assert a == b, f"{name} nondeterministic across runs"


def test_ngram_cap_drops_stop_phrase_but_keeps_planted_pair(spark):
    """The max_shingle_df cap must drop the corpus-hot stop-phrase bucket
    (the k²/2 blowup source) while keeping a planted rare near-dup pair —
    i.e. the cap removes quadratic cost, not recall on real near-dups.
    70 docs share a 6-token boilerplate tail (3 hot 4-gram shingles, df=70
    > cap=64); docs 1000/1001 share 6 rare shingles (jaccard 0.75)."""
    from weightlifting_wod_etl_spark.operators.minhash import ngram_jaccard_pairs

    hot = [
        (i, f"u{i} v{i} w{i} x{i} follow us on social media now")
        for i in range(70)
    ]
    planted = [
        (1000, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1001, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    ]
    df = spark.createDataFrame(hot + planted, ["doc_id", "text"])

    capped = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(df, max_shingle_df=64).collect()
    }
    assert (1000, 1001) in capped
    hot_ids = {i for i, _ in hot}
    assert not any(a in hot_ids and b in hot_ids for a, b in capped), (
        "stop-phrase bucket should be dropped by the df cap"
    )

    # sanity: with the cap disabled the hot pairs DO appear, proving the
    # cap (not the jaccard threshold) is what removed them
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(df, max_shingle_df=None).collect()
    }
    assert (1000, 1001) in uncapped
    assert any(a in hot_ids and b in hot_ids for a, b in uncapped)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6), st.integers(1, 9)),
        min_size=1,
        max_size=20,
    ).filter(lambda es: any(u != v for u, v, _ in es)),
)
@settings(**_SETTINGS)
def test_pagerank_mass_conservation_and_bruteforce(spark, edges):
    """On a graph with no dangling nodes, ranks sum to 1 after every
    round, and the 3-round result matches a numpy power iteration."""
    from weightlifting_wod_etl_spark.operators.graph import pagerank

    # drop self-loop-only noise, dedupe parallel edges by summing weight
    agg: dict[tuple[int, int], int] = {}
    for u, v, w in edges:
        if u != v:
            agg[(u, v)] = agg.get((u, v), 0) + w
    nodes = sorted({n for e in agg for n in e})
    # close the graph: give every sink a uniform out-edge set so no
    # dangling mass leaks (the operator documents no-dangling semantics)
    srcs = {u for (u, _) in agg}
    for n in nodes:
        if n not in srcs:
            for m in nodes:
                if m != n:
                    agg[(n, m)] = 1
    edf = spark.createDataFrame(
        [(u, v, float(w)) for (u, v), w in agg.items()], ["src", "dst", "w"]
    )
    got = {r.node: r.r for r in pagerank(edf, iters=3).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9

    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    P = np.zeros((n, n))
    for (u, v), w in agg.items():
        P[idx[u], idx[v]] = w
    P = P / P.sum(axis=1, keepdims=True)
    r = np.full(n, 1.0 / n)
    for _ in range(3):
        r = 0.15 / n + 0.85 * (P.T @ r)
    for node in nodes:
        assert abs(got[node] - r[idx[node]]) < 1e-9, (node, got[node], r[idx[node]])


_CMS_WORDS = [
    "join", "hash", "customer", "window", "spark",  # q_cms_estimate's probes
    "scan", "filter", "agg", "sort", "merge", "broadcast", "shuffle",
]


@given(
    docs=st.lists(
        st.lists(st.sampled_from(_CMS_WORDS), min_size=0, max_size=12),
        min_size=1,
        max_size=20,
    ),
)
@settings(**_SETTINGS)
def test_count_min_never_undercounts(spark, docs):
    """CMS guarantee through the PRODUCTION query: run q_cms_estimate
    over a generated documents table and check, per probe token, that
    est = min over hash rows >= the true count, with exact_n/overcount
    derived correctly. (An earlier version rebuilt the sketch inline —
    a tautology that passed with the production code deleted.)"""
    import tempfile

    import pandas as pd

    from weightlifting_wod_etl_spark.queries.sketches import q_cms_estimate

    with tempfile.TemporaryDirectory() as sf_dir:
        pd.DataFrame(
            {
                "doc_id": list(range(len(docs))),
                "text": [" ".join(d) for d in docs],
            }
        ).to_parquet(f"{sf_dir}/documents.parquet")
        got = {r.tok: r for r in q_cms_estimate(spark, sf_dir).collect()}

    toks = [t for d in docs for t in d]
    probes = ["join", "hash", "customer", "window", "spark"]
    for tok in probes:
        true_n = toks.count(tok)
        if tok not in got:
            # inner probe join: a probe only vanishes when all 4 of its
            # cells are empty — impossible if the token itself occurs
            assert true_n == 0, (tok, true_n)
            continue
        r = got[tok]
        assert r.exact_n == true_n, (tok, r.exact_n, true_n)
        assert r.cms_est >= true_n, (tok, r.cms_est, true_n)
        assert r.overcount == r.cms_est - true_n


def test_mad_fence_robust_to_planted_outlier(spark):
    """Why MAD over z-score: planting one extreme outlier must flag
    exactly that outlier and leave the median/MAD stats (computed from
    the clean mass) essentially unmoved — while the same outlier drags a
    mean/stddev fence enough to mask itself."""
    import pandas as pd

    from pyspark.sql import functions as F

    from weightlifting_wod_etl_spark.operators.percentile import exact_percentiles

    base = [float(v) for v in range(100, 200)]  # clean uniform mass
    planted = base + [1e6]
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["x"] * len(planted), "cents": planted})
    )
    med = exact_percentiles(df, ["g"], "cents", [0.5], out_prefix="m")
    row = med.collect()[0]
    assert 100 <= row.m50 <= 200  # median unmoved by the outlier
    dev = df.join(med.select("g", "m50"), "g").select(
        "g", F.abs(F.col("cents") - F.col("m50")).alias("dev")
    )
    mad = exact_percentiles(dev, ["g"], "dev", [0.5], out_prefix="d").collect()[0]
    n_out = dev.filter(F.col("dev") > 3 * mad.d50).count()
    assert n_out == 1  # exactly the planted point sits past the fence
    # contrast: mean/std fence half-masks itself — std explodes with the
    # outlier, so the SAME 3-sigma rule built from contaminated moments
    # still flags the point but its threshold is ~1000x looser than MAD's
    stats = df.agg(
        F.mean("cents").alias("mu"), F.stddev_pop("cents").alias("sd")
    ).collect()[0]
    assert stats.sd > 1000 * mad.d50


@given(
    fact=st.lists(st.integers(0, 40), min_size=1, max_size=30),
    dim=st.lists(st.integers(0, 40), min_size=0, max_size=15),
    num_bits=st.sampled_from([64, 1024, 1 << 20]),
)
@settings(**_SETTINGS)
def test_bloom_semi_join_matches_set_membership(spark, fact, dim, num_bits):
    """At ANY bitmap size (including fp-saturated 64-bit) the pruned
    semi join equals plain set membership; empty dim → empty result."""
    from weightlifting_wod_etl_spark.operators.bloomjoin import bloom_semi_join

    fdf = spark.createDataFrame([(i, k) for i, k in enumerate(fact)], ["i", "k"])
    ddf = spark.createDataFrame(
        [(k,) for k in dim] or [(None,)], "d bigint"
    ).filter("d IS NOT NULL")
    got = sorted((r.i, r.k) for r in bloom_semi_join(fdf, ddf, "k", "d").collect())
    want = sorted((i, k) for i, k in enumerate(fact) if k in set(dim))
    assert got == want


@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30)), min_size=1, max_size=15
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30)), min_size=1, max_size=15
    ),
    delay=st.sampled_from([0, 5, 10]),
)
@settings(**_SETTINGS)
def test_interval_join_matches_bruteforce(spark, left, right, delay):
    """Batch semantics of the stream-stream interval join: pairs share the
    key and right_ts ∈ [left_ts, left_ts + delay] (closed both ends)."""
    from pyspark.sql import functions as F

    from weightlifting_wod_etl_spark.streaming.joins import interval_join

    import datetime

    base = datetime.datetime(2021, 1, 1)
    ldf = spark.createDataFrame(
        [
            (i, k, base + datetime.timedelta(seconds=t))
            for i, (k, t) in enumerate(left)
        ],
        "lid long, k long, lts timestamp",
    )
    rdf = spark.createDataFrame(
        [
            (i, k, base + datetime.timedelta(seconds=t))
            for i, (k, t) in enumerate(right)
        ],
        "rid long, k long, rts timestamp",
    )
    got = sorted(
        (r.lid, r.rid)
        for r in interval_join(
            ldf, rdf, "k", "lts", "rts", max_delay=f"{delay} seconds"
        ).collect()
    )
    want = sorted(
        (li, ri)
        for li, (lk, lt) in enumerate(left)
        for ri, (rk, rt) in enumerate(right)
        if lk == rk and lt <= rt <= lt + delay
    )
    assert got == want


_KEY = st.one_of(st.none(), st.integers(0, 7))


@given(
    base=st.lists(st.tuples(_KEY, st.integers(0, 99)), min_size=0, max_size=12),
    source=st.dictionaries(
        st.integers(0, 7), st.integers(100, 199), min_size=0, max_size=8
    ),
    null_sources=st.lists(st.integers(100, 199), min_size=0, max_size=2),
    deletes=st.sets(_KEY, min_size=0, max_size=4),
    pass_deletes=st.booleans(),
)
@settings(**_SETTINGS)
def test_merge_into_matches_dict_model(
    spark, tmp_path_factory, base, source, null_sources, deletes, pass_deletes
):
    """MERGE INTO vs a dict model on randomized inputs: tiny key domains
    force duplicate target keys, empty sides, full overlap and no
    overlap; NULL keys on every side (target rows, source rows, delete
    keys) match nothing under SQL key equality. All four returned counts
    and the committed rows must equal the model's."""
    from weightlifting_wod_etl_spark.io import read_table
    from weightlifting_wod_etl_spark.operators.merge import merge_into

    path = str(tmp_path_factory.mktemp("merge_prop") / "t")
    if base:
        spark.createDataFrame(base, "k long, v long").write.parquet(path)
    # keys must be unique across source and deletes (the merge rejects
    # the ambiguity), so a delete key never names a source key
    deletes = {k for k in deletes if k not in source} if pass_deletes else set()
    src_rows = sorted(source.items()) + [(None, v) for v in null_sources]
    src = spark.createDataFrame(src_rows, "k long, v long")
    dels = (
        spark.createDataFrame([(k,) for k in deletes], "k long")
        if pass_deletes
        else None
    )
    stats = merge_into(spark, path, src, on=["k"], deletes=dels)

    # the model: NULL matches nothing, so only non-NULL keys address rows
    target_keys = {k for k, _ in base if k is not None}
    del_keys = deletes - {None}
    expect = [
        (k, v) for k, v in base if k not in source and k not in del_keys
    ] + src_rows
    matched = sum(1 for k, _ in base if k in source)
    src_matched = sum(1 for k in source if k in target_keys)
    assert stats["matched"] == matched
    assert stats["inserted"] == len(src_rows) - src_matched
    assert stats["deleted"] == sum(1 for k, _ in base if k in del_keys)
    assert stats["dup_target_rows_collapsed"] == matched - src_matched

    import os

    if os.path.exists(path):
        got = sorted(
            ((r.k, r.v) for r in read_table(spark, path).collect()), key=repr
        )
    else:
        got = []  # an empty batch on a fresh path commits nothing
    assert got == sorted(expect, key=repr)


@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(0, 3),   # key
                st.integers(0, 2),   # partition value
                st.integers(0, 9),   # version (LWW order)
                st.integers(0, 99),  # payload
            ),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=3,
    ),
    partition_by=st.sampled_from([None, ["p"]]),
)
@settings(**_SETTINGS)
def test_kv_upsert_lww_matches_dict_model(
    spark, tmp_path_factory, batches, partition_by
):
    """kv_upsert vs a dict model across a SEQUENCE of increments, flat and
    partitioned: for each key the surviving row is the max-(version,
    payload) row ever written — regardless of batch boundaries, in-batch
    duplicates, or keys that repeat across partitions of the same batch.
    Total order includes payload as tie-break so the model is exact."""
    from weightlifting_wod_etl_spark.io import read_table
    from weightlifting_wod_etl_spark.sinks import kv_upsert_parquet

    path = str(tmp_path_factory.mktemp("kv_prop") / "t")
    model = {}
    for batch in batches:
        df = spark.createDataFrame(
            batch or [(None, None, None, None)],
            "k long, p long, ver long, payload long",
        ).filter("k IS NOT NULL")
        kv_upsert_parquet(
            df, path, key_cols=["k", "p"], order_cols=["ver", "payload"],
            partition_by=partition_by,
        )
        for k, p, ver, payload in batch:
            cur = model.get((k, p))
            if cur is None or (ver, payload) > cur:
                model[(k, p)] = (ver, payload)

    import os

    if not model:
        assert not os.path.exists(path) or not read_table(
            spark, path
        ).columns or read_table(spark, path).count() == 0
        return
    got = sorted(
        ((r.k, r.p), (r.ver, r.payload))
        for r in read_table(spark, path).collect()
    )
    assert got == sorted(model.items())


def test_hash_sample_cutoff_case_insensitive_and_validated(spark):
    """Review r10: md5 hex is lowercase; an uppercase cutoff compared by
    raw ASCII and silently shifted the sampling rate. Cutoffs are now
    normalized; malformed ones are loud."""
    import pytest
    from pyspark.sql import functions as F

    from weightlifting_wod_etl_spark.operators.sampling import hash_sample

    df = spark.range(2000).selectExpr("cast(id AS string) AS id")
    lo = df.filter(hash_sample(F.col("id"), "4f")).count()
    hi = df.filter(hash_sample(F.col("id"), "4F")).count()
    assert lo == hi > 0  # same rate either case
    with pytest.raises(ValueError, match="hex digits"):
        hash_sample(F.col("id"), "4g")
    with pytest.raises(ValueError, match="hex digits"):
        hash_sample(F.col("id"), "abc")


def test_skew_ops_null_and_outer_contracts(spark):
    """Review r10: salted_groupby's 'count' partial was count(*) (ignored
    the named column's nulls), and replicated_salted_join silently emitted
    buckets-fold copies of unmatched small rows under full outer."""
    import pytest
    from pyspark.sql import functions as F

    from weightlifting_wod_etl_spark.operators.skew import (
        replicated_salted_join,
        salted_groupby,
    )

    df = spark.createDataFrame(
        [(1, "u1", 5), (1, "u2", None), (1, "u3", 7), (2, "u4", None)],
        "k long, uid string, v long",
    )
    got = {
        r.k: r.n
        for r in salted_groupby(df, ["k"], [("v", "count", "n")], "uid").collect()
    }
    want = {r.k: r.n for r in df.groupBy("k").agg(F.count("v").alias("n")).collect()}
    assert got == want == {1: 2, 2: 0}

    small = spark.createDataFrame([(9, "x")], "k long, tag string")
    with pytest.raises(ValueError, match="unsupported"):
        replicated_salted_join(df, small, "k", "k", "uid", how="full")


def test_exact_percentiles_ignore_nulls_and_fractional_names(spark):
    """Review r10: null values shifted every percentile index (nulls sort
    first) and inflated n_items; fractional cuts could collide into one
    column name."""
    from weightlifting_wod_etl_spark.operators.percentile import exact_percentiles

    df = spark.createDataFrame(
        [("g", None), ("g", 1), ("g", 2), ("g", 3)], "g string, v long"
    )
    row = exact_percentiles(df, ["g"], "v", [0.5]).collect()[0]
    assert row.n_items == 3 and row.p50 == 2.0

    cols = exact_percentiles(df, ["g"], "v", [0.115, 0.125]).columns
    assert "p11_5" in cols and "p12_5" in cols


def test_asof_join_null_right_ts_and_keys_never_match(spark):
    """Review r10: a NULL right_ts sorted first and its payload was
    carried into every left row with no earlier real match; NULL keys
    matched each other through the window partition."""
    ldf = spark.createDataFrame(
        [(1, 10), (None, 10)], "k int, lts int"
    )
    rdf = spark.createDataFrame(
        [(1, None, 99), (None, 5, 77)], "k int, rts int, tb int"
    )
    out = {
        (r.k, r.lts): r.asof_tb
        for r in asof_join(
            ldf, rdf, key="k", left_ts="lts", right_ts="rts",
            right_payload=["tb"], tiebreak="tb",
        ).collect()
    }
    assert out[(1, 10)] is None  # null-ts right row never matches
    assert out[(None, 10)] is None  # null keys never match each other


def test_band_range_join_caps_corrupt_interval_spans(spark):
    """Review r10: one far-future end_ts materialized a multi-billion-bin
    array and killed the job; over-cap intervals are excluded by the
    dirty-data guard (and only them)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    pdf = spark.createDataFrame([(1, base + dt.timedelta(seconds=30))], ["pid", "pts"])
    idf = spark.createDataFrame(
        [
            (1, base, base + dt.timedelta(seconds=60)),
            (2, base, dt.datetime(9999, 1, 1)),  # corrupt far-future end
        ],
        ["iid", "istart", "iend"],
    )
    got = band_range_join(
        pdf, idf, "pts", "istart", "iend", 60, max_bins_per_interval=1000
    ).collect()
    assert [r.iid for r in got] == [1]  # clean interval matched, dirty excluded


def test_bloom_semi_join_rejects_colliding_work_columns(spark):
    """Review r10: a fact column named like a working column was silently
    replaced-then-dropped (or made the bitmap join ambiguous)."""
    import pytest

    from weightlifting_wod_etl_spark.operators.bloomjoin import bloom_semi_join

    fact = spark.createDataFrame([(1, 5)], "k long, __bf_word long")
    dim = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="collide"):
        bloom_semi_join(fact, dim, "k", "k")


def test_range_join_reversed_interval_excluded_not_exploded(spark):
    """Review r11: a corrupt interval with end BEFORE start has a hugely
    NEGATIVE bin difference — it passed the `< max_bins` guard and
    F.sequence(hi, lo) auto-stepped -1 into a multi-million-element
    descending array (the exact OOM the guard exists to prevent). It is
    now excluded outright (it matches no point under start <= p < end)."""
    import datetime as dt
    import signal

    ts0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    points = spark.createDataFrame([(ts0,)], "pts timestamp")
    intervals = spark.createDataFrame(
        [
            (ts0 - dt.timedelta(minutes=1), ts0 + dt.timedelta(minutes=1)),
            # reversed by ~56 YEARS: a descending sequence over 60s bins
            # would hold ~29M elements
            (ts0, dt.datetime(1970, 1, 1)),
        ],
        "istart timestamp, iend timestamp",
    )

    def _boom(signum, frame):
        raise AssertionError("range join materialized the reversed interval")

    old = signal.signal(signal.SIGALRM, _boom)
    signal.alarm(60)
    try:
        got = band_range_join(
            points, intervals, "pts", "istart", "iend", bin_width_s=60
        ).collect()
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)
    assert len(got) == 1  # only the sane interval matched


def test_range_join_rejects_reserved_bin_columns(spark):
    """Review r11: a caller column named __bin was silently overwritten
    and dropped from the output."""
    import datetime as dt

    import pytest

    ts0 = dt.datetime(2024, 1, 1)
    points = spark.createDataFrame([(ts0, 5)], "pts timestamp, __bin int")
    intervals = spark.createDataFrame(
        [(ts0, ts0 + dt.timedelta(minutes=1))], "istart timestamp, iend timestamp"
    )
    with pytest.raises(ValueError, match="__bin"):
        band_range_join(points, intervals, "pts", "istart", "iend", 60)


def test_asof_join_rejects_payload_name_collision(spark):
    """Review r11: a left column equal to a prefixed payload name emitted
    silent duplicate columns."""
    import datetime as dt

    import pytest

    from weightlifting_wod_etl_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0, 9.9)], "k long, ts timestamp, asof_value double"
    )
    right = spark.createDataFrame(
        [(1, t0, 1.0)], "k long, rts timestamp, value double"
    )
    with pytest.raises(ValueError, match="asof_value"):
        asof_join(left, right, "k", "ts", "rts", right_payload=["value"])


def test_incremental_measure_requires_source(spark):
    """Review r11: Measure(kind='sum') with no source died with an opaque
    pyspark TypeError instead of a named validation error."""
    import pytest

    from weightlifting_wod_etl_spark.operators.incremental import Measure

    with pytest.raises(ValueError, match="requires a source"):
        Measure(name="revenue", kind="sum").build_expr()
    with pytest.raises(ValueError, match="requires a source"):
        Measure(name="revenue", kind="sum", source="").build_expr()
    Measure(name="n", kind="count").build_expr()  # count stays source-less


def test_exact_percentiles_rejects_colliding_names_and_reserved_cols(spark):
    """Review r12: two distinct cuts inside the 6-significant-digit
    rendering window minted the SAME column name (AMBIGUOUS_REFERENCE
    deep in the agg instead of a loud ValueError), and percentile was the
    one dunder-working-column operator with no input clash guard."""
    import pytest

    from weightlifting_wod_etl_spark.operators.percentile import (
        exact_percentiles,
    )

    df = spark.createDataFrame([("g", 1), ("g", 2)], "g string, v long")
    with pytest.raises(ValueError, match="colliding column names"):
        exact_percentiles(df, ["g"], "v", [0.123456, 0.1234561])

    clash = spark.createDataFrame([(1, 2)], "n_items long, v long")
    with pytest.raises(ValueError, match="collide"):
        exact_percentiles(clash, ["n_items"], "v", [0.5])


def test_salted_join_accepts_spark_join_aliases(spark):
    """Review r12: 'leftsemi'/'semi'/'anti' — canonical Spark aliases of
    row-identity-safe joins — were refused with a message blaming outer
    replication semantics."""
    from weightlifting_wod_etl_spark.operators.skew import (
        replicated_salted_join,
    )

    big = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    small = spark.createDataFrame([(1,)], "k long")
    got = replicated_salted_join(big, small, "k", "k", "v", how="leftsemi")
    assert [r.k for r in got.collect()] == [1]
    got2 = replicated_salted_join(big, small, "k", "k", "v", how="anti")
    assert [r.k for r in got2.collect()] == [2]


def test_asof_join_handles_dotted_column_names(spark):
    """Review r12: F.col('__row.meta.src') parses a dotted column NAME as
    a nested field path — getField is the robust extraction."""
    from weightlifting_wod_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "L1")], ["k", "ts", "meta.src"]
    )
    right = spark.createDataFrame(
        [(1, 5, "R1")], ["k", "ts", "payload.x"]
    )
    out = asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts",
        right_payload=["payload.x"],
    )
    row = out.collect()[0]
    assert row["meta.src"] == "L1"
    assert row["asof_payload.x"] == "R1"
