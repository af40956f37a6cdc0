"""Trained coarse quantizer for IVF ANN: Spark ML KMeans cluster centers
plug into ivf_topk's centroids parameter.

This is the offline-fit path the ivf_topk docstring promises: at 100 TB
the k-means fit runs once on a sample, its centers become the partition
key of the stored table, and queries probe nprobe lists — here we prove
the machinery composes with pyspark.ml end to end (array<->vector via
pyspark.ml.functions, fixed seed → deterministic centers → deterministic
ANN results) and recovers a usable share of the exact top-k. Recall
ordering between quantizers is data-dependent (the seed baseline is
trivially perfect when the probe IS a seed centroid), so the pin is on
composition + determinism, not on which quantizer wins."""

from __future__ import annotations

from tests.conftest import SF_SMOKE

from pyspark.sql import functions as F

from weightlifting_wod_etl_spark.io import load_table
from weightlifting_wod_etl_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
)

K = 10
N_CENTROIDS = 8


def _recall(ann_rows, exact_rows):
    ann = {r.vec_id for r in ann_rows}
    exact = {r.vec_id for r in exact_rows}
    return len(ann & exact) / len(exact)


def test_kmeans_centroids_feed_ivf_and_beat_seed_baseline(spark):
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    probe = emb.orderBy("vec_id").limit(1).select("embedding")

    exact = brute_force_topk(emb, probe, k=K).collect()

    # offline fit: KMeans on the vectorized embeddings, fixed seed
    train = emb.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=N_CENTROIDS, seed=7, maxIter=10).fit(train)
    centers = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "vec_id long, embedding array<double>",
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))

    trained = ivf_topk(
        emb, probe, k=K, nprobe=2, centroids=centers
    ).collect()
    assert len(trained) == K
    # probing 2 of 8 trained lists must recover a real share of the truth
    assert _recall(trained, exact) >= 0.4

    # fixed seed → deterministic centers → bit-identical ANN re-run
    rerun = ivf_topk(emb, probe, k=K, nprobe=2, centroids=centers).collect()
    assert [(r.vec_id, round(r.cos_sim, 9)) for r in rerun] == [
        (r.vec_id, round(r.cos_sim, 9)) for r in trained
    ]
    _ = vector_to_array  # pins that the array<->vector API pair exists


def test_zero_norm_embedding_is_never_a_top_hit_or_neardup(spark):
    """Review r10: 0/0 = NaN, and Spark sorts NaN above every real double
    AND passes NaN >= threshold — an all-zeros embedding ranked FIRST in
    top-k and paired with everything in neardup. Undefined similarity is
    NULL now: last in rank, excluded by thresholds."""
    from weightlifting_wod_etl_spark.operators.similarity import (
        brute_force_topk,
        neardup_pairs,
    )

    rows = [
        (1, [1.0, 0.0, 1.0, 1.0]),
        (2, [1.0, 0.1, 1.0, 0.9]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero-norm: empty-doc embedding
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    probe = spark.createDataFrame([(0, [1.0, 0.0, 1.0, 1.0])], ["vec_id", "embedding"])

    top = brute_force_topk(df, probe, k=2).collect()
    assert [r.vec_id for r in top] == [1, 2]
    assert all(r.cos_sim == r.cos_sim for r in top)  # no NaN survives

    pairs = neardup_pairs(df, min_cosine=0.5, n_bits=2).collect()
    assert all(3 not in (r.id_a, r.id_b) for r in pairs)


def test_lsh_band_bucket_cap_drops_mass_dup_group_keeps_rare_pair(spark):
    """Review r10: m copies of one boilerplate doc share every band key —
    one bucket row would expand ~m²/2 pair structs. Over-cap buckets are
    dropped (exact dedup's job) while a genuine near-dup pair of unique
    docs is still found."""
    from weightlifting_wod_etl_spark.operators.minhash import lsh_candidate_pairs

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    rows = [(i, boiler) for i in range(30)]
    rows.append((100, "alpha beta gamma delta epsilon zeta eta theta iota"))
    rows.append((101, "alpha beta gamma delta epsilon zeta eta theta kappa"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = lsh_candidate_pairs(docs, max_band_df=10).toPandas()
    assert (100, 101) in set(zip(capped.doc_a, capped.doc_b))
    assert not ((capped.doc_a < 100) & (capped.doc_b < 100)).any()

    uncapped = lsh_candidate_pairs(docs, max_band_df=None).toPandas()
    assert ((uncapped.doc_a < 100) & (uncapped.doc_b < 100)).sum() == 30 * 29 / 2


def test_shingles_regex_metachar_separator(spark):
    """Review r10: F.split treats the separator as a Java regex while
    concat_ws joins with the literal — sep='|' used to split on EVERY
    character. The separator is now regex-quoted."""
    from weightlifting_wod_etl_spark.operators.minhash import shingles

    df = spark.createDataFrame([("a|b|c|d",)], ["t"])
    got = df.select(shingles(F.col("t"), 3, sep="|").alias("s")).collect()[0].s
    assert got == ["a|b|c", "b|c|d"]


def test_text_fns_null_text_yields_null_not_garbage(spark):
    """Review r10 (confirmed by repro): with ANSI off, size() of a null
    array is -1 — lang_id(NULL) was 'en', quality_score(NULL) was -1.504,
    token counts were -1. All must be NULL for NULL text."""
    from weightlifting_wod_etl_spark.operators.text import (
        bpe_ish_token_count,
        lang_id,
        quality_score,
        ws_token_count,
    )

    df = spark.createDataFrame([(1, None), (2, "the cat and the hat")],
                               "doc_id long, text string")
    r = {x.doc_id: x for x in df.select(
        "doc_id",
        ws_token_count(F.col("text")).alias("ws"),
        bpe_ish_token_count(F.col("text")).alias("bpe"),
        lang_id(F.col("text")).alias("lang"),
        quality_score(F.col("text")).alias("q"),
    ).collect()}
    assert (r[1].ws, r[1].bpe, r[1].lang, r[1].q) == (None, None, None, None)
    assert r[2].ws == 5 and r[2].lang == "en" and 0 <= r[2].q <= 1


def test_punct_ratio_ignores_accents_and_whitespace(spark):
    """Review r10: the complement-of-[a-z0-9 ] definition scored every
    accented letter, newline, and tab as punctuation — depressing quality
    for the fr/es/de corpora the stopword lists support."""
    from weightlifting_wod_etl_spark.operators.text import punct_ratio

    df = spark.createDataFrame(
        [(1, "le café est agréable"), (2, "a\nb\tc"), (3, "end. stop!")],
        "doc_id long, text string",
    )
    r = {x.doc_id: x.p for x in df.select(
        "doc_id", punct_ratio(F.col("text")).alias("p")
    ).collect()}
    assert r[1] == 0.0  # accents are letters, not punctuation
    assert r[2] == 0.0  # newline/tab are whitespace, not punctuation
    assert r[3] == 2 / len("end. stop!")  # real punctuation still counts


def test_bigram_lm_score_single_token_docs_do_not_crash(spark, tmp_path):
    """Review r10: sequence(1, size-1) counts DOWN for 1-token docs and
    element_at(arr, 0) aborts the whole job (INVALID_INDEX_OF_ZERO).
    Short docs must contribute zero bigrams instead."""
    import os

    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    src = str(tmp_path / "sf")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "hello", "en", "src0", 5),
         (2, "the cat sat on the mat and the cat ran", "en", "src0", 39)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(src, "documents.parquet"))
    rows = QUERIES["q_bigram_lm_score"](spark, src).collect()
    assert all(r.doc_id == 2 for r in rows)  # doc 1 yields no bigrams, no crash


def test_neardup_duplicate_ids_never_self_pair(spark):
    """r12 advice: with a DUPLICATED vec_id the distinct-vector collapse
    self-paired — within a group (collect_list keeps both copies, the
    slice expansion pairs them) and across groups (same id under two
    different vectors in one bucket) — where the pre-r11 pairwise join's
    id_a < id_b filter excluded both. least/greatest renders a self-pair
    as id_a == id_b; the output filter must drop them."""
    from weightlifting_wod_etl_spark.operators.similarity import neardup_pairs

    rows = [
        (1, [1.0, 0.0, 1.0, 1.0]),
        (1, [1.0, 0.0, 1.0, 1.0]),  # same id, same vector (within-group)
        (2, [1.0, 0.1, 1.0, 0.9]),
        (5, [1.0, 0.0, 1.0, 0.9]),
        (5, [1.0, 0.05, 1.0, 0.95]),  # same id, near-identical vector
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = neardup_pairs(df, min_cosine=0.5, n_bits=1).collect()
    assert pairs, "near-identical vectors must still pair"
    assert all(r.id_a != r.id_b for r in pairs)
    assert any({r.id_a, r.id_b} == {1, 2} for r in pairs)


def test_lsh_bucket_cap_counts_null_id_docs(spark):
    """r12 review: the bucket cap tested size(collect_list(doc_id)),
    which DROPS null ids — a bucket at the cap boundary holding a
    NULL-id duplicate passed the Spark cap while the oracle's count(*)
    dropped it (pair-set divergence at the boundary). The cap now
    counts bucket ROWS."""
    from weightlifting_wod_etl_spark.operators.minhash import (
        lsh_candidate_pairs,
        ngram_jaccard_pairs,
    )

    boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, boiler) for i in range(4)]
    rows.append((None, boiler))  # same text, unidentifiable doc
    rows.append((100, "one two three four five six seven eight nine ten"))
    rows.append((101, "one two three four five six seven eight nine only"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # cap 4: the boiler bucket holds 4 real + 1 NULL row = 5 rows > 4,
    # so it must drop even though only 4 ids are pairable
    capped = lsh_candidate_pairs(docs, max_band_df=4).toPandas()
    assert not ((capped.doc_a < 100) & (capped.doc_b < 100)).any()
    assert (100, 101) in set(zip(capped.doc_a, capped.doc_b))

    ncapped = ngram_jaccard_pairs(
        docs, shingle_n=3, min_jaccard=0.1, max_shingle_df=4
    ).toPandas()
    assert not ((ncapped.doc_a < 100) & (ncapped.doc_b < 100)).any()
    assert (100, 101) in set(zip(ncapped.doc_a, ncapped.doc_b))


def test_bigram_bg_determines_w1_and_lm_joins_never_null(spark, sf_dir):
    """r18 ADVICE: q_bigram_lm_score's LEFT score joins are inner-equal
    only under two invariants of operators/text.bigram_structs — bg
    functionally determines w1 (tokens are space-split, so the bigram
    key contains exactly one delimiter and split_part-style recovery is
    unambiguous), and every probe key matches (c2/c1 aggregate the same
    relation). If bigram minting ever changed (different delimiter,
    nullable struct fields), the left joins would emit NULL n2/n1 which
    F.avg silently skips — a silently skewed avg_logp. Pin both
    invariants on the real corpus so a minting change trips here."""
    from pyspark.sql import functions as F

    from weightlifting_wod_etl_spark.io import load_table
    from weightlifting_wod_etl_spark.operators.text import bigram_structs

    docs = load_table(spark, sf_dir, "documents")
    b = (
        docs.select("doc_id", F.explode(bigram_structs(F.col("text"))).alias("t"))
        .select("doc_id", "t.w1", "t.bg")
    )
    # struct fields minted from split tokens are never NULL (the stated
    # notnull predicates in the query are vacuous — prove it)
    assert b.filter(F.col("bg").isNull() | F.col("w1").isNull()).count() == 0
    # bg -> w1 functional dependency over the whole corpus
    fd = (
        b.groupBy("bg")
        .agg(F.count_distinct("w1").alias("nw1"))
        .filter(F.col("nw1") > 1)
    )
    assert fd.count() == 0, "a bigram key maps to two distinct histories"
    # the joined score frame has no NULL counts: LEFT == INNER here
    c2 = b.groupBy("bg", "w1").agg(F.count(F.lit(1)).alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    joined = b.join(c2.select("bg", "n2"), "bg", "left").join(c1, "w1", "left")
    assert joined.filter(F.col("n2").isNull() | F.col("n1").isNull()).count() == 0
