"""MinHash + LSH near-duplicate detection — M6 scale extension.

Scale design (the whole point of LSH at 100 TB):
  - shingling and the K minhash signatures are PER-ROW array expressions
    (``transform``/``array_min`` over the shingle array) — no explode, no
    shuffle, fully JVM-side; signature cost is O(K·shingles) per doc.
  - only the tiny (doc_id, band_idx, band_key) frame is exploded (B rows
    per doc) and self-joined on the band key — the shuffle key is the band
    hash, which is uniformly distributed, so the join is balanced.
  - exact Jaccard verification runs only on the candidate pairs that share
    a band — at threshold-tuned (K, B) that is a vanishing fraction of the
    N² pair space.

Portability: the hash family is 8-hex-digit slices of
``md5(shingle) || md5('1:' || shingle)`` compared lexicographically —
deterministic, engine-agnostic (any SQL engine computes the identical hex),
which is what makes the DuckDB oracle possible, and 2 md5 calls per shingle
instead of one per (seed, shingle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


from ..functions.expr import let as _let


def _quote_regex(sep: str) -> str:
    """Java-regex literal quoting for the separator: ``F.split`` treats its
    pattern as a regex, so a metachar separator ('.', '|') would otherwise
    split on the WRONG boundaries while ``concat_ws`` joins with the
    literal — silently garbling every shingle set."""
    return "\\Q" + sep + "\\E"


def shingles(text: Column, n: int = 3, sep: str = " ") -> Column:
    """Distinct n-gram token shingles, joined by spaces.

    Mirrors ``generate_series(1, len(tokens)-n+1)`` semantics: shorter-than-n
    documents yield an EMPTY array (Spark ``sequence`` would count downward,
    so guard explicitly).
    """
    def inner(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
        grams = F.transform(
            idx, lambda i: F.concat_ws(sep, *[F.element_at(toks, i + k) for k in range(n)])
        )
        empty = F.array().cast("array<string>")
        return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(empty)

    return _let(F.split(text, _quote_regex(sep)), inner)


def _has_min_tokens(text: Column, n: int, sep: str = " ") -> Column:
    """Cheap shingle-nonempty predicate: ``size(split) >= n`` is exactly
    'shingles() yields a non-empty array', without the full shingle
    pipeline. Filtering on ``F.size("shingles") > 0`` looks free but
    CollapseProject inlines the whole pipeline into the predicate — every
    surviving row pays shingling twice (the module's measured pitfall)."""
    return F.size(F.split(text, _quote_regex(sep))) >= n


def _combined_md5(s: Column) -> Column:
    """64 hex digits of hash material from TWO md5 calls per shingle:
    ``md5(shingle) || md5('1:' || shingle)``. Seed k's hash value is hex
    window ``[8k, 8k+8)`` — 8 independent-enough 32-bit hash functions for
    the price of 2 md5s instead of the seeded-md5-per-k's 8. 8 hex digits =
    2^32 values, so cross-doc min collisions are noise; portable to any
    engine with md5/substr."""
    return F.concat(F.md5(s), F.md5(F.concat(F.lit("1:"), s)))


def _hash_slice(seed: int):
    """One-arg lambda factory (MUST be one-arg: pyspark treats a two-arg
    ``transform`` lambda as (element, index), which would silently shadow a
    default-arg seed with the index column)."""
    return lambda h: F.substring(h, 1 + 8 * seed, 8)


def band_keys_from_shingles(
    shingle_col: Column, num_hashes: int, rows_per_band: int
) -> Column:
    """All B band keys as ONE expression over the let-bound shingle array.

    Computing mh_0..mh_K as separate projection columns and re-combining
    them into band keys looks clean but CollapseProject inlines the shingle
    construction into every one of the K references — the whole shingle
    pipeline runs K times. Binding the array once keeps it single-pass.
    """
    assert num_hashes <= 8, "one _combined_md5 yields 8 hash slices"

    def inner(sh: Column) -> Column:
        def from_hashes(hh: Column) -> Column:
            sigs = [
                F.array_min(F.transform(hh, _hash_slice(seed)))
                for seed in range(num_hashes)
            ]
            return F.array(
                *[
                    F.concat_ws("|", *sigs[i : i + rows_per_band])
                    for i in range(0, num_hashes, rows_per_band)
                ]
            )

        # bind the hashed array too: md5 runs once per shingle, the K
        # slice-min passes reuse it
        return _let(F.transform(sh, _combined_md5), from_hashes)

    return _let(shingle_col, inner)


def _pairs_within(ids_col: str) -> Column:
    """All ordered pairs (a < b) from a sorted id array — the within-bucket
    candidate expansion shared by every blocking scheme here."""
    return F.flatten(
        F.transform(
            F.col(ids_col),
            lambda x, i: F.transform(
                F.slice(F.col(ids_col), i + 2, F.size(F.col(ids_col))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays (unrounded double)."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def jaccard_rounded(a: Column, b: Column, round_to: int = 4) -> Column:
    """Jaccard rounded half-away-from-zero on the EXACT rational (r14,
    the r13 round()-on-double hazard class): |∩| and |∪| are integers,
    so a knife-edge quotient like 3/20000 = 0.00015 rounds differently
    per engine when decided on the double — Spark half-ups the shortest
    decimal repr (0.0002), DuckDB rounds the exact binary (0.0001).
    ``round_ratio_exact_i64`` decides on integer arithmetic; oracles
    mirror via ``oracle_round_ratio_sql`` over the same
    len()/list_intersect operands (HUGEINT arithmetic is value-identical
    on this domain). The i64 fast path is safe here BY CONSTRUCTION:
    |∩| and |∪| are int32 array sizes, so |num|·10^4 < 2^31·10^4 < 2^45 ≪ 2^63
    — the domain guard can never fire — and it measured ~5× cheaper per
    row than the decimal(38,0) general form in the r14 q_rank_fns
    adjudication; this site runs once per LSH candidate pair.

    |∩| and |∪| are LET-BOUND before entering the helper (review r14,
    plan-verified): ``round_ratio_exact``'s composed tree references its
    operands several times and Catalyst performs no CSE, so the raw form
    re-ran ``array_intersect`` over the full shingle arrays multiple
    times per candidate pair — a per-pair cost multiplier that grows
    with corpus size at 100 TB. Bound once, the helper's repeated
    references read two struct fields."""
    from ..functions.expr import let
    from ..functions.money import round_ratio_exact_i64

    inter = F.size(F.array_intersect(a, b))
    sizes = F.struct(
        inter.alias("i"), (F.size(a) + F.size(b) - inter).alias("u")
    )
    return let(
        sizes,
        lambda s: round_ratio_exact_i64(
            s.getField("i"), s.getField("u"), round_to
        ),
    )


def _capped_bucket_pairs(
    exploded: DataFrame, group_cols: list[str], id_col: str, cap: int | None
) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs expanded INSIDE each bucket, with the
    over-cap buckets dropped before expansion — the one shared shape
    behind both LSH banding and rare-shingle pairing (review r12: the two
    near-verbatim copies had already drifted once).

    The size cap tests the bucket's ROW count, not size(collect_list):
    collect_list drops NULL ids, so a bucket at the cap boundary holding
    a NULL-id document undercounted vs the oracles' count(*) and kept a
    bucket the oracle drops (review r12). A NULL-id doc is a real
    document crowding the bucket — it counts toward document frequency
    even though it can never appear in a pair. The >1 pairability test
    stays on the PAIRABLE (non-null) ids: a bucket of one real + one
    NULL id emits no pairs under either test, so the outputs agree."""
    bucket_ok = F.size("ids") > 1
    if cap is not None:
        bucket_ok = bucket_ok & (F.col("_bucket_n") <= cap)
    return (
        exploded.groupBy(*group_cols)
        .agg(
            F.array_sort(F.collect_list(id_col)).alias("ids"),
            F.count(F.lit(1)).alias("_bucket_n"),
        )
        .filter(bucket_ok)
        .select(F.explode(_pairs_within("ids")).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    max_band_df: int | None = 1024,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs sharing ≥1 LSH band, with exact
    Jaccard computed on the shingle sets for verification.

    ``max_band_df`` caps band-bucket size, the same quadratic-blowup guard
    ``ngram_jaccard_pairs`` carries: m exact copies of one boilerplate doc
    share ALL their band keys, so one bucket row would hold an m-element
    array and expand ~m²/2 pair structs IN THAT ROW — executor death at
    corpus scale. Buckets above the cap are dropped before expansion; a
    ≥cap-sized group of mutual near-dups is an exact/boilerplate dup
    cluster, which exact dedup (hash-groupBy) removes at linear cost —
    LSH's job is the pairs exact hashing can't see. ``None`` disables."""
    sh = df.filter(_has_min_tokens(F.col(text_col), shingle_n)).select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("shingles")
    )
    banded = sh.select(
        id_col,
        F.posexplode(
            band_keys_from_shingles(F.col("shingles"), num_hashes, rows_per_band)
        ).alias("band_idx", "band_key"),
    )
    # Pairs are generated INSIDE each band bucket (groupBy + array pair
    # expansion) rather than by self-joining `banded`: a self-join would
    # re-run the whole shingle+signature pipeline once per branch and
    # shuffle it twice; this shape computes it once and shuffles once, on
    # the uniformly-distributed band hash. Bucket sizes are tiny for any
    # sane (K, B), so the within-bucket expansion is O(dups²), not O(n²).
    cand = _capped_bucket_pairs(
        banded, ["band_idx", "band_key"], id_col, max_band_df
    )
    # Exact-Jaccard verification re-shingles ONLY candidate docs: the
    # left-semi join prunes the corpus to pair participants before the
    # (expensive) shingle recompute — at scale candidates are a vanishing
    # fraction of N.
    cand_ids = (
        cand.select(F.col("doc_a").alias(id_col))
        .union(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sh_cand = (
        df.join(cand_ids, id_col, "left_semi")
        .select(F.col(id_col), shingles(F.col(text_col), shingle_n).alias("shingles"))
    )
    sa = sh_cand.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh_cand.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jaccard_rounded(F.col("sh_a"), F.col("sh_b"), 4).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 4,
    min_jaccard: float = 0.2,
    max_shingle_df: int | None = 64,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing ≥1 RARE shingle (no LSH) —
    the brute-force baseline whose cost motivates LSH. Candidates come from
    a shingle-equality self-join (shuffle on shingle), so it's exact but
    O(pairs-sharing-a-shingle).

    ``max_shingle_df`` caps the document frequency of pairing shingles: a
    stop-phrase shared by k docs otherwise expands to k²/2 candidate pairs
    inside one bucket — the classic quadratic blowup that kills the job at
    corpus scale. Buckets above the cap are dropped BEFORE pair expansion
    (the collect_list per shingle is exactly its document list, so the
    size test is the df test — no extra frequency join or shuffle). Real
    near-dups share many shingles, most of them rare, so a generous cap
    loses only pairs whose every shared shingle is corpus-hot — pairs LSH
    would also bucket with half the corpus. ``None`` disables the cap.
    """
    sh = df.filter(_has_min_tokens(F.col(text_col), shingle_n)).select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("shingles")
    )
    ex = sh.select(id_col, F.explode("shingles").alias("shingle"))
    # Same single-pass bucket-pair shape as lsh_candidate_pairs: one shuffle
    # on the shingle, pairs expanded inside each bucket.
    cand = _capped_bucket_pairs(ex, ["shingle"], id_col, max_shingle_df)
    sa = sh.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jaccard_rounded(F.col("sh_a"), F.col("sh_b"), 4).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def simhash_fingerprint(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """SimHash: per-bit majority vote over token hashes → integer fingerprint.

    Bit j's vote is whether HEX DIGIT j of ``md5(token)`` is below '8' — an
    unbiased coin per (token, bit) from ONE md5 per token (md5's 32 hex
    digits cover bits ≤ 32; a seeded-md5-per-bit family costs `bits`× the
    hashing for no extra independence we need). Pure string ops, so any
    engine reproduces it.

    Tokens are weighted by frequency (explode keeps duplicates). One
    shuffle: groupBy(doc).
    """
    assert bits <= 32, "hex-digit vote family provides 32 independent bits"
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).select(F.col(id_col), F.md5("tok").alias("h"))

    def vote(j: int) -> Column:
        return F.when(F.substring(F.col("h"), j + 1, 1) < "8", 1).otherwise(-1)

    agg = toks.groupBy(id_col).agg(
        *[F.sum(vote(j)).alias(f"v_{j}") for j in range(bits)]
    )
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"v_{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select(F.col(id_col), fp.cast("bigint").alias("fingerprint"))
