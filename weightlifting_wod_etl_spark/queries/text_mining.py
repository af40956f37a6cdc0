"""Corpus mining — TF-IDF, bigrams, character-trigram entropy, passage
dedup, canonical-representative selection.

The inverted-index-shaped half of the LLM curation surface (SURVEY §2 M6):
everything here tokenizes with the corpus convention (single-space split,
matching q_token_count / q_token_topk), explodes map-side, and aggregates
with bounded keys — term, n-gram, passage-hash — that stay uniform at
100 TB. No Python UDFs anywhere; all token manipulation is Catalyst
``split``/``transform``/``sequence`` higher-order functions inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.expr import let
from ..io import load_table
from ..queries_registry import register


@register(
    "q_tfidf_topk",
    oracle="""
    WITH tok AS (
        -- identified docs only: a NULL doc_id forms a tf group that the
        -- engine's df-from-tf count includes but count(DISTINCT doc_id)
        -- skips — every shared term's tfidf diverged by the off-by-one
        -- df, and a term exclusive to the NULL doc hits df=0 (inf vs
        -- NULL division). One filter, both sides, closes it (review r11)
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents WHERE doc_id IS NOT NULL
    ), tf AS (
        SELECT doc_id, term, count(*)::BIGINT AS tf
        FROM tok GROUP BY 1, 2
    ), df AS (
        SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1
    ), n AS (SELECT count(*)::BIGINT AS n_docs
             FROM documents WHERE doc_id IS NOT NULL),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, tfidf
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) = 1
    """,
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-characteristic term per document by TF-IDF — the inverted-
    index aggregation of a corpus indexer (tf per (doc,term), df per
    term, score join, per-doc argmax).

    Plan: one shuffle on (doc,term) for tf, one on term for df; the IDF
    side is vocabulary-sized so it BROADCASTS back onto tf — an explicit
    hint, which Spark never demotes: at web scale apply a df-floor first
    (as a real indexer does) or drop the hint and let AQE size-pick,
    because an over-broadcast fails hard rather than falling back. The
    per-doc
    winner is row_number over (tfidf, term) — fully tie-broken.
    Determinism: tf·ln(N/df) is computed from exact BIGINTs with one ln
    and one multiply, same op order as the oracle; ties on the rounded
    score resolve by term."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()  # unidentifiable docs can't be indexed
    )
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df is derived FROM tf, not from a second pass over tok: tf's rows are
    # already the distinct (doc, term) pairs, so count(*) per term == the
    # document frequency — and ReuseExchange dedups tf's shuffle between
    # this branch and the score join (the corpus is exploded ONCE).
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "term", "tf", "tfidf")
    )


@register(
    "q_bigram_topk",
    oracle="""
    WITH t AS (
        SELECT string_split(text, ' ') AS w FROM documents
    ), b AS (
        SELECT w, unnest(range(1, len(w))) AS i FROM t
    )
    SELECT w[i] || ' ' || w[i + 1] AS bigram, count(*)::BIGINT AS n
    FROM b
    GROUP BY 1
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams — collocation head for stop-phrase
    and boilerplate detection (the 2-gram sibling of q_token_topk).

    Bigrams are minted map-side by a codegen'd transform over sequence
    (no self-join of token positions — that would shuffle the exploded
    token table twice); the groupBy partial-aggregates before one
    bounded-key shuffle; ORDER+LIMIT plans as TakeOrderedAndProject, so
    nothing global is ever sorted. The token array is let-bound —
    CollapseProject would otherwise re-run the full split per lambda
    reference, twice per bigram (O(tokens²) per document)."""
    from ..operators.text import bigram_structs

    docs = load_table(spark, sf_dir, "documents")
    # shared minting (operators/text.bigram_structs, r12) — only the bg
    # field is consumed here; Catalyst's nested-schema pruning drops w1
    bigrams = docs.select(
        F.explode(bigram_structs(F.col("text"))).alias("t")
    ).select(F.col("t.bg").alias("bigram"))
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


@register(
    "q_trigram_entropy",
    oracle="""
    WITH d AS (
        -- doc_id IS NOT NULL (r12): the final grouping merges all
        -- NULL-PK rows into ONE oracle row while the per-row Spark side
        -- emits one row each — same guard q_tfidf_topk carries.
        -- rid = physical-row identity (r13): grouping by doc_id alone
        -- also merged DUPLICATE-PK docs, computing entropy over the
        -- union of both texts where the per-row Spark plan emits one
        -- row per physical document
        SELECT doc_id, text, row_number() OVER () AS rid
        FROM documents WHERE doc_id IS NOT NULL
    ), g AS (
        -- every code-point trigram: phase k (1..3) cuts the text from
        -- character k into consecutive 3-character chunks (RE2's '.' is
        -- one code point), so the three phases together yield the gram
        -- at each start 1..length-2 once. substr(text, i, 3) per start
        -- walks the string from its head each time: O(n^2), 9 s on the
        -- two 90k-character dirty documents
        SELECT rid, doc_id,
               unnest(regexp_extract_all(substr(text, k), '(?s)...')) AS gram
        FROM d, range(1, 4) t(k)
    ), cnt AS (
        SELECT rid, doc_id, gram, count(*)::BIGINT AS c
        FROM g GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           sum(c)::BIGINT AS n_grams,
           round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
    FROM cnt GROUP BY rid, doc_id
    """,
)
def q_trigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram Shannon entropy per document — the language-
    agnostic gibberish/boilerplate detector (low entropy = repeated
    boilerplate, high = random bytes; natural text sits in a band).

    Uses H = ln(n) − Σc·ln(c)/n so only exact integer run counts feed the
    logs. Implementation is ENTIRELY per-row — sort the gram array, find
    run starts, fold run lengths — so the operator needs ZERO shuffles.
    At sf0.1 this ties the exploded (doc,gram)+groupBy alternative
    (~2.7 s both — gram minting dominates locally), but the alternative
    shuffles one row PER CHARACTER of the corpus, so at 100 TB it moves
    the entire corpus through the wire while this shape moves nothing.
    ``let`` binds each intermediate array once (CollapseProject would
    otherwise re-sort per reference).

    Cross-engine note: Σc·ln(c) is summed here in sorted-run order while
    the DuckDB oracle sums over hash-aggregate groups in arbitrary order;
    double addition is non-associative, so the two sums can differ by
    ~1 ulp before the shared round(…, 6). Same accepted-drift class as
    corr/stddev (hash-green at sf0.01); if a future corpus lands a
    knife-edge value, widen the rounding margin rather than reordering
    the fold.

    ``doc_id IS NOT NULL`` on both sides (r12): the oracle's GROUP BY
    doc_id merges all NULL-PK rows into one while this per-row plan
    emits one row each — per-document entropy is undefined for an
    unidentifiable document anyway (the q_tfidf_topk precedent)."""
    # fan_out (guide §2.5): the per-row sort+fold is by far the heaviest
    # scan-stage compute in the engine, and the testdata's single-row-
    # group documents file pins it to ONE task; the guard redistributes
    # only when achievable splits < parallelism. Measured 13x at sf0.1.
    docs = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        (F.length("text") >= 3) & F.col("doc_id").isNotNull()
    )
    # grams index the text's code-point array: substring(text, i, 3)
    # walks the UTF-8 bytes from the start to find offset i, O(n²) per
    # document (30 s for one 100k-character document on 4 vCPUs);
    # element_at is O(1).
    # split(text, '') cuts between code points, never inside a
    # surrogate pair, so the array indexes exactly as length/substring.
    grams = let(F.split("text", ""), lambda c: F.transform(
        F.sequence(F.lit(1), F.size(c) - 2),
        lambda i: F.concat(
            F.element_at(c, i), F.element_at(c, i + 1), F.element_at(c, i + 2)
        ),
    ))

    def over_sorted(s: F.Column) -> F.Column:
        n = F.size(s)
        # 1-based indices where a new run of equal grams begins
        starts = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: F.when(i == 1, F.lit(True)).otherwise(
                F.element_at(s, i) != F.element_at(s, i - 1)
            ),
        )

        def over_starts(st: F.Column) -> F.Column:
            k = F.size(st)
            runlens = F.transform(
                F.sequence(F.lit(1), k),
                lambda j: F.when(
                    j == k, n + 1 - F.element_at(st, j)
                ).otherwise(F.element_at(st, j + 1) - F.element_at(st, j)),
            )
            sum_clnc = F.aggregate(
                runlens,
                F.lit(0.0),
                lambda acc, c: acc + c * F.log(c),
            )
            return F.round(F.log(n) - sum_clnc / n, 6)

        return let(starts, over_starts)

    return docs.select(
        "doc_id",
        (F.length("text") - 2).cast("bigint").alias("n_grams"),
        let(F.array_sort(grams), over_sorted).alias("entropy"),
    )


@register(
    "q_passage_dedup",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), chunks AS (
        SELECT doc_id, w,
               unnest(range(0, ((len(w) + 15) // 16))) AS chunk_idx
        FROM t
    ), p AS (
        SELECT doc_id, chunk_idx,
               md5(array_to_string(w[chunk_idx * 16 + 1 : chunk_idx * 16 + 16], ' '))
                   AS passage_hash
        FROM chunks
    )
    SELECT doc_id, chunk_idx::BIGINT AS chunk_idx, passage_hash
    FROM p
    QUALIFY row_number() OVER (PARTITION BY passage_hash
                               ORDER BY doc_id NULLS LAST,
                                        chunk_idx NULLS LAST) = 1
    """,
)
def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup: documents split into fixed 16-token
    passages, each passage kept only at its FIRST corpus occurrence
    (ordered by doc_id, chunk_idx) — the sub-document analog of exact
    dedup that removes boilerplate repeated across documents.

    The only shuffle keys on passage_hash (md5 — uniform by
    construction, no salting needed); first-occurrence is row_number
    over an explicit total order, not a nondeterministic dropDuplicates.
    Chunking is a codegen transform+slice, map-side, with the token
    array let-bound (one split per document, not one per chunk). The
    size >= 1 guard keeps NULL text at zero chunks — unguarded,
    size(NULL) = -1 makes sequence(0, -1) DESCEND ([0, -1]) and mint two
    bogus empty passages the oracle never emits."""
    docs = load_table(spark, sf_dir, "documents")
    passages = docs.select(
        "doc_id",
        F.posexplode(
            let(
                F.split("text", " "),
                lambda w: F.when(
                    F.size(w) >= 1,
                    F.transform(
                        F.sequence(
                            F.lit(0),
                            F.ceil(F.size(w) / F.lit(16.0)).cast("int") - 1,
                        ),
                        lambda i: F.concat_ws(" ", F.slice(w, i * 16 + 1, 16)),
                    ),
                ),
            )
        ).alias("chunk_idx", "passage"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.md5(F.col("passage").cast("binary")).alias("passage_hash"),
    )
    # NULLS LAST pinned both sides: a NULL doc_id otherwise ranks FIRST
    # in Spark and LAST in DuckDB, flipping which document owns every
    # passage hash it shares (review r11)
    w = Window.partitionBy("passage_hash").orderBy(
        F.col("doc_id").asc_nulls_last(), F.col("chunk_idx").asc_nulls_last()
    )
    return (
        passages.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "chunk_idx", "passage_hash")
    )


@register(
    "q_canonical_rep",
    oracle="""
    WITH g AS (
        SELECT doc_id, n_chars,
               md5(substr(text, 1, 64)) AS grp
        FROM documents
    )
    SELECT grp,
           doc_id AS rep_doc_id,
           n_chars AS rep_n_chars,
           count(*) OVER (PARTITION BY grp)::BIGINT AS n_members
    FROM g
    QUALIFY row_number() OVER (PARTITION BY grp
                               ORDER BY n_chars DESC, doc_id NULLS LAST) = 1
    """,
)
def q_canonical_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection: group candidate duplicates (by
    64-char prefix fingerprint) and keep the best member per group —
    longest document, ties to the smallest doc_id. This is the KEEP
    decision that closes a dedup pipeline (clusters → one survivor),
    applied here to a cheap prefix blocking key.

    One shuffle on the group fingerprint serves both the member count
    and the ranked winner (same Window partition — Catalyst plans a
    single Exchange). Selection is a total order (n_chars DESC, doc_id),
    never first()/dropDuplicates arrival order."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id",
        "n_chars",
        F.md5(F.substring("text", 1, 64).cast("binary")).alias("grp"),
    )
    wp = Window.partitionBy("grp")
    # doc_id NULLS LAST both sides: a NULL-id member tying the max
    # n_chars must lose the rep slot identically in both engines (r11)
    wr = wp.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc_nulls_last())
    return (
        g.withColumn("n_members", F.count(F.lit(1)).over(wp).cast("bigint"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "grp",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_chars").alias("rep_n_chars"),
            "n_members",
        )
    )


@register(
    "q_bigram_lm_score",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), b AS (
        SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i + 1] AS bg
        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t)
    ), c2 AS (
        SELECT bg, count(*) AS n2 FROM b GROUP BY 1
    ), c1 AS (
        SELECT w1, count(*) AS n1 FROM b GROUP BY 1
    )
    SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
           round(avg(ln(c2.n2) - ln(c1.n1)), 6) AS avg_logp
    FROM b JOIN c2 USING (bg) JOIN c1 USING (w1)
    GROUP BY 1
    """,
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model fluency score per document —
    the statistical quality gate that flags boilerplate (high avg log-
    probability) and gibberish (low) without any external model. Score =
    mean ln P(w_i | w_{i-1}) under corpus MLE.

    One explode serves everything (the tfidf lesson): bigram counts AND
    history counts both aggregate from the same (doc, w1, bigram)
    relation — the history denominator is the count of w1 in NON-FINAL
    positions, which is the proper bigram-MLE normalizer (P sums to 1
    per history) and avoids a second corpus-wide unigram explode.
    Every document bigram exists in the corpus counts by construction,
    so pure MLE needs no smoothing and ln() sees exact integers. The
    history count never re-aggregates the corpus at all: c(w1) =
    Σ n(w1·) over the bigram-count AGGREGATE (split_part recovers the
    history from the bigram key — tokens are space-split so the bigram
    contains exactly one space), a vocab²-sized input. Only the bigram
    count and the final per-doc mean touch corpus-sized data; the count
    frames carry NO broadcast hint — they are vocabulary-sized
    (sub-linear but unbounded), so AQE broadcasts them at bench SF and
    falls back to shuffled joins at extreme vocabularies instead of
    OOMing (the q_tpch_q3 rule; review r12 — the old text here claimed
    an unconditional broadcast the plan never had). Cross-engine drift:
    the per-doc mean sums IEEE doubles in engine order — ~1 ulp,
    absorbed by round(…, 6) (the corr/stddev accepted class)."""
    from ..operators.text import bigram_structs

    docs = load_table(spark, sf_dir, "documents")
    # shared minting (operators/text.bigram_structs, r12) — the old
    # inline copy also carried a dead `.otherwise(empty array)` branch:
    # when-without-otherwise yields NULL, which explode drops identically
    b = (
        docs.select(
            "doc_id", F.explode(bigram_structs(F.col("text"))).alias("t")
        )
        .select("doc_id", "t.w1", "t.bg")
        # BOTH predicates are vacuous by construction (struct fields
        # minted from split tokens are never NULL) but stated EXPLICITLY
        # so the joins below cannot infer either one into only one
        # branch's subtree and break the exchange reuse — Catalyst
        # pushes isnotnull(join key) into build sides even for left
        # joins, and a subtree-local filter kills canonical equality
        .filter(F.col("bg").isNotNull() & F.col("w1").isNotNull())
    )
    # TWO corpus explodes, not three (r18 optimization round, guide
    # §2.4): the history-count branch used to plan its own full
    # explode+aggregate copy of c2 because the two joins pushed
    # DIFFERENT inferred isnotnull(key) filters below each branch's
    # exchange, breaking the canonical equality ReusedExchange needs.
    # Fixes, all measured on the AQE-final plan: (1) c2 carries w1 as a
    # rider grouping key (functionally dependent on bg — same groups,
    # same counts) so c1 groups on a plain attribute instead of
    # re-deriving the history via split_part; (2) the vacuous notnull
    # predicates are stated once at the source so inference adds nothing
    # branch-local; (3) the score joins go LEFT (equal to inner
    # row-for-row — every key matches by construction since c2/c1
    # aggregate the same relation). c1's input is then a ReusedExchange
    # of c2's vocabulary shuffle and the third explode disappears. The
    # probe-side explode stays separate and shuffle-free on purpose:
    # pre-aggregating it to (doc, bg) counts to share ONE explode was
    # measured SLOWER (1.00 vs 0.89 s — the added corpus-pair exchange
    # outweighs an explode), the same verdict as the tfidf/fan-out
    # experiments.
    c2 = b.groupBy("bg", "w1").agg(F.count(F.lit(1)).alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    return (
        b.join(c2.select("bg", "n2"), "bg", "left")
        .join(c1, "w1", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log("n2") - F.log("n1")), 6).alias("avg_logp"),
        )
    )
