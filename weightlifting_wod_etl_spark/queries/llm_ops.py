"""M6 queries: dedup family, similarity search, text analysis, multimodal."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import oracle_round_ratio_sql, round_ratio_exact
from ..io import load_table
from ..operators.minhash import lsh_candidate_pairs, ngram_jaccard_pairs, simhash_fingerprint
from ..operators.multimodal import (
    documents_as_media,
    extract_features,
    resize_media,
    sample_frames,
)
from ..operators.similarity import brute_force_topk, ivf_topk, lsh_bucket_topk, neardup_pairs
from ..functions.casefold import oracle_portable_lower_sql
from ..operators.text import (
    BPE_ISH_PATTERN,
    ORACLE_QUALITY_FORMULA_SQL,
    PUNCT_CLASS,
    bpe_ish_token_count,
    oracle_quality_feats_sql,
    doc_fingerprint,
    lang_id,
    oracle_stopword_regex,
    quality_score,
    ws_token_count,
)
from ..queries_registry import register

_SHINGLED_CTE = """
    shingled AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 2),
                   i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS shingles
        FROM documents
    )
"""

# malformed vectors (NULL, or a dim other than the schema's 64) crash
# DuckDB's list_dot_product outright and would poison the cosine math on
# the Spark side — every similarity query drops them up front, in BOTH
# engines, so a single bad row degrades coverage instead of burning the
# driver's correctness slot with an oracle-side error
_EMB_VALID_SQL = """emb AS (
        SELECT * FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = 64
    )"""

# sign-bucket blocking + within-bucket cosine pairs (>= 0.25), shared by
# q_embed_neardup and q_dup_clusters' oracle: the threshold, the 4-bit
# bucket ladder, and the rounding MUST stay one definition — an edit to
# one copy would leave q_dup_clusters verifying a different pair set
# than the Spark path feeding connected_components (review r11)
_NEARDUP_PAIRS_CTE = """b AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END +
                CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END +
                CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END +
                CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
        FROM emb
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, c.vec_id AS id_b,
               round(list_dot_product(a.e, c.e) /
                     (sqrt(list_dot_product(a.e, a.e)) *
                      sqrt(list_dot_product(c.e, c.e))), 6) AS cos_sim
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        WHERE round(list_dot_product(a.e, c.e) /
                    (sqrt(list_dot_product(a.e, a.e)) *
                     sqrt(list_dot_product(c.e, c.e))), 6) >= 0.25
    )"""


def _valid_embeddings(emb: DataFrame) -> DataFrame:
    """Spark mirror of ``_EMB_VALID_SQL``."""
    return emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )


@register(
    "q_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLED_CTE},
    exploded AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
    sigs AS (
        SELECT doc_id, seed,
               min(substr(md5(shingle) || md5('1:' || shingle), 1 + 8 * seed, 8)) AS mh
        FROM exploded, unnest(generate_series(0, 7)) AS t(seed)
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band_idx, string_agg(mh, '|' ORDER BY seed) AS band_key
        FROM sigs GROUP BY doc_id, seed // 2
    ),
    ok_bands AS (
        -- mirror the operator's max_band_df=1024 bucket cap: a band
        -- bucket larger than the cap is dropped before pair expansion
        SELECT band_idx, band_key FROM bands
        GROUP BY band_idx, band_key
        HAVING count(*) BETWEEN 2 AND 1024
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN ok_bands k ON a.band_idx = k.band_idx AND a.band_key = k.band_key
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           __JACCARD_EXACT__ AS jaccard
    FROM cand c
    JOIN shingled sa ON sa.doc_id = c.doc_a
    JOIN shingled sb ON sb.doc_id = c.doc_b
    """.replace(
        # exact-rational jaccard rounding (r14, the r13 round()-on-double
        # class): |∩| and |∪| are integers, so the quotient can sit on a
        # knife edge (3/20000 = 0.00015) where the engines' double
        # rounding splits — generated, never hand-copied
        "__JACCARD_EXACT__",
        oracle_round_ratio_sql(
            "len(list_intersect(sa.shingles, sb.shingles))",
            "len(sa.shingles) + len(sb.shingles)"
            " - len(list_intersect(sa.shingles, sb.shingles))",
            4,
        ),
    ),
)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)+LSH(4 bands×2) candidate pairs with exact-Jaccard verify.
    Signatures are per-row expressions; only band keys shuffle."""
    # fan_out (guide §2.5): shingle minting + 8 minhash passes dominate;
    # single-row-group testdata pins them to one task. 2.0x at sf0.1.
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return lsh_candidate_pairs(docs, num_hashes=8, rows_per_band=2, shingle_n=3)


@register(
    "q_simhash",
    oracle="""
    WITH toks AS (
        SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents
    ),
    votes AS (
        SELECT doc_id, j,
               sum(CASE WHEN substring(h, j + 1, 1) < '8' THEN 1 ELSE -1 END) AS v
        FROM toks, unnest(generate_series(0, 15)) AS t(j)
        GROUP BY doc_id, j
    ),
    fp AS (
        SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS fingerprint
        FROM votes GROUP BY doc_id
    )
    SELECT doc_id, fingerprint,
           count(*) OVER (PARTITION BY fingerprint)::BIGINT AS cluster_size
    FROM fp
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per doc + fingerprint-cluster sizes
    (near-dups collide; the per-bit hash family is portable md5 votes)."""
    # fan_out (guide §2.5): per-token md5 votes dominate the scan stage;
    # modest but real win (1.2x at sf0.1) once the scan can parallelize.
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    fp = simhash_fingerprint(docs, bits=16)
    w = Window.partitionBy("fingerprint")
    return fp.select(
        "doc_id", "fingerprint", F.count(F.lit(1)).over(w).alias("cluster_size")
    )


@register(
    "q_ngram_jaccard",
    oracle="""
    WITH shingled AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 3),
                   i -> array_to_string(string_split(text, ' ')[i:i+3], ' '))) AS shingles
        FROM documents WHERE doc_id < 150
    ),
    exploded AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
    rare AS (
        SELECT shingle FROM exploded GROUP BY shingle HAVING count(*) <= 64
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM exploded a
        JOIN rare r ON r.shingle = a.shingle
        JOIN exploded b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, jaccard FROM (
        SELECT c.doc_a, c.doc_b,
               __JACCARD_EXACT__ AS jaccard
        FROM cand c
        JOIN shingled sa ON sa.doc_id = c.doc_a
        JOIN shingled sb ON sb.doc_id = c.doc_b
    ) WHERE jaccard >= 0.2
    """.replace(
        # same exact-rational jaccard rounding as q_minhash_lsh (r14)
        "__JACCARD_EXACT__",
        oracle_round_ratio_sql(
            "len(list_intersect(sa.shingles, sb.shingles))",
            "len(sa.shingles) + len(sb.shingles)"
            " - len(list_intersect(sa.shingles, sb.shingles))",
            4,
        ),
    ),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 4-gram Jaccard pairs (no LSH) on a doc subset — the baseline
    whose quadratic candidate growth motivates q_minhash_lsh."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return ngram_jaccard_pairs(docs, shingle_n=4, min_jaccard=0.2)


@register(
    "q_cosine_topk",
    oracle=f"""
    WITH {_EMB_VALID_SQL}
    SELECT a.vec_id,
           round(list_dot_product(a.embedding::DOUBLE[], p.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[]))),
                 6) AS cos_sim
    FROM emb a, (SELECT embedding FROM emb WHERE vec_id = 0) p
    ORDER BY cos_sim DESC, a.vec_id NULLS LAST
    LIMIT 10
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs the vec_id=0 probe — exact ANN baseline;
    zip_with/aggregate dot product, TakeOrderedAndProject top-k."""
    emb = _valid_embeddings(load_table(spark, sf_dir, "embeddings"))
    probe = emb.filter(F.col("vec_id") == 0)
    return brute_force_topk(emb, probe, k=10)


@register(
    "q_ann_lsh_bucket",
    oracle=f"""
    WITH {_EMB_VALID_SQL},
    bucketed AS (
        SELECT vec_id, embedding,
               (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END +
                CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END +
                CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END +
                CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END +
                CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END +
                CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END +
                CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END +
                CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END)::INT AS bucket
        FROM emb
    ),
    p AS (SELECT embedding, bucket FROM bucketed WHERE vec_id = 0)
    SELECT a.vec_id,
           round(list_dot_product(a.embedding::DOUBLE[], p.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(p.embedding::DOUBLE[], p.embedding::DOUBLE[]))),
                 6) AS cos_sim
    FROM bucketed a JOIN p ON a.bucket = p.bucket
    ORDER BY cos_sim DESC, a.vec_id NULLS LAST
    LIMIT 10
    """,
)
def q_ann_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: sign-bit coarse quantizer (8 bits → 256 buckets);
    probe scans only its own bucket. At 100 TB the bucket is the partition
    key — 1/256 of the data read."""
    emb = _valid_embeddings(load_table(spark, sf_dir, "embeddings"))
    probe = emb.filter(F.col("vec_id") == 0)
    return lsh_bucket_topk(emb, probe, k=10, n_bits=8)


@register(
    "q_ann_ivf",
    oracle=f"""
    WITH {_EMB_VALID_SQL},
    c AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        FROM emb ORDER BY vec_id NULLS LAST LIMIT 8
    ),
    scored AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cid,
               round(list_dot_product(e.embedding::DOUBLE[], c.cv) /
                     (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                      sqrt(list_dot_product(c.cv, c.cv))), 6) AS sim
        FROM emb e CROSS JOIN c
    ),
    ranked AS (
        SELECT vec_id, v, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
        FROM scored
    ),
    assign AS (SELECT vec_id, v, cid FROM ranked WHERE rn = 1),
    pc AS (SELECT cid FROM ranked WHERE vec_id = 0 AND rn <= 2),
    p AS (SELECT embedding::DOUBLE[] AS pv FROM emb WHERE vec_id = 0)
    SELECT a.vec_id,
           round(list_dot_product(a.v, p.pv) /
                 (sqrt(list_dot_product(a.v, a.v)) *
                  sqrt(list_dot_product(p.pv, p.pv))), 6) AS cos_sim
    FROM assign a JOIN pc ON a.cid = pc.cid, p
    ORDER BY cos_sim DESC, a.vec_id NULLS LAST
    LIMIT 10
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: nearest-of-8-centroids coarse quantizer, probe scans its 2
    nearest inverted lists (nprobe=2) — the FAISS-IVF contract; at scale
    the centroid id is the stored partition key (operators/similarity.py)."""
    emb = _valid_embeddings(load_table(spark, sf_dir, "embeddings"))
    probe = emb.filter(F.col("vec_id") == 0)
    return ivf_topk(emb, probe, k=10, n_centroids=8, nprobe=2)


@register(
    "q_embed_neardup",
    oracle=f"""
    WITH {_EMB_VALID_SQL},
    {_NEARDUP_PAIRS_CTE}
    SELECT id_a, id_b, cos_sim FROM pairs
    """,
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: sign-bucket blocking self-join —
    quadratic work confined within 2^4 balanced buckets."""
    emb = _valid_embeddings(load_table(spark, sf_dir, "embeddings"))
    return neardup_pairs(emb, min_cosine=0.25, n_bits=4)


@register(
    "q_text_stats",
    oracle="""
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           -- exact-rational rounding (r13, generated)
           __AVG_TOKENS__ AS avg_tokens,
           __AVG_CHARS__ AS avg_chars
    FROM documents
    GROUP BY lang
    """.replace(
        "__AVG_TOKENS__",
        oracle_round_ratio_sql(
            "sum(len(string_split(text, ' ')))", "count(*)", 4
        ),
    ).replace(
        "__AVG_CHARS__",
        oracle_round_ratio_sql("sum(length(text))", "count(*)", 4),
    ),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats (exact integer sums / count — order-free)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # exact-rational rounding (r13, mirrored in the oracle)
        round_ratio_exact(
            F.sum(ws_token_count(F.col("text"))), F.count(F.lit(1)), 4
        ).alias("avg_tokens"),
        round_ratio_exact(
            F.sum(F.length("text")), F.count(F.lit(1)), 4
        ).alias("avg_chars"),
    )


@register(
    "q_token_count",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
           len(regexp_extract_all({oracle_portable_lower_sql('text')}, '{BPE_ISH_PATTERN}'))::BIGINT AS n_bpe_tokens
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ws_token_count(F.col("text")).alias("n_ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


@register(
    "q_lang_id",
    # stopword regexes INTERPOLATED from operators/text.STOPWORDS (r12):
    # hardcoded literals silently desynchronized from the Spark side the
    # moment anyone edited a list (the BPE_ISH_PATTERN pattern)
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               len(regexp_extract_all({oracle_portable_lower_sql('text')}, '{oracle_stopword_regex("en")}')) AS c_en,
               len(regexp_extract_all({oracle_portable_lower_sql('text')}, '{oracle_stopword_regex("fr")}')) AS c_fr,
               len(regexp_extract_all({oracle_portable_lower_sql('text')}, '{oracle_stopword_regex("es")}')) AS c_es,
               len(regexp_extract_all({oracle_portable_lower_sql('text')}, '{oracle_stopword_regex("de")}')) AS c_de
        FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN greatest(c_en, c_fr, c_es, c_de) IS NULL THEN NULL
                WHEN greatest(c_en, c_fr, c_es, c_de) = 0 THEN 'und'
                WHEN c_en = greatest(c_en, c_fr, c_es, c_de) THEN 'en'
                WHEN c_fr = greatest(c_en, c_fr, c_es, c_de) THEN 'fr'
                WHEN c_es = greatest(c_en, c_fr, c_es, c_de) THEN 'es'
                ELSE 'de' END AS predicted_lang
    FROM scored
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID vs the labeled lang column."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_id(F.col("text")).alias("predicted_lang"),
    )


@register(
    "q_quality_score",
    # features + weighted formula INTERPOLATED from operators/text (r13:
    # one shared definition — the formula was hand-copied here and in
    # q_curation_pipeline's oracle)
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               {oracle_quality_feats_sql("en")}
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN n_toks IS NULL THEN NULL ELSE
           {ORACLE_QUALITY_FORMULA_SQL}
           END AS quality
    FROM feats
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite length/punctuation/stopword quality score per doc."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


@register(
    "q_doc_fingerprint",
    oracle=rf"""
    WITH fp AS (
        SELECT doc_id, md5(trim(regexp_replace({oracle_portable_lower_sql('text')}, '\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    )
    SELECT doc_id, fingerprint,
           count(*) OVER (PARTITION BY fingerprint)::BIGINT AS n_same
    FROM fp
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content md5 fingerprint + exact-dup cluster size."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return fp.select("doc_id", "fingerprint", F.count(F.lit(1)).over(w).alias("n_same"))


@register(
    "q_binary_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text))::BIGINT AS n_bytes,
           sha256(text) AS payload_sha
    FROM documents
    """,
)
def q_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata path: opaque binary payload + typed metadata
    (byte length, content hash) — all JVM-side."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return media.select(
        F.col("media_id").alias("doc_id"),
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.sha2("payload", 256).alias("payload_sha"),
    )


@register(
    "q_multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text))::BIGINT AS n_bytes,
           ('0x' || substr(sha256(text), 1, 8))::UBIGINT::BIGINT AS feature0_u32
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-parallel feature extraction over binary payloads
    (mapInPandas + Arrow) with a FULL oracle: the stub decoder's first
    feature word is sha256(payload)[0:4] as a big-endian uint32
    (operators/multimodal.py), which the oracle reconstructs via hex
    arithmetic — so the Python-worker path (schema, Arrow batching,
    digest computation) is value-hash-checked. The float32 ``features``
    column itself is derived from the same words (u32 / 2^32); comparing
    the lossless integer avoids float32 round-to-nearest hazards."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    feats = extract_features(media)
    return feats.select("media_id", "n_bytes", "feature0_u32")


@register("q_approx_distinct")  # no oracle: HLL sketch differs per engine
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — rows-only check; sketches
    are engine-specific by nature (SURVEY §7.3)."""
    events = load_table(spark, sf_dir, "events")
    return events.agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_EMB_VALID_SQL},
    {_NEARDUP_PAIRS_CTE},
    und AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT u FROM und),
    reach AS (
        SELECT u, u AS v FROM nodes
        UNION
        SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u
    ),
    comp AS (SELECT u AS vec_id, min(v) AS cluster_id FROM reach GROUP BY u)
    SELECT vec_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id)::BIGINT AS n_members
    FROM comp
    """,
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → canonical CLUSTERS: connected components by
    iterative min-label propagation (operators/graph.py) over the
    embedding near-dup edge list — the keep-one-per-cluster closure step
    of a dedup pipeline. Oracle is a recursive-CTE transitive closure:
    exact parity between a distributed fixpoint loop and single-node
    recursion."""
    from ..operators.graph import connected_components

    emb = _valid_embeddings(load_table(spark, sf_dir, "embeddings"))
    pairs = neardup_pairs(emb, min_cosine=0.25, n_bits=4)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    w = Window.partitionBy("cluster_id")
    return comp.select(
        F.col("node").alias("vec_id"), F.col("component").alias("cluster_id")
    ).withColumn("n_members", F.count(F.lit(1)).over(w))


@register(
    "q_media_resize",
    oracle="""
    SELECT doc_id AS media_id,
           sha256(text || '64x64') AS digest_hex,
           '64' AS width, '64' AS height
    FROM documents
    """,
)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal 1:1 resize plumbing (mapInPandas, Arrow) with a FULL
    oracle: the stub resizer is sha256(payload, WxH), which the oracle
    reconstructs with string concat — so the Python-worker path (schema,
    batch shape, meta update) is value-hash-checked, not just rows-only."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    resized = resize_media(media, 64, 64)
    return resized.select(
        "media_id",
        F.lower(F.hex("payload")).alias("digest_hex"),
        F.element_at("meta", "width").alias("width"),
        F.element_at("meta", "height").alias("height"),
    )


@register(
    "q_frame_sample",
    oracle="""
    WITH f AS (
        -- octet_length of the UTF-8 payload, NOT length(text): the
        -- operator counts BYTES, and the two diverge on any multi-byte
        -- character (same rule q_binary_meta's oracle follows)
        SELECT doc_id, text,
               octet_length(encode(text))::BIGINT AS n_bytes,
               unnest(range(0, greatest(1, octet_length(encode(text)) // 64), 2)) AS frame_idx
        FROM documents
        -- NULL text has no payload and no frames Spark-side; without the
        -- guard, greatest() skips the NULL and mints one phantom frame
        WHERE text IS NOT NULL
    )
    SELECT doc_id AS media_id, frame_idx::BIGINT AS frame_idx,
           sha256(text || ':' || frame_idx) AS digest_hex,
           n_bytes AS n_src_bytes
    FROM f
    """,
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal 1:N frame sampling (every 2nd fake frame, 64 bytes ≈ one
    frame) — the table-generating mapInPandas shape, expansion entirely
    partition-local. Frame digests are oracle-reconstructable, so the fan-
    out row set AND payload bytes are both verified."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    frames = sample_frames(media, every_n=2)
    return frames.select(
        "media_id",
        "frame_idx",
        F.lower(F.hex("frame_payload")).alias("digest_hex"),
        "n_src_bytes",
    )


@register(
    "q_embed_centroid",
    oracle="""
    WITH x AS (
        -- range driven by the ACTUAL list length, mirroring posexplode:
        -- a hardcoded range(1, 65) would resurrect NULL embeddings (no
        -- rows Spark-side) and pad short ones with phantom positions
        SELECT label, embedding::DOUBLE[] AS e,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings
    )
    SELECT label::BIGINT AS label, (i - 1)::BIGINT AS pos,
           -- micros/(count·10⁶): an integer ratio whose count factor
           -- makes the rational repeat — exact-rational rounding (r14)
           __CENTROID__ AS c,
           count(*)::BIGINT AS n_vecs
    FROM x
    GROUP BY 1, 2
    """.replace(
        "__CENTROID__",
        oracle_round_ratio_sql(
            "sum(round(e[i] * 1000000)::BIGINT)", "count(*) * 1000000", 6
        ),
    ),
)
def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid in long format — the class prototype
    behind centroid-based dedup, IVF coarse quantizers, and semantic
    drift monitoring.

    Element-wise mean via posexplode + (label, pos) aggregate: the key
    space is |labels|·dim (bounded, uniform), and partial combine folds
    the corpus-sized explode down to that key space map-side before the
    one exchange — at 100 TB the wire carries |labels|·dim·tasks partial
    sums, not vectors. Components go through ×10⁶ fixed-point before the
    sum (float32 inputs are exactly representable), so the mean is exact
    integer arithmetic divided once — bit-identical in both engines. A
    wide-format centroid (one array row per label) would be
    ``array_agg(c ORDER BY pos)`` on top; long format keeps the oracle
    exact and the shuffle key uniform."""
    emb = load_table(spark, sf_dir, "embeddings")
    pos = emb.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("pos", "val"),
    )
    return (
        pos.groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(
            # cast BEFORE the multiply: float32 × int would stay single
            # precision in Spark while the oracle multiplies doubles.
            # micros/(count·10⁶) repeats whenever count has a factor
            # other than 2/5 — exact-rational rounding (r14)
            round_ratio_exact(
                F.sum(F.round(F.col("val").cast("double") * 1000000).cast("long")),
                F.count(F.lit(1)) * F.lit(1000000),
                6,
            ).alias("c"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )
