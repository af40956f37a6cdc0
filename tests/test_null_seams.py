"""Dirty-testdata parity harness for the null/edge seam class.

The driver's synthetic tables are clean — no NULLs anywhere, documents
are single-spaced ``[a-z0-9 ]`` text — so the sf-dir oracle parity suite
structurally CANNOT catch divergences that only trigger on NULL keys,
NULL measures, NULL/empty/near-empty text, or tiny groups. Every review
round has found real bugs in exactly that seam (pandas groupby dropping
NULL keys, count(*) vs count(col), sequence(0, -1) descending on
size(NULL) = -1, interpolated sketch bands on 2-row groups, ...).

This harness copies the WHOLE star schema into a temp sf dir with
hostile rows appended to every table (NULL keys/measures/text/vectors,
empty and near-empty text, HTML entities, short/zero vectors, orphan
fact rows, childless dims, tiny groups), then re-runs the SAME
query-vs-oracle comparison the driver runs — for EVERY registered query
that carries an oracle. A query whose Spark plan and DuckDB oracle
disagree on any injected edge fails here years before production data
ever shows it to the driver.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tests.parity import assert_frames_match

# hostile rows per table, as a DuckDB VALUES clause matching the parquet
# schema; tables absent here are copied verbatim
_DIRTY_ROWS = {
    "events": """
                (9000001::BIGINT, TIMESTAMP '2024-03-01 10:00:00',
                 42::BIGINT, NULL, 5.25::DOUBLE, NULL),
                (9000002, TIMESTAMP '2024-03-01 11:00:00',
                 NULL, 'null_user_evt', 1.00, NULL),
                (9000003, TIMESTAMP '2024-03-02 09:00:00',
                 43, 'tiny_evt', NULL, NULL),
                (9000004, TIMESTAMP '2024-03-02 09:30:00',
                 44, 'tiny_evt', 2.50, NULL),
                (9000005, TIMESTAMP '2024-03-03 09:30:00',
                 45, 'tiny_evt', 7.75, NULL),
                -- user 3 exists at EVERY sf: the NULL ts must land inside
                -- a real event sequence or the NULLS FIRST/LAST window
                -- seam is invisible at the default test scale (the r10
                -- scd2/transitions/ewma/pagerank class)
                (9000006, NULL, 3, 'tiny_evt', 3.00, NULL),
                (9000007, TIMESTAMP '2024-03-04 09:30:00',
                 NULL, NULL, NULL, NULL),
                (9000008, TIMESTAMP '2024-03-05 09:30:00',
                 47, 'big_evt', 12345678.99, NULL),
                (9000009, TIMESTAMP '2024-03-05 10:30:00',
                 48, 'big_evt', -42.37, NULL),
                -- r11 interval-join seams: a purchase EXACTLY at the
                -- 30-minute band edge (inclusivity knife-edge), a
                -- zero-delay purchase at the click instant, a click with
                -- a NULL bound (NULL ts must pair with nothing), and a
                -- purchase with no user (equi-join key NULL)
                (9000010, TIMESTAMP '2024-03-06 12:00:00',
                 49, 'click', 1.00, NULL),
                (9000011, TIMESTAMP '2024-03-06 12:30:00',
                 49, 'purchase', 2.00, NULL),
                (9000012, TIMESTAMP '2024-03-06 12:00:00',
                 49, 'purchase', 3.00, NULL),
                (9000013, NULL, 49, 'click', 4.00, NULL),
                (9000014, TIMESTAMP '2024-03-06 12:15:00',
                 NULL, 'purchase', 5.00, NULL),
                (9000015, NULL, 49, 'purchase', 6.00, NULL),
                -- r12: NULL event_id — at an exact ts tie with 9000010
                -- (same user/type/hour) and inside the NULL-ts hour
                -- bucket, the unpinned-window seam q_window_dedup had;
                -- also probes uniqueness audits (SQL UNIQUE does not
                -- treat two NULLs as duplicates) and every event_id
                -- distinct-count
                (NULL, TIMESTAMP '2024-03-06 12:00:00',
                 49, 'click', 7.00, NULL),
                -- r13: SECOND NULL-event_id row at the SAME (user, ts) —
                -- (ts, event_id) ties completely, so every lag/lead
                -- chain needs a further tiebreak (event_type / cents /
                -- value) to stay a total order; different type AND value
                -- so an unpinned chain actually diverges
                (NULL, TIMESTAMP '2024-03-06 12:00:00',
                 49, 'view', 1.50, NULL),
                (NULL, NULL, 49, 'click', 8.00, NULL),
                -- r16: PRE-EPOCH timestamps (negative unix micros) — the
                -- classic floor-vs-truncate seam for every time-bucket
                -- derivation (window(), time_bucket, date_trunc('week'),
                -- unix_micros frame arithmetic, hour spines). Probed
                -- green across the 20 time-family queries before
                -- landing; pinned here so a future bucketing rewrite
                -- that truncates toward zero (wrong bucket for negative
                -- epochs) fails the sweep. User 3 exists at every sf, so
                -- the 1969 rows extend a REAL event sequence backward
                -- (lag/ewma/scd2 chains cross the epoch), and the
                -- 23:59:30/00:00:30 pair straddles the epoch hour edge.
                (9200001, TIMESTAMP '1969-12-31 23:59:30',
                 3, 'click', 1.25, NULL),
                (9200002, TIMESTAMP '1969-12-31 23:30:00',
                 3, 'view', 2.50, NULL),
                (9200003, TIMESTAMP '1969-06-15 12:00:01',
                 4, 'click', 3.75, NULL),
                (9200004, TIMESTAMP '1970-01-01 00:00:30',
                 3, 'purchase', 4.00, NULL),
                (9200005, TIMESTAMP '1969-12-29 00:00:00',
                 5, 'click', 5.00, NULL),
                -- r16 hostile property bags: props is NULL at every sf,
                -- so the JSON-extraction paths ran on all-NULL input
                -- only. Probed findings: STRICT parse_json /
                -- variant_get RAISE on malformed JSON and non-scalar
                -- values (one bad bag kills a 100 TB job — q_variant_json
                -- now uses the try_ forms), bare json_extract_string /
                -- ::INT in the oracles raise where Spark nulls (now
                -- try_cast-mirrored), and try_parse_json REJECTS
                -- duplicate-key bags where ->> takes the first (pinned
                -- by the json_keys CASE). Nested-duplicate bags stay
                -- outside the oracled domain (documented in the query).
                (9300001, TIMESTAMP '2024-05-01 10:00:00',
                 3, 'click', 1.00, '{"k": 5, "v": "x"}'),
                (9300002, TIMESTAMP '2024-05-01 11:00:00',
                 4, 'click', 2.00, '{"k":1,"k":2}'),
                (9300003, TIMESTAMP '2024-05-01 12:00:00',
                 5, 'view', 3.00, '{k:1}'),
                (9300004, TIMESTAMP '2024-05-01 13:00:00',
                 3, 'view', 4.00, '{"k": "12"}'),
                (9300005, TIMESTAMP '2024-05-01 14:00:00',
                 4, 'purchase', 5.00, '{"k": {"x": 1}}'),
                (9300006, TIMESTAMP '2024-05-01 15:00:00',
                 5, 'purchase', 6.00, '{"k": [1,2]}'),
                (9300007, TIMESTAMP '2024-05-01 16:00:00',
                 3, 'click', 7.00,
                 '{"k": 123456789012345678901234567890}'),
                (9300008, TIMESTAMP '2024-05-01 17:00:00',
                 4, 'view', 8.00, '  {"k": 9}  '),
                (9300009, TIMESTAMP '2024-05-01 18:00:00',
                 5, 'click', 9.00, '{"k": 3.0}'),
                -- r16: JSON boolean vs json-STRING "true" — the variant
                -- long-cast maps true->1/false->0 but NULLs the string
                -- form; the oracle distinguishes them on the unstripped
                -- '->' text (->>'k' strips quotes and cannot)
                (9300010, TIMESTAMP '2024-05-01 19:00:00',
                 3, 'view', 1.50, '{"k": true}'),
                (9300011, TIMESTAMP '2024-05-01 20:00:00',
                 4, 'click', 2.50, '{"k": false}'),
                (9300012, TIMESTAMP '2024-05-01 21:00:00',
                 5, 'view', 3.50, '{"k": "true"}'),
                -- r17 fractional JSON numerics (ADVICE r16 #1): Spark
                -- TRUNCATES toward zero on every numeric channel
                -- (variant long-cast AND the non-ANSI string->int cast
                -- behind get_json_object), DuckDB's bare TRY_CAST
                -- ROUNDS — the oracles now mirror truncation via a
                -- json_type split; these rows pin both engines on the
                -- exact divergent inputs (1.5 -> 1 not 2, -2.5 -> -2)
                (9300013, TIMESTAMP '2024-05-01 22:00:00',
                 3, 'click', 4.50, '{"k": 1.5}'),
                (9300014, TIMESTAMP '2024-05-01 23:00:00',
                 4, 'view', 5.50, '{"k": -2.5}'),
                -- string-typed fractional: variant string->long is
                -- strict-integral (NULL); get_json_object's cast
                -- truncates the raw text (1)
                (9300015, TIMESTAMP '2024-05-02 00:00:00',
                 5, 'click', 6.50, '{"k": "1.5"}'),
                -- Jackson re-print edges (q_json_fns only): non-integer
                -- numbers outside [1e-3, 1e7) print in EXPONENT form,
                -- which the digits-only int cast NULLs — while the
                -- variant channel casts the VALUE and is unaffected
                (9300016, TIMESTAMP '2024-05-02 01:00:00',
                 3, 'view', 7.50, '{"k": 15000000.0}'),
                (9300017, TIMESTAMP '2024-05-02 02:00:00',
                 4, 'click', 8.50, '{"k": 0.0009}'),
                -- empty-integer-part string: the non-ANSI cast gives 0
                -- ('.5' truncates to 0); the variant string cast NULLs
                (9300018, TIMESTAMP '2024-05-02 03:00:00',
                 5, 'view', 9.50, '{"k": ".5"}'),
                -- r17 cast-trim class (probed): Spark's numeric casts
                -- strip exactly the single-byte whitespace/ISO-control
                -- set (codepoints 0x00-0x20 plus 0x7F) — tab-led "12"
                -- casts to 12, while NBSP-led "12" does NOT (Unicode
                -- spaces are kept and fail the digits check). DuckDB's
                -- trim() is the opposite corner; the oracles strip the
                -- exact class via _spark_cast_trim_sql (the JSON
                -- backslash-t escape and the raw NBSP char below parse
                -- to the real chars identically in BOTH engines)
                (9300019, TIMESTAMP '2024-05-02 04:00:00',
                 3, 'click', 1.75, '{"k": "\\t12"}'),
                (9300020, TIMESTAMP '2024-05-02 05:00:00',
                 4, 'view', 2.75, '{"k": " 12"}')
            ) t(event_id, ts, user_id, event_type, value, props)
    """,
    "documents": """
                (9000001::BIGINT, NULL, 'en', 'dirty', NULL::BIGINT),
                (9000002, '', 'en', 'dirty', 0),
                (9000003, 'solo', 'en', 'dirty', 4),
                (9000004, 'a  b', 'en', 'dirty', 4),
                (9000005, 'dup dup dup dup', NULL, 'dirty', 15),
                (9000006, 'x y z', 'xx', NULL, 5),
                (9000007, 'negative source index doc', 'en', 'src-1', 25),
                (9000008, 'even negative source index', 'en', 'src-2', 26),
                (9000009, 'alpha &amp; beta &#8211; gamma &amp;lt; delta',
                 'en', 'src1', 44),
                (9000010, 'héllo wörld ünïcode multibyte — tokens',
                 'fr', 'src2', 38),
                (9000011, 'regex .* meta [chars] (parens) | pipes $5 ^caret',
                 'en', 'src3', 48),
                (9000012, 'laïque de elías y el mar la fête und der tag',
                 'fr', 'src4', 44),
                -- r11: NULL primary key with REAL text, duplicating
                -- 9000005's text exactly — exercises every doc_id
                -- window tiebreak (passage/canonical rep NULLS pins),
                -- quota-order NULL placement (md5(NULL)), df counting
                -- (tfidf), and NULL split assignment
                (NULL, 'dup dup dup dup', 'en', 'dirty', 15),
                -- r12: a SECOND NULL-PK doc with different text — any
                -- per-document query whose oracle GROUPs BY doc_id now
                -- merges the two NULLs into one row while a per-row
                -- Spark plan emits two (the q_trigram_entropy class);
                -- both sides must pin the same NULL-PK rule
                (NULL, 'zz zz yy xx ww vv uu tt', 'en', 'dirty', 23),
                -- r13: NEGATIVE doc_id — % truncates toward zero in both
                -- engines, so every doc_id-modulo derivation (e2e slug
                -- day, decontaminate eval slice, split assignment) sees
                -- a negative remainder; the e2e oracle's make_date RAISED
                -- on it before the pmod pin
                (-7, 'negative id doc with scan marker join words scan',
                 'en', 'dirty', 48),
                -- r13: text ending in a vertical tab — Java's whitespace
                -- class includes x0B, RE2's does not; the HTML-strip trim
                -- diverged on exactly this until both sides pinned the
                -- explicit class
                (9000013, 'trailing vtab token' || chr(11), 'en',
                 'dirty', 20),
                -- r13: DUPLICATE real PK with different text (the orders
                -- 8000001 class, for documents): caught q_trigram_entropy
                -- computing union entropy in the oracle's GROUP BY doc_id
                -- while the per-row Spark plan emits one row per physical
                -- doc, and pins wod_pipeline's duplicate-post dedup
                (9000003, 'dup pk different text scan join scan', 'en',
                 'dirty', 37),
                -- r13: adjacent amp spellings — '&#038;amp;' double-
                -- decoded to '&' under sequential entity replaces (the
                -- first replace minted an '&' that recombined with the
                -- trailing 'amp;'); both engines now decode both amp
                -- forms in ONE simultaneous regex pass
                (9000014, 'amp seam &#038;amp; and &amp;#038; tokens',
                 'en', 'dirty', 41),
                -- r14 knife-edge jaccard group: two docs engineered so
                -- exact 4-gram Jaccard = 5257/20000 = 0.26285, whose
                -- double sits strictly below the displayed midpoint —
                -- Spark's shortest-repr round half-ups to 0.2629 while
                -- DuckDB's multiply-then-round lands 0.2628, so any
                -- round()-on-double jaccard hash-splits the engines.
                -- round_ratio_exact decides the tie on the exact
                -- rational (away from zero -> 0.2629 both sides).
                -- Construction: 5260 shared prefix tokens = 5257 shared
                -- shingles; 7372/7371 unique tail tokens make the union
                -- exactly 20000. All tokens unique, so shingle counts
                -- are exact and no other doc pairs with these. Negative
                -- ids keep the pair inside q_ngram_jaccard's doc_id < 150
                -- candidate window (and re-probe the negative-modulo pin).
                (-15,
                 array_to_string(list_transform(range(1, 5261),
                                                i -> 'kc' || i), ' ')
                 || ' ' ||
                 array_to_string(list_transform(range(1, 7373),
                                                i -> 'ka' || i), ' '),
                 'en', 'dirty', 80000),
                (-16,
                 array_to_string(list_transform(range(1, 5261),
                                                i -> 'kc' || i), ' ')
                 || ' ' ||
                 array_to_string(list_transform(range(1, 7372),
                                                i -> 'kb' || i), ' '),
                 'en', 'dirty', 80000),
                -- r16 casefold seam (functions/casefold.py): UPPERCASE
                -- special-casing codepoints. Spark's full-casing lower()
                -- grows 'İ' to i+U+0307 and lowers word-final Σ to ς,
                -- DuckDB's simple mapping gives 'i'/'σ' — every
                -- lower()-fed value (fingerprints, stopword/BPE counts,
                -- lang-id argmax, rolling hash, slug month names) split
                -- until portable_lower pinned both engines. 'THE İDE':
                -- under full casing the combining dot is a non-word
                -- char, so the ASCII-boundary stopword regex MATCHES
                -- 'de' in Spark but not in DuckDB's 'ide'.
                (9000016, 'İSTANBUL ΒΑΣ Σ THE İDE DE LA', 'en',
                 'dirty', 28),
                -- ...and a case-variant duplicate pair: these two must
                -- land in the SAME fingerprint cluster in BOTH engines
                -- (portable_lower maps İ and I to the same 'i'); without
                -- the pin Spark fingerprints 'i̇stanbul…' ≠ 'istanbul…'
                -- (clusters 1+1) while DuckDB clusters them (2) — a
                -- hash split for q_doc_fingerprint and the curation
                -- dedup window. (q_dedup_exact is UNAFFECTED by design:
                -- it keys on raw md5(text), where the pair differs in
                -- both engines identically.)
                (9000017, 'İstanbul muhteşem şehir the a of and', 'en',
                 'dirty', 36),
                (9000018, 'ISTANBUL muhteşem şehir the a of and', 'en',
                 'dirty', 36)
                -- NOTE (r16): the decimal-fallback-tier quality document
                -- (2.1 MB) deliberately does NOT live here — a 700k-token
                -- doc through every shingle/passage pipeline added ~3 min
                -- PER text query to the sweep (measured: q_ngram_jaccard
                -- 174 s alone). It gets the targeted decimal_tier_dir
                -- fixture below, scoped to the two quality consumers.
            ) t(doc_id, text, lang, source, n_chars)
    """,
    "embeddings": """
                (9000001::BIGINT, NULL, 3),
                (9000002, [0.5::FLOAT, -0.25::FLOAT, 0.125::FLOAT], 4),
                (9000003, list_transform(range(1, 65),
                                         i -> 0.0::FLOAT), NULL),
                (9000004, list_transform(range(1, 65),
                                         i -> ((i % 7) - 3)::FLOAT / 8), NULL),
                -- r12: single-element vector — the shortest possible
                -- ragged dim; must be excluded by every _valid_embeddings
                -- dim guard (DuckDB list_dot_product CRASHES on ragged
                -- lists, so a miss burns the oracle side, not just parity)
                (9000005, [0.25::FLOAT], NULL),
                -- r13 (REPRODUCED): NULL primary key with a VALID 64-dim
                -- vector — the last table without a NULL-PK row. It
                -- passes _valid_embeddings and then hits every id-order
                -- seam: ivf_topk's centroid seed (Spark NULLS FIRST vs
                -- oracle NULLS LAST trained on DIFFERENT centroid sets)
                -- and the top-k LIMIT tiebreaks
                (NULL, list_transform(range(1, 65),
                                      i -> ((i % 5) - 2)::FLOAT / 4), 2)
            ) t(vec_id, embedding, label)
    """,
    # orphan order (custkey NULL), all-NULL-attrs order, an order in
    # a month no clean row occupies, and (r11) a NULL primary key — a
    # NULL o_orderkey must drop consistently through every modulo
    # filter, join, and NOT IN / anti-join on the key (the CDC base and
    # change-batch derivations both filter on o_orderkey % n)
    "orders": """
                (9000001::BIGINT, NULL::BIGINT, 'O', 123.45::DOUBLE,
                 TIMESTAMP '2031-07-15 00:00:00', '1-URGENT'),
                (9000002, 1, NULL, NULL, NULL, NULL),
                (NULL, 2, 'F', 77.77, TIMESTAMP '2031-09-01 00:00:00',
                 '3-MEDIUM'),
                -- r11: NULL price inside a REAL priority partition (the
                -- ntile NULLS-pin blind spot: the all-NULL order above
                -- has NULL priority, a 1-row partition both engines
                -- bucket identically)
                (9000003, 2, 'O', NULL, TIMESTAMP '2031-09-02 00:00:00',
                 '1-URGENT'),
                -- r11: NEGATIVE price — floor-vs-truncation binning
                -- (q_histogram) and any sign-sensitive money math
                (9000004, 2, 'F', -150.25,
                 TIMESTAMP '2031-09-03 00:00:00', '2-HIGH'),
                -- r12: DUPLICATE primary key across statuses — the q21
                -- divergence class (an anti/NOT-EXISTS leg derived from
                -- a status-filtered order set silently assumes orderkey
                -- uniqueness; reproduced 17-vs-16 numwait before the
                -- fix). Every orderkey equi-join now multiplies rows —
                -- both engines must multiply identically.
                (8000001, 1, 'F', 100.00,
                 TIMESTAMP '2030-01-10 00:00:00', '1-URGENT'),
                (8000001, 1, 'O', 100.00,
                 TIMESTAMP '2030-01-01 00:00:00', '1-URGENT'),
                -- r15 (VERDICT r14 #5): SINGLE-ROW partition — a unique
                -- priority value, so q_rank_fns' rebuilt pct_rank must
                -- take its n>1 guard branch (0.0, matching both
                -- engines' builtin convention) and every
                -- rank/ntile/cume path sees a 1-row window
                (8000002, NULL, 'O', 42.00,
                 TIMESTAMP '2030-03-01 00:00:00', '9-SOLO'),
                -- r15: ALL-TIES partition — three rows tying on BOTH
                -- window sort keys (o_totalprice AND o_orderkey), so
                -- rank/dense_rank/cume/percent_rank have no order to
                -- hide behind: rank must be 1,1,1, the RANGE-frame peer
                -- count 3, cume exactly 1.0 through the i64 exact
                -- rational — any ROWS-frame or row_number-based rebuild
                -- on either side splits the hash here
                (8000003, NULL, 'O', 555.55,
                 TIMESTAMP '2030-03-02 00:00:00', '8-TIES'),
                (8000003, NULL, 'O', 555.55,
                 TIMESTAMP '2030-03-02 00:00:00', '8-TIES'),
                (8000003, NULL, 'O', 555.55,
                 TIMESTAMP '2030-03-02 00:00:00', '8-TIES')
            ) t(o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, o_orderpriority)
    """,
    # a lineitem for the dirty order, an all-NULL-measures line, and an
    # orphan line whose orderkey has no parent order
    "lineitem": """
                (9000001::BIGINT, 1::BIGINT, 1::BIGINT, 1::INT,
                 2.0::DOUBLE, 150.25::DOUBLE, 0.05::DOUBLE, 0.02::DOUBLE,
                 'N', 'O', TIMESTAMP '2031-07-20 00:00:00'),
                (9000001, NULL, NULL, 2, NULL, NULL, NULL, NULL,
                 NULL, NULL, NULL),
                (9000009, 1, 1, 1, 3.0, 99.99, 0.0, 0.0,
                 'A', 'F', TIMESTAMP '2031-08-01 00:00:00'),
                -- r11: NULL measure inside a REAL partition — the old
                -- all-NULL row (above) sat in its own NULL-flag group,
                -- so unpinned ASC windows over price/unit-cost never met
                -- a NULL inside a populated partition (the
                -- min_cost_supplier / weighted_median / ntile blind spot)
                (9000010, 1, 1, 1, 5.0, NULL, 0.0, 0.0,
                 'N', 'O', TIMESTAMP '2031-08-02 00:00:00'),
                -- r11: NULL suppkey with a REAL partkey — the NOT IN vs
                -- anti-join probe-side NULL seam (tpch_q16): the older
                -- NULL-suppkey row also has NULL partkey, which kills
                -- the part join in both engines and hid the divergence
                (9000011, 2, NULL, 1, 1.0, 10.00, 0.0, 0.0,
                 'N', 'O', TIMESTAMP '2031-08-03 00:00:00'),
                -- r12 q21 duplicate-PK scenario (pairs with the 8000001
                -- orders above): supplier 1's line is late vs BOTH
                -- duplicate orders; supplier 2's line is late ONLY vs
                -- the non-'F' duplicate — an anti leg built from
                -- 'F'-filtered orders misses it and overcounts numwait
                (8000001, 1, 1, 1, 1.0, 10.00, 0.0, 0.0,
                 'N', 'F', TIMESTAMP '2030-02-01 00:00:00'),
                (8000001, 1, 2, 2, 1.0, 10.00, 0.0, 0.0,
                 'N', 'O', TIMESTAMP '2030-01-05 00:00:00'),
                -- r12 q20 coverage: the dominant-share query returned 0
                -- rows at this scale (no SMALL-part majority supplier
                -- sat in AMERICA), so the majority window and double
                -- semi-join were vacuously swept. Partkey 8 is SMALL and
                -- suppkey 9 is the one AMERICA supplier at sf0.001: qty
                -- 100 of (100+3+2 injected + 76 clean) makes it a
                -- majority shipper inside the 1996 window; the
                -- NULL-suppkey line must count toward the part total
                -- without forming a phantom majority group
                (8000002, 8, 9, 1, 100.0, 50.00, 0.0, 0.0,
                 'N', 'O', TIMESTAMP '1996-06-01 00:00:00'),
                (8000002, 8, 0, 2, 3.0, 20.00, 0.0, 0.0,
                 'N', 'O', TIMESTAMP '1996-06-02 00:00:00'),
                (8000002, 8, NULL, 3, 2.0, 10.00, 0.0, 0.0,
                 'N', 'O', TIMESTAMP '1996-06-03 00:00:00'),
                -- r13: KNIFE-EDGE average — a 2-row ('Z','Z') group with
                -- discounts summing to 3 fixed units: 3/2/10^4 = 0.00015,
                -- whose nearest double's SHORTEST repr is the midpoint.
                -- Spark round() said 0.0002, DuckDB 0.0001 — the q1
                -- avg_disc hash split until both sides moved to exact-
                -- rational rounding (round_ratio_exact)
                (8000003, 1, 1, 1, 1.0, 10.00, 0.0001, 0.0,
                 'Z', 'Z', TIMESTAMP '1996-07-01 00:00:00'),
                (8000003, 1, 1, 2, 1.0, 10.00, 0.0002, 0.0,
                 'Z', 'Z', TIMESTAMP '1996-07-02 00:00:00')
            ) t(l_orderkey, l_partkey, l_suppkey, l_linenumber,
                l_quantity, l_extendedprice, l_discount, l_tax,
                l_returnflag, l_linestatus, l_shipdate)
    """,
    "customer": """
                (9000001::BIGINT, NULL, NULL::INT, NULL::DOUBLE, NULL),
                (9000002, 'name#with (meta) [chars] $x', 3, -12.34,
                 'BUILDING'),
                -- r12: RICH customers with NO orders — q_anti_scalar_sub
                -- (Q22 shape) returned 0 rows at every oracle scale, so
                -- its threshold math and anti-join were vacuously
                -- checked; one with a NULL nationkey exercises the
                -- NULL-group-key aggregate too
                (9000003, 'rich orderless', 3, 99999.99, 'MACHINERY'),
                (9000004, 'rich orderless null nation', NULL, 88888.88,
                 'AUTOMOBILE'),
                -- r13: combining-mark segment (M + U+0301) — DuckDB's
                -- reverse() is grapheme-cluster-aware while Spark's
                -- reverses code points; q_string_fns seg_rev diverged on
                -- exactly this row until the oracle pinned codepoint
                -- semantics via a ''-split + list_reverse. c_name stays
                -- ASCII: length()/substr() are grapheme-vs-codepoint
                -- split across engines too, and q_string_fns exposes
                -- those on c_name only.
                (9000005, 'combining mark segment', 3, 1.00,
                 'SEGM' || chr(769) || 'ENT')
            ) t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
    """,
    "supplier": """
                (9000001::BIGINT, NULL, NULL::INT, NULL::DOUBLE),
                (9000002, 'negative balance supp', 3, -999.99)
            ) t(s_suppkey, s_name, s_nationkey, s_acctbal)
    """,
    "part": """
                (9000001::BIGINT, NULL, NULL, NULL, NULL::INT,
                 NULL::DOUBLE),
                (9000002, 'meta.part (x) | $end', 'Brand#55', 'TYPE x',
                 -3, 0.0),
                -- r12: Java-vs-RE2 regex seams in the fuzzy-dedup block
                -- key — a vertical tab (Java \\s includes it, RE2 \\S
                -- matches it) and a trailing newline (Java $ matches
                -- before it, RE2 $ does not; both engines now use an
                -- explicit class + \\z). Names are 1 edit apart so a
                -- block-key divergence surfaces as a pair diff.
                (9000003, 'meta.part (y) |' || chr(11) || '$end',
                 'Brand#55', 'TYPE x', -3, 0.0),
                (9000004, 'meta.part (x) | $end' || chr(10),
                 'Brand#55', 'TYPE x', -3, 0.0)
            ) t(p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)
    """,
    "nation": """
                (91::INT, NULL, NULL::INT)
            ) t(n_nationkey, n_name, n_regionkey)
    """,
    "region": """
                (9::INT, NULL)
            ) t(r_regionkey, r_name)
    """,
}

# oracled queries excluded from the dirty sweep, each with its reason;
# everything else in the registry runs
DIRTY_EXCLUDED = {}


def _dirty_names():
    from weightlifting_wod_etl_spark import queries_registry as reg

    return sorted(n for n in reg.ORACLES if n not in DIRTY_EXCLUDED)


@pytest.fixture(scope="module")
def dirty_dir(tmp_path_factory):
    import duckdb

    from weightlifting_wod_etl_spark.io import TABLES, table_path

    d = tmp_path_factory.mktemp("dirty_sf")
    con = duckdb.connect()
    for name in TABLES:
        dirty = _DIRTY_ROWS.get(name)
        extra = (
            f"UNION ALL SELECT * FROM (VALUES {dirty}" if dirty else ""
        )
        con.execute(
            f"""
            COPY (
                SELECT * FROM read_parquet('{table_path(SF_SMOKE, name)}')
                {extra}
            ) TO '{table_path(str(d), name)}' (FORMAT PARQUET)
            """
        )
    con.close()
    return str(d)


@pytest.fixture(scope="module")
def dirty_duck(dirty_dir):
    import duckdb

    from weightlifting_wod_etl_spark.io import TABLES, table_path

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS"
            f" SELECT * FROM read_parquet('{table_path(dirty_dir, name)}')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", _dirty_names())
def test_query_matches_oracle_on_dirty_data(
    spark, dirty_duck, dirty_dir, name
):
    from weightlifting_wod_etl_spark import queries_registry as reg

    spark_pdf = reg.QUERIES[name](spark, dirty_dir).toPandas()
    duck_pdf = dirty_duck.execute(reg.ORACLES[name]).fetchdf()
    assert_frames_match(spark_pdf, duck_pdf, f"{name}[dirty]")


# ---------------------------------------------------------------------------
# NaN-measure seam (r13). A NaN `value` cannot live in _DIRTY_ROWS: the
# engine's documented finite-measures contract (functions/money.py) maps
# non-finite to NULL on the Spark side while every money oracle's
# round(x*100)::BIGINT raises — injecting one would crash dozens of
# oracles by design. The two sketch band-check queries, however, CLAIM
# NaN-robustness (they filter isnan both sides), so they get a targeted
# parity probe on an events table where NaN sits inside real groups.


@pytest.fixture(scope="module")
def nan_events_dir(tmp_path_factory):
    import duckdb

    from weightlifting_wod_etl_spark.io import table_path

    d = tmp_path_factory.mktemp("nan_sf")
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
            SELECT * FROM read_parquet('{table_path(SF_SMOKE, "events")}')
            UNION ALL SELECT * FROM (VALUES
                -- NaN inside a REAL event_type partition (clean types
                -- exist at every sf), plus a 2-real + 6-NaN tiny group:
                -- before the r13 fix, q_quantile_bound counted the NaN
                -- rows into __n while percentile_approx dropped them
                -- from the sketch, flipping approx_in_band False on a
                -- correct answer (and the oracle crashed casting NaN)
                (9100001::BIGINT, TIMESTAMP '2024-04-01 10:00:00',
                 3::BIGINT, 'click', 'nan'::DOUBLE, NULL),
                (9100002, TIMESTAMP '2024-04-01 11:00:00',
                 3, 'nan_evt', 10.00, NULL),
                (9100003, TIMESTAMP '2024-04-01 12:00:00',
                 4, 'nan_evt', 20.00, NULL),
                (9100004, TIMESTAMP '2024-04-01 13:00:00',
                 5, 'nan_evt', 'nan'::DOUBLE, NULL),
                (9100005, TIMESTAMP '2024-04-01 14:00:00',
                 6, 'nan_evt', 'nan'::DOUBLE, NULL),
                (9100006, TIMESTAMP '2024-04-01 15:00:00',
                 7, 'nan_evt', 'nan'::DOUBLE, NULL),
                (9100007, TIMESTAMP '2024-04-01 16:00:00',
                 8, 'nan_evt', 'nan'::DOUBLE, NULL),
                (9100008, TIMESTAMP '2024-04-01 17:00:00',
                 9, 'nan_evt', 'nan'::DOUBLE, NULL),
                (9100009, TIMESTAMP '2024-04-01 18:00:00',
                 10, 'nan_evt', 'nan'::DOUBLE, NULL)
            ) t(event_id, ts, user_id, event_type, value, props)
        ) TO '{table_path(str(d), "events")}' (FORMAT PARQUET)
        """
    )
    con.close()
    return str(d)


@pytest.mark.parametrize("name", ["q_quantile_bound", "q_tdigest_quantile"])
def test_sketch_band_checks_survive_nan_measures(spark, nan_events_dir, name):
    import duckdb

    from weightlifting_wod_etl_spark import queries_registry as reg
    from weightlifting_wod_etl_spark.io import table_path

    spark_pdf = reg.QUERIES[name](spark, nan_events_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{table_path(nan_events_dir, 'events')}')"
    )
    duck_pdf = con.execute(reg.ORACLES[name]).fetchdf()
    con.close()
    assert_frames_match(spark_pdf, duck_pdf, f"{name}[nan]")
    # the band booleans must hold — a correct sketch on the 2 real values
    # of the 8-row nan_evt group was judged out-of-band before the fix
    band_cols = [c for c in spark_pdf.columns if c.endswith("_in_band")]
    for c in band_cols:
        assert spark_pdf[c].all(), f"{name}: {c} flipped False under NaN"


# ---------------------------------------------------------------------------
# Decimal-fallback quality tier (r16, VERDICT r15 #3). quality_score tiers
# its exact-rational rounding per row: L·T < (2^63−1)/10^7 takes the pure-
# long i64 path, larger documents fall back to the let-bound decimal form
# (round_ratio_exact_posden). Every document at every test sf — and every
# plausible dirty row — is orders of magnitude below the bound, so the
# decimal tier had only unit-test evidence, never end-to-end Spark-vs-
# DuckDB parity. This class injects a 2.1 MB document engineered to
# (a) cross the tier bound: L = 2.1e6 chars × T = 7e5 tokens → L·T =
#     1.47e12 ≥ 922 337 203 685, and
# (b) land the composite on an EXACT ROUNDING TIE: with 699 882 'xq'
#     tokens + 117 stopword 'a' tokens + one 'ww…w.' tail token (exactly
#     one punct char), the score rational is 7002.5/10^4 — pmod(t, d) ==
#     d − pmod(t, d) exactly — so both engines must decide away-from-zero
#     on the exact rational → 0.7003. Construction solved from
#     30000·B·L − 30000·T = M·L·T with M = 5 odd (B = 117 ≡ 47 mod 70).
# The doc lives in its own fixture, NOT in _DIRTY_ROWS: 700k tokens
# through every shingle/passage pipeline measured ~3 min PER text query
# (q_ngram_jaccard alone: 174 s), and only the two quality consumers
# can ever reach the decimal tier.

_DECIMAL_TIER_DOC = (
    "(9000015, repeat('xq ', 699882) || repeat('a ', 117)"
    " || repeat('w', 119) || '.', 'en', 'dirty', 2100000)"
)


@pytest.fixture(scope="module")
def decimal_tier_dir(tmp_path_factory):
    import duckdb

    from weightlifting_wod_etl_spark.io import table_path

    d = tmp_path_factory.mktemp("decimal_tier_sf")
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
            SELECT * FROM read_parquet('{table_path(SF_SMOKE, "documents")}')
            UNION ALL SELECT * FROM (VALUES {_DECIMAL_TIER_DOC}
            ) t(doc_id, text, lang, source, n_chars)
        ) TO '{table_path(str(d), "documents")}' (FORMAT PARQUET)
        """
    )
    con.close()
    return str(d)


@pytest.mark.parametrize("name", ["q_quality_score", "q_curation_pipeline"])
def test_quality_decimal_tier_matches_oracle(spark, decimal_tier_dir, name):
    import duckdb

    from weightlifting_wod_etl_spark import queries_registry as reg
    from weightlifting_wod_etl_spark.io import table_path

    spark_pdf = reg.QUERIES[name](spark, decimal_tier_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{table_path(decimal_tier_dir, 'documents')}')"
    )
    duck_pdf = con.execute(reg.ORACLES[name]).fetchdf()
    con.close()
    assert_frames_match(spark_pdf, duck_pdf, f"{name}[decimal-tier]")
    if name == "q_quality_score":
        # the engineered doc must actually land on the tie value — a
        # refactor that shrinks the doc back into the i64 tier (or breaks
        # the token mix) would silently drain this test's evidence
        got = spark_pdf.loc[spark_pdf["doc_id"] == 9000015, "quality"]
        assert list(got) == [0.7003], list(got)


# ---------------------------------------------------------------------------
# Non-BMP seam. q_trigram_entropy mints grams by indexing the text's
# split(text, '') character array; that array must hold whole code points
# — a supplementary-plane character is ONE element, never two UTF-16
# surrogate halves — or the grams (and entropy) diverge from the oracle's
# code-point grams. Documents of emoji, math-alphanumeric and CJK
# Extension B characters, mixed with BMP text, and repeated so runs of
# equal grams fold.

_NON_BMP_DOCS = """
    (9400001, 'a😀b😀c😀a😀b😀c😀', 'en', 'dirty', 12),
    (9400002, '😀😀😀😀😀', 'en', 'dirty', 5),
    (9400003, 'x𝔘y𝔘x𝔘y — 𠜎𠜱𠝹𠱓𠜎𠜱', 'en', 'dirty', 16),
    (9400004, 'ab😀', 'en', 'dirty', 3)
"""


@pytest.fixture(scope="module")
def non_bmp_dir(tmp_path_factory):
    import duckdb

    from weightlifting_wod_etl_spark.io import table_path

    d = tmp_path_factory.mktemp("non_bmp_sf")
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
            SELECT * FROM read_parquet('{table_path(SF_SMOKE, "documents")}')
            UNION ALL SELECT * FROM (VALUES {_NON_BMP_DOCS}
            ) t(doc_id, text, lang, source, n_chars)
        ) TO '{table_path(str(d), "documents")}' (FORMAT PARQUET)
        """
    )
    con.close()
    return str(d)


def test_trigram_entropy_non_bmp_matches_oracle(spark, non_bmp_dir):
    import duckdb

    from weightlifting_wod_etl_spark import queries_registry as reg
    from weightlifting_wod_etl_spark.io import table_path

    name = "q_trigram_entropy"
    spark_pdf = reg.QUERIES[name](spark, non_bmp_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{table_path(non_bmp_dir, 'documents')}')"
    )
    duck_pdf = con.execute(reg.ORACLES[name]).fetchdf()
    con.close()
    assert_frames_match(spark_pdf, duck_pdf, f"{name}[non-bmp]")
    got = spark_pdf.set_index("doc_id")
    # code points, not UTF-16 units: 5 emoji are 3 grams of one kind
    assert got.loc[9400002, "n_grams"] == 3
    assert got.loc[9400002, "entropy"] == 0.0
    assert got.loc[9400004, "n_grams"] == 1


# The oracle above mints grams by cutting each text into 3-character
# chunks from offsets 1, 2 and 3 (linear in document length). The plain
# definition — one substr per start position, O(n^2) per document — is
# kept here as the reference for that rewrite; the smoke and non-BMP
# documents are short enough for it.
_PER_START_TRIGRAM_ORACLE = """
    WITH d AS (
        SELECT doc_id, text, row_number() OVER () AS rid
        FROM documents WHERE doc_id IS NOT NULL
    ), g AS (
        SELECT rid, doc_id, text,
               unnest(range(1, greatest(length(text) - 1, 1))) AS i
        FROM d
    ), cnt AS (
        SELECT rid, doc_id, substr(text, i, 3) AS gram, count(*)::BIGINT AS c
        FROM g GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           sum(c)::BIGINT AS n_grams,
           round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
    FROM cnt GROUP BY rid, doc_id
"""


def test_trigram_entropy_oracle_matches_per_start_substr(non_bmp_dir):
    import duckdb

    from weightlifting_wod_etl_spark import queries_registry as reg
    from weightlifting_wod_etl_spark.io import table_path

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{table_path(non_bmp_dir, 'documents')}')"
    )
    chunked = sorted(con.execute(reg.ORACLES["q_trigram_entropy"]).fetchall())
    per_start = sorted(con.execute(_PER_START_TRIGRAM_ORACLE).fetchall())
    con.close()
    assert len(per_start) > 4  # the smoke documents plus the non-BMP ones
    assert chunked == per_start
