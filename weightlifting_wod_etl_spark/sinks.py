"""Sinks with the reference's delivery guarantees (OP2, OP3, OP17, OP18).

Reference behaviors mapped:
  - raw/weekly S3 JSON objects with existence-check idempotency
    (``handler.py:119-163,193-242``) → path-partitioned JSONL + a sha256
    key ledger consulted via LEFT ANTI JOIN before writing;
  - DynamoDB putItem keyed (date, session) (state machine :67-102) →
    last-writer-wins parquet upsert via row_number over a total order;
  - fail-open policy (§2.3-7): ledger read errors must not block writes —
    surfaced here as the ``fail_open`` flag.

Scale notes: the ledger is keys-only (a few bytes per written unit), so the
anti-join broadcasts. The upsert rewrites only the partitions whose keys
appear in the incoming batch when ``partition_by`` is set — at 100 TB you
never rewrite the whole table for a daily increment (dynamic partition
overwrite).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dedup import exact_dedup


def _ledger_keys(spark: SparkSession, ledger_path: str, fail_open: bool) -> DataFrame | None:
    try:
        if not os.path.exists(ledger_path):
            return None
        return spark.read.parquet(ledger_path).select("idem_key")
    except Exception:
        if fail_open:
            return None  # reference: infra failure ⇒ proceed with the write
        raise


def write_jsonl_idempotent(
    df: DataFrame,
    path: str,
    ledger_path: str,
    key_col: str = "idem_key",
    fail_open: bool = True,
) -> int:
    """Write rows whose key is not yet in the ledger; record written keys.

    Returns the number of rows written. Exactly-once-ish across reruns:
    replays anti-join to zero rows, mirroring the reference's sha256 ledger
    check (services/idempotency_service.py:42-73).

    Review r11 hardening: (a) duplicate keys WITHIN one batch collapse to
    one deterministic winner before the ledger check — the reference's
    per-record check-then-write admits a key once per RUN, not once per
    occurrence; (b) a NULL key (unidentifiable content) falls back to a
    CONTENT-HASH key — sha256 (string ledgers) or xxhash64 (integral
    ledgers; the fallback's type always matches the ledger's stored
    type, never corrupting a pre-existing ledger's schema) of the row's
    canonical JSON payload — the
    same never-NULL contract the reference ledger keys on
    (services/idempotency_service.py:42-73). The r11 null-safe-join
    treatment made all NULL-key rows behave as ONE key, which silently
    dropped distinct payloads on the very first write (r11 advice: data
    loss, not idempotency); with the content fallback, distinct payloads
    each write once and content-identical replays still suppress. The
    anti-join stays null-safe as belt-and-braces; (c) no forced
    broadcast hint: the keys-only ledger grows without bound across
    runs, and AQE must stay free to pick a shuffled join once it
    outgrows the driver (operators/dedup.anti_join_ledger's documented
    rationale).
    """
    from .operators.dedup import exact_dedup

    spark = df.sparkSession
    payload = [c for c in df.columns if c != key_col]
    if payload:
        # canonical payload JSON: struct field order is the fixed column
        # order, so the hash is deterministic per content. The fallback
        # key's TYPE must match the ledger's stored type (review r12,
        # reproduced): the first cut cast every key to string, so one run
        # against a pre-existing long-typed ledger appended string files
        # into the long parquet dir and PERMANENTLY wedged the sink
        # (mixed-schema read crash at the anti-join, outside fail_open's
        # guard). The ledger's existing type wins; a fresh ledger takes
        # the key column's own type (string keys stay string).
        from pyspark.sql.types import IntegerType, LongType, StringType

        ltype = df.schema[key_col].dataType
        if os.path.exists(ledger_path):
            try:
                ltype = spark.read.parquet(ledger_path).schema["idem_key"].dataType
            except Exception:
                pass  # unreadable ledger: _ledger_keys applies fail_open below
        if isinstance(ltype, StringType):
            content_key = F.sha2(F.to_json(F.struct(*payload)), 256)
            df = df.withColumn(
                key_col,
                F.coalesce(F.col(key_col).cast("string"), content_key),
            )
        elif isinstance(ltype, (LongType, IntegerType)):
            # integral ledger: xxhash64 of the same canonical JSON — a
            # 64-bit content key that appends type-compatibly (the
            # ANSI-off int cast wraps deterministically — acceptable for
            # a HASH, whose identity is arbitrary anyway). The whole
            # coalesced key is cast to the ledger's stored type (r13
            # advice): coalesce(long key, int hash) otherwise promoted to
            # long and appended wider-typed files into an int ledger —
            # the same mixed-schema wedge the r12 fix closed for strings.
            # A REAL key that overflows the narrower ledger type raises
            # loudly instead of wrapping: a wrapped real key silently
            # changes identity and could collide with another real key.
            real = F.col(key_col)
            if isinstance(ltype, IntegerType) and not isinstance(
                df.schema[key_col].dataType, IntegerType
            ):
                bound = 2**31
                real = F.when(
                    real.isNull() | ((real >= -bound) & (real < bound)),
                    real,
                ).otherwise(
                    F.raise_error(
                        F.lit(
                            "write_jsonl_idempotent: key value exceeds the "
                            "existing ledger's INT key type — migrate the "
                            "ledger to a wider type"
                        )
                    ).cast("long")
                )
            content_key = F.xxhash64(F.to_json(F.struct(*payload)))
            # lossy-cast guard (round-diff review r13): a non-numeric key
            # (string column against an integral ledger) becomes NULL
            # under the ANSI-off cast — every such row would then collapse
            # onto ONE NULL ledger key and dedup to a single survivor
            # (silent data loss). Raise loudly instead, like the overflow
            # guard above.
            real_cast = F.when(
                real.isNotNull() & real.cast(ltype).isNull(),
                F.raise_error(
                    F.lit(
                        "write_jsonl_idempotent: key value does not parse "
                        "as the existing ledger's integral key type"
                    )
                ).cast(ltype),
            ).otherwise(real.cast(ltype))
            df = df.withColumn(
                key_col,
                F.coalesce(real_cast, content_key.cast(ltype)),
            )
        else:
            # no content-hash fallback can be expressed in this key type;
            # fail LOUDLY only if a NULL key actually arrives (raise
            # inside the coalesce) rather than silently dropping payloads
            df = df.withColumn(
                key_col,
                F.coalesce(
                    F.col(key_col),
                    F.raise_error(
                        F.lit(
                            "write_jsonl_idempotent: NULL idempotency key "
                            f"but key type {ltype.simpleString()} supports "
                            "no content-hash fallback — use a string key"
                        )
                    ).cast(ltype),
                ),
            )
    # shared orderable tiebreaks (r12): a MapType payload column in the
    # bare per-column ORDER BY rejected the whole plan (the cdc_apply /
    # dedup_stream defect class — one definition in operators/dedup.py)
    from .operators.dedup import orderable_order_cols

    others = orderable_order_cols(df, {key_col})
    df = exact_dedup(df, key_cols=[key_col], order_cols=others or [F.lit(1)])
    ledger = _ledger_keys(spark, ledger_path, fail_open)
    fresh = df if ledger is None else df.join(
        ledger.withColumnRenamed("idem_key", "__ledger_key"),
        F.col(key_col).eqNullSafe(F.col("__ledger_key")),
        "left_anti",
    )
    # localCheckpoint, not cache(): three actions (count, JSON write,
    # ledger write) must see ONE snapshot. A cache() partition evicted
    # under memory pressure recomputes — with a non-deterministic df the
    # ledger could record a key whose row never reached the JSON output,
    # suppressing that record on every future rerun.
    fresh = fresh.localCheckpoint(eager=False)
    n = fresh.count()
    if n:
        fresh.drop(key_col).write.mode("append").json(path)
        fresh.select(F.col(key_col).alias("idem_key")).write.mode("append").parquet(ledger_path)
    return n


def kv_upsert_parquet(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    order_cols: list[str],
    partition_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
) -> None:
    """Last-writer-wins keyed table: union existing + incoming, keep one row
    per key by a TOTAL order, rewrite. The engine-side equivalent of the
    reference's per-record DynamoDB putItem (OP18) with deterministic
    survivor choice.

    Every write is one ``versioned.commit_version`` (crash safety and
    index upkeep are defined there). With ``partition_by``, the upsert is
    INCREMENTAL: only the partitions whose values appear in the incoming
    batch are read (partition-pruned scan) and rewritten; every untouched
    partition is carried into the new version by hard link
    (metadata-only — no data bytes move). A crash never leaves a
    half-overwritten partition, which the old in-place
    ``partitionOverwriteMode=dynamic`` write could produce.
    A daily increment against a 100 TB table still costs O(increment):
    at deployment scale the links are manifest/CopyObject operations, the
    same shape as a partition-scoped Delta replaceWhere. Keys must not
    move between partitions (partition cols ⊆ key semantics), the same
    contract a Delta/Iceberg MERGE keyed on ``key_cols`` would carry.

    The affected-partition value list is collected to the driver — bounded
    by the increment's distinct partition tuples (e.g. days in the batch),
    never by table or batch row count."""
    from functools import reduce

    from .operators.versioned import commit_version, resolve, table_exists

    spark = df.sparkSession
    data_dir = resolve(path)
    # One snapshot for ALL evaluations of the increment (partition-list
    # collect, emptiness probe, and the write): a source that is
    # non-deterministic under recomputation could otherwise materialize a
    # partition value at write time that the collect didn't see — that
    # partition's existing rows were never unioned in, and the staging
    # subtree (which blocks the carry) would silently replace them.
    df = df.localCheckpoint(eager=False)
    # table_exists, not bare path existence: a failed first write leaves an
    # empty makedirs'd dir whose "read" would wedge every retry
    if partition_by and table_exists(path):
        # a pre-partitioning plain layout (loose root files) can't be
        # carried per-partition — migrate it with one full rewrite below
        loose = any(
            f.endswith(".parquet") and not f.startswith(("_", "."))
            for f in os.listdir(data_dir)
        )
        if not loose:
            parts = df.select(*partition_by).distinct().collect()
            if not parts:
                return  # empty increment: nothing to merge, nothing to rewrite
            # eqNullSafe: a null partition value must still match its existing
            # __HIVE_DEFAULT_PARTITION__ rows, or duplicate keys survive there
            pred = reduce(
                lambda a, b: a | b,
                [
                    reduce(
                        lambda a, b: a & b,
                        [F.col(c).eqNullSafe(F.lit(r[c])) for c in partition_by],
                    )
                    for r in parts
                ],
            )
            existing = spark.read.parquet(data_dir).filter(pred)
            merged = existing.unionByName(df, allowMissingColumns=True)
            winners = exact_dedup(
                merged,
                key_cols=key_cols,
                order_cols=[F.col(c).desc() for c in order_cols],
            )
            commit_version(
                path, winners, base=data_dir, partition_by=partition_by,
                carry="partitions", index_cols=stats_cols,
            )
            return

    # Empty-increment guard for the full-rewrite branches: a first-write
    # empty batch would otherwise create a parquet dir with no data files
    # (unreadable table), and an empty batch over an existing unpartitioned
    # table would pay a pointless full rewrite. The probe evaluates the
    # increment once (limit-1); the partitioned-incremental branch above
    # derives emptiness for free from its collected partition list instead.
    if df.isEmpty():
        return
    existed = table_exists(path)
    if existed:
        existing = spark.read.parquet(data_dir)
        merged = existing.unionByName(df, allowMissingColumns=True)
    else:
        merged = df
    winners = exact_dedup(
        merged, key_cols=key_cols, order_cols=[F.col(c).desc() for c in order_cols]
    )
    # full rewrite (first write, or unpartitioned table) as one new
    # version (operators/versioned.py). At cluster scale this branch is a
    # Delta MERGE INTO keyed on key_cols.
    commit_version(
        path, winners, base=data_dir, partition_by=partition_by,
        index_cols=stats_cols,
    )


def weekly_rollup_path(df: DataFrame, base: str, date_col: str = "date") -> str:
    """Reference weekly path template 'weekly/{start}__{end}--…' built from
    the batch's min/max dates (handler.py:215-229).

    Raises on a batch with no dates (empty, or all-NULL ``date_col``) —
    the template would otherwise silently mint
    'weekly/None__None--records.json' (review r11)."""
    row = df.agg(
        F.min(date_col).alias("lo"), F.max(date_col).alias("hi")
    ).collect()[0]
    if row.lo is None or row.hi is None:
        raise ValueError(
            f"weekly_rollup_path: batch has no non-NULL {date_col!r} values "
            "— skip the write instead of minting a 'None__None' path"
        )
    return os.path.join(base, f"weekly/{row.lo}__{row.hi}--records.json")
