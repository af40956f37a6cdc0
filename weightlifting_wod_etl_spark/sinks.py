"""Sinks with the reference's delivery guarantees (OP2, OP3, OP17, OP18).

Reference behaviors mapped:
  - raw/weekly S3 JSON objects with existence-check idempotency
    (``handler.py:119-163,193-242``) → path-partitioned JSONL + a sha256
    key ledger consulted via LEFT ANTI JOIN before writing;
  - DynamoDB putItem keyed (date, session) (state machine :67-102) →
    last-writer-wins parquet upsert via row_number over a total order;
  - fail-open policy (§2.3-7): ledger read errors must not block writes —
    an unreadable ledger counts as empty.

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
from pyspark.sql.types import StringType

from .operators.dedup import exact_dedup


def _ledger_keys(spark: SparkSession, ledger_path: str) -> DataFrame | None:
    """The ledger's keys — read ONCE per batch — or ``None`` when there is
    no ledger yet or it cannot be read (fail-open: reference §2.3-7, an
    infra failure must not block the write). A readable ledger whose keys
    are not strings raises before anything is written: appending string
    keys into it would leave a mixed-schema ledger that no later run can
    read."""
    if not os.path.exists(ledger_path):
        return None
    try:
        keys = spark.read.parquet(ledger_path).select("idem_key")
    except Exception:
        return None  # reference: infra failure ⇒ proceed with the write
    ltype = keys.schema["idem_key"].dataType
    if not isinstance(ltype, StringType):
        raise ValueError(
            f"write_jsonl_idempotent: ledger {ledger_path} holds "
            f"{ltype.simpleString()} keys; only string (sha256 hex) "
            "ledgers are supported"
        )
    return keys


def write_jsonl_idempotent(df: DataFrame, path: str, ledger_path: str) -> int:
    """Write rows whose ``idem_key`` is not yet in the ledger; record the
    written keys. Returns the number of rows written.

    Exactly-once-ish across reruns: replays anti-join to zero rows,
    mirroring the reference's sha256 ledger check
    (services/idempotency_service.py:42-73). Keys are strings (cast on
    the way in), the ledger is a keys-only parquet dir of strings.

    (a) duplicate keys WITHIN one batch collapse to one deterministic
    winner before the ledger check — the reference's per-record
    check-then-write admits a key once per RUN, not once per occurrence;
    (b) a NULL key (unidentifiable content) falls back to the sha256 of
    the row's canonical JSON payload — the same never-NULL contract the
    reference ledger keys on — so distinct payloads each write once and
    content-identical replays still suppress (treating all NULLs as one
    key silently dropped distinct payloads: data loss, not idempotency);
    (c) no forced broadcast hint: the keys-only ledger grows without
    bound across runs, and AQE must stay free to pick a shuffled join once
    it outgrows the driver (operators/dedup.anti_join_ledger's documented
    rationale).
    """
    from .operators.dedup import orderable_order_cols

    ledger = _ledger_keys(df.sparkSession, ledger_path)
    # canonical payload JSON: struct field order is the fixed column
    # order, so the content key is deterministic per content
    payload = F.to_json(F.struct(*[c for c in df.columns if c != "idem_key"]))
    df = df.withColumn(
        "idem_key",
        F.coalesce(F.col("idem_key").cast("string"), F.sha2(payload, 256)),
    )
    # shared orderable tiebreaks (r12): a MapType payload column in the
    # bare per-column ORDER BY rejected the whole plan (the cdc_apply /
    # dedup_stream defect class — one definition in operators/dedup.py)
    others = orderable_order_cols(df, {"idem_key"})
    df = exact_dedup(df, key_cols=["idem_key"], order_cols=others or [F.lit(1)])
    # keys are never NULL here (the content key fills them), so a plain
    # equi anti-join is exact
    fresh = df if ledger is None else df.join(ledger, "idem_key", "left_anti")
    # localCheckpoint, not cache(): three actions (count, JSON write,
    # ledger write) must see ONE snapshot. A cache() partition evicted
    # under memory pressure recomputes — with a non-deterministic df the
    # ledger could record a key whose row never reached the JSON output,
    # suppressing that record on every future rerun.
    fresh = fresh.localCheckpoint(eager=False)
    n = fresh.count()
    if n:
        fresh.drop("idem_key").write.mode("append").json(path)
        fresh.select("idem_key").write.mode("append").parquet(ledger_path)
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
