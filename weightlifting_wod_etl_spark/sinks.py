"""Sinks with the reference's delivery guarantees (OP2, OP3, OP17, OP18).

Reference behaviors mapped:
  - raw/weekly S3 JSON objects with existence-check idempotency
    (``handler.py:119-163,193-242``) → path-partitioned JSONL + a sha256
    key ledger consulted via LEFT ANTI JOIN before writing;
  - DynamoDB putItem keyed (date, session) (state machine :67-102) →
    last-writer-wins parquet upsert via row_number over a total order;
  - fail-open policy (§2.3-7): ledger read errors must not block writes —
    an unreadable ledger counts as empty.

One write path per sink. The JSONL sink is ``dedup.anti_join_ledger``
then ``io.write_jsonl`` (which owns the null-field policy); its row count
is observed on the JSON write, and the ledger is read with its declared
key schema, so neither the count nor the ledger read starts a job.
The upsert has one partition-scoped path: when the table's layout
already equals ``partition_by`` it lists, reads and rewrites only the
partition directories the increment names and carries the rest by hard
link — listing is O(increment), and at 100 TB you never rewrite the whole
table for a daily increment; any other layout is a full rewrite into the
requested one. The table is read by ``io.read_declared``, the read rule
every rewriting writer shares (``merge_into`` and ``compact_parquet``
too): a declared schema, data columns from one footer, partition column
types from the increment (string where it lacks one), never from
directory names, and no schema-inference job.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .io import first_data_file, footer_schema, partition_columns, read_declared, write_jsonl
from .operators.dedup import anti_join_ledger, exact_dedup, orderable_order_cols


def _ledger_keys(spark: SparkSession, ledger_path: str) -> DataFrame | None:
    """The ledger's keys — read ONCE per batch — or ``None`` when there is
    no ledger yet or it cannot be read (fail-open: reference §2.3-7, an
    infra failure must not block the write). A readable ledger whose keys
    are not strings raises before anything is written: appending string
    keys into it would leave a mixed-schema ledger that no later run can
    read. The key type comes from one file's footer, and the scan is
    declared ``idem_key string``, so reading the ledger starts no
    schema-inference job."""
    first = first_data_file(ledger_path)
    if first is None:
        return None
    try:
        ltype = footer_schema(first)["idem_key"].dataType
    except Exception:
        return None  # reference: infra failure ⇒ proceed with the write
    if not isinstance(ltype, StringType):
        raise ValueError(
            f"write_jsonl_idempotent: ledger {ledger_path} holds "
            f"{ltype.simpleString()} keys; only string (sha256 hex) "
            "ledgers are supported"
        )
    return spark.read.schema("idem_key string").parquet(ledger_path)


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
    rationale);
    (d) the rows go out through ``io.write_jsonl``, so a NULL field is an
    explicit ``"key": null`` like every other JSONL write in the engine.
    """
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
    fresh = df if ledger is None else anti_join_ledger(df, ledger)
    # localCheckpoint, not cache(): two actions (JSON write, ledger write)
    # must see ONE snapshot. A cache() partition evicted under memory
    # pressure recomputes — with a non-deterministic df the ledger could
    # record a key whose row never reached the JSON output, suppressing
    # that record on every future rerun. The written-row count is observed
    # on the JSON write itself instead of a separate count() job.
    fresh = fresh.localCheckpoint(eager=False)
    written = Observation()
    write_jsonl(
        fresh.observe(written, F.count(F.lit(1)).alias("n")).drop("idem_key"),
        path, mode="append",
    )
    n = written.get["n"]
    if not n:
        # a write of no rows still commits one zero-byte part file; drop
        # zero-byte parts (they hold no rows) so a replay leaves the
        # output's file list as it was
        for f in os.listdir(path):
            if f.startswith("part-") and os.path.getsize(os.path.join(path, f)) == 0:
                os.remove(os.path.join(path, f))
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(path, f".{f}.crc"))
        return 0
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
    per key, commit. The engine-side equivalent of the reference's
    per-record DynamoDB putItem (OP18) with deterministic survivor choice:
    rows rank by ``order_cols`` descending, then by every other non-key
    column descending (``dedup.orderable_order_cols``), so the order is
    total and the survivor never depends on input partitioning.

    One path, one ``versioned.commit_version`` (crash safety and index
    upkeep are defined there). The increment's distinct ``partition_by``
    tuples are collected first, as the string forms Spark's partitioned
    writer names its directories from — zero-column rows for a flat
    table, none at all for an empty increment, which then writes nothing.
    When the table's on-disk partition columns equal ``partition_by``,
    only the partition directories those tuples name (Spark's own
    ``ExternalCatalogUtils.getPartitionPathString``: NULL and path
    escaping included) and that exist on disk are listed and read, and
    rewritten; every untouched partition is carried into the new version
    by hard link (metadata-only — no data bytes move). Listing and reading
    therefore cost O(increment), never O(table): a daily increment against
    a 100 TB table has the same shape as a partition-scoped Delta
    replaceWhere. For a flat table the one directory is the table. Any
    other existing layout (flat → partitioned, partitioned → flat, or
    different partition columns) is read whole and rewritten into the
    requested layout. Keys must not move between partitions (partition
    cols ⊆ key semantics), the same contract a Delta/Iceberg MERGE keyed
    on ``key_cols`` would carry.

    The table is read by ``io.read_declared``: data columns from one
    file's footer, partition columns typed as in the increment (string
    for one the increment lacks). Nothing is inferred from directory
    names, so a string partition value like ``"007"`` stays ``"007"``
    (inference would read it as int 7, and the rewrite would mint ``p=7``
    beside ``p=007``, leaving duplicate keys), and the read starts no
    listing or schema-inference job.

    The tuple list is collected to the driver — bounded by the
    increment's distinct partition tuples (e.g. days in the batch), never
    by table or batch row count."""
    from .operators.versioned import commit_version, resolve, table_exists

    spark = df.sparkSession
    part_cols = partition_by or []
    data_dir = resolve(path)
    # One snapshot for BOTH evaluations of the increment (tuple collect and
    # the write): a source that is non-deterministic under recomputation
    # could otherwise materialize a partition value at write time that the
    # collect didn't see — that partition's existing rows were never
    # unioned in, and the staging subtree (which blocks the carry) would
    # silently replace them.
    df = df.localCheckpoint(eager=False)
    parts = df.select(*[F.col(c).cast("string") for c in part_cols]).distinct().collect()
    if not parts:
        return  # empty increment: nothing to merge, nothing to rewrite
    merged, in_place = df, False
    # table_exists, not bare path existence: a failed first write leaves an
    # empty makedirs'd dir whose "read" would wedge every retry
    if table_exists(path):
        in_place = partition_columns(data_dir) == part_cols
        dirs = [data_dir]
        if in_place:
            catalog_utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            dirs = [
                os.path.join(data_dir, *[
                    catalog_utils.getPartitionPathString(c, v) for c, v in zip(part_cols, r)
                ])
                for r in parts
            ]
        dirs = [d for d in dirs if os.path.isdir(d)]
        if dirs:
            merged = read_declared(spark, data_dir, dirs, like=df).unionByName(
                df, allowMissingColumns=True
            )
    order = [F.col(c).desc() for c in order_cols] + orderable_order_cols(
        merged, set(key_cols) | set(order_cols), ascending=False
    )
    commit_version(
        path, exact_dedup(merged, key_cols=key_cols, order_cols=order),
        base=data_dir, partition_by=partition_by,
        carry="partitions" if in_place else None, index_cols=stats_cols,
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
