"""Table loaders / writers for the synthetic star schema (TESTDATA.md).

Scale notes (100 TB design): loaders are plain ``spark.read.parquet`` scans —
Catalyst pushes filters and prunes columns into the parquet reader, so every
downstream operator should express selection declaratively rather than
materializing. Writers default to snappy parquet with an explicit
``partitionBy`` so a 1000-executor cluster lays out data for partition
pruning on the hot keys.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# serializes the nanosAsLong set→infer→unset window in load_table
_NANOS_CONF_LOCK = threading.Lock()
_SCRATCH_LOCK = threading.Lock()
_scratch: str | None = None

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def scratch_dir() -> str:
    """This process's scratch directory for query fixtures (scratch
    tables a query builds before it reads them): one
    ``tempfile.mkdtemp(prefix="wod_etl_")``, created on first use and
    removed at interpreter exit. No other process sees it, so fixtures
    under it need no cross-process naming, locking or GC."""
    global _scratch
    with _SCRATCH_LOCK:
        if _scratch is None:
            _scratch = tempfile.mkdtemp(prefix="wod_etl_")
            atexit.register(shutil.rmtree, _scratch, True)
        return _scratch


# achievable_scan_splits is immutable per path for the static testdata;
# the cache saves a footer read per load_table call (keyed on the path,
# so scratch tables rewritten in place must not use it — they don't:
# fan-out is only wired into load_table's star-schema reads).
_SPLITS_CACHE: dict[str, int] = {}


def achievable_scan_splits(path: str) -> int:
    """Upper bound on Spark's parquet scan parallelism for ``path``:
    the total ROW-GROUP count across its files. Split planning can cut a
    file into byte ranges, but each row group is processed whole by the
    split holding its midpoint — a 1-row-group file is one task no
    matter what ``maxPartitionBytes``/``minPartitionNum`` say. Footer
    reads only (KB-scale), cached per path."""
    cached = _SPLITS_CACHE.get(path)
    if cached is not None:
        return cached
    import pyarrow.parquet as pq

    files: list[str] = []
    if os.path.isdir(path):
        for root, _dirs, names in os.walk(path):
            files.extend(
                os.path.join(root, n) for n in names if n.endswith(".parquet")
            )
    else:
        files = [path]
    total = 0
    for f in files:
        try:
            total += pq.ParquetFile(f).metadata.num_row_groups
        except Exception:
            total += 1  # unreadable footer: assume one split, stay safe
    _SPLITS_CACHE[path] = total
    return total


def footer_schema(data_file: str) -> StructType:
    """Spark schema of one parquet data file Spark wrote, read on the
    driver from the Spark row metadata in its footer — no Spark job, where
    ``spark.read.parquet`` runs a schema-inference job on every read. A
    file without that metadata raises ``KeyError``."""
    import pyarrow.parquet as pq

    meta = pq.read_schema(data_file).metadata or {}
    return StructType.fromJson(
        json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"])
    )


def fan_out_unsplittable(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Unsplittable-input guard (optimization guide §2.5: "one huge
    unsplittable file ... repartition immediately after the read").

    The committed testdata ships each table as ONE parquet file with ONE
    row group, so every scan is a single task and a compute-heavy
    map stage (regex chains, shingle/minhash minting, array folds) runs
    single-threaded regardless of core count. When — and only when — the
    input's achievable split count is below the session's parallelism,
    redistribute rows round-robin right after the read so the map stage
    uses the machine. SCALE-ADAPTIVE by construction: real deployments
    have row groups ≫ cores, the guard is false, and no shuffle is ever
    added (verified by tests/test_plan_shapes.py's fan-out gate). The
    target is ``defaultParallelism`` (core count), never a constant.

    Opt-IN per call site: only operators whose scan-stage work dominates
    benefit; a cheap map feeding an immediate aggregation loses more to
    the extra exchange than it gains (measured r18 A/B: q_tpch_q21
    0.45x, q_hll_bound 0.61x with a blanket fan-out — vs q_trigram_entropy
    8x, q_date_extract 4.2x with a targeted one)."""
    target = spark.sparkContext.defaultParallelism
    if achievable_scan_splits(path) >= target:
        return df
    return df.repartition(target)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Scan one table; normalize physical quirks to logical types.

    ``fan_out=True`` applies :func:`fan_out_unsplittable` after the read
    — opt in at call sites whose scan-stage compute dominates (see that
    function's docstring for the measured decision rule).

    The synthetic ``events`` table has shipped ``ts`` under three physical
    encodings across testdata generations: TIMESTAMP(NANOS) (readable only
    as bigint via ``spark.sql.legacy.parquet.nanosAsLong``), tz-naive
    ``timestamp[us]`` (read as TIMESTAMP_NTZ), and tz-aware micros (read as
    TIMESTAMP). All downstream operators assume one logical type, so we
    normalize here — and only here — to session-TZ TIMESTAMP. The session
    TZ is pinned UTC (session.py), so NTZ→TIMESTAMP is a deterministic
    reinterpretation and the ns case truncates with exact integer division
    (``DIV``, not float ``/`` — a double mantissa cannot hold epoch-ns),
    agreeing bit-for-bit with any us-precision engine reading the same file.
    """
    # Scope the legacy-nanos conf to THIS schema inference: leaving it set
    # session-wide made every later parquet read in the session silently
    # return raw epoch-nanos bigints for TIMESTAMP(NANOS) columns. Safe to
    # restore immediately — spark.read.parquet infers the schema eagerly,
    # and later actions execute against the analyzed plan (verified).
    # The set→infer→unset window is serialized under a module lock. The
    # lock protects load_table against ITSELF: concurrent load_table
    # calls otherwise race one thread's unset into another's inference
    # (crash on TIMESTAMP(NANOS)). It does NOT fence parquet reads issued
    # elsewhere during the window — SQLConf is session-shared, so such a
    # read CAN observe nanosAsLong=true. That exposure is benign here by
    # construction: the conf only changes how TIMESTAMP(NANOS) columns
    # are read, the only table with one is ``events``, and every events
    # reader is routed through this function. Code adding another
    # NANOS-bearing table must route its reads through load_table (or a
    # dedicated spark.newSession() clone holding the conf).
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    with _NANOS_CONF_LOCK:
        prior = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "true")
        try:
            df = spark.read.parquet(table_path(sf_dir, name))
        finally:
            if prior is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prior)
    if name == "events":
        from pyspark.sql import functions as F

        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if fan_out:
        df = fan_out_unsplittable(spark, df, table_path(sf_dir, name))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all star-schema tables as DataFrames (lazy scans)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_table(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read an engine-managed table: resolves the versioned-commit pointer
    (operators/versioned.py) when present, else scans ``path`` directly —
    the one entry point that handles both layouts.

    ``version`` time-travels to a retained snapshot (committed versions
    are immutable, so an old version is a consistent as-of view — the same
    contract as Delta's ``versionAsOf``); raises ``FileNotFoundError``
    if that snapshot was GC'd."""
    from .operators.versioned import resolve, version_dir

    d = resolve(path) if version is None else version_dir(path, version)
    return spark.read.parquet(d)


def read_pruned(spark: SparkSession, path: str, col: str, lo, hi) -> DataFrame:
    """Footer-stats pruned scan of ``col BETWEEN lo AND hi`` (closed
    interval): open ONLY the files whose parquet-footer [min, max] for
    ``col`` can intersect the range, then apply the predicate normally.

    Pruning is an access-path optimization, never a substitute for the
    filter — results are identical to a full scan by construction (files
    without statistics are kept, a file's stats are true bounds). This is
    the read-side consumer of operators/skipping.py's index: pair it with
    a clustered layout (operators/zorder.py, compact's ``sort_by``) and a
    selective range query opens a handful of files instead of the table.
    At 100 TB the index itself is what Delta/Iceberg persist in their
    metadata layer — a persisted index (``skipping.save_stats_index``,
    committed atomically with the version dir it describes) is preferred
    when present; otherwise the index is rebuilt from footers (one
    KB-scale footer read per file, no data pages)."""
    from pyspark.sql import functions as F

    from .operators.skipping import (
        file_stats_index,
        list_data_files,
        load_stats_index,
        prune_files,
    )
    from .operators.versioned import resolve

    data_dir = resolve(path)
    index = load_stats_index(data_dir)
    # absent, EMPTY, INCOMPLETE, or built for other columns → live footer
    # scan. Empty matters (all() over [] is vacuously true: a zero-entry
    # index would prune to zero files); incomplete matters the same way —
    # a data file appended outside the commit protocol has no index entry,
    # so it is neither pruned nor kept and its rows would silently vanish
    # from a read that promises results identical to a full scan.
    if (
        not index
        or not all(f"{col}_min" in e for e in index)
        or {e["file"] for e in index} != set(list_data_files(data_dir))
    ):
        index = file_stats_index(data_dir, [col])
    files = prune_files(index, col, lo, hi)
    if not files:  # nothing can match; keep the schema, scan nothing
        return spark.read.parquet(data_dir).where(F.lit(False))
    # basePath restores directory-derived (hive) partition columns when the
    # table is partitioned: a bare leaf-file read would drop them — a
    # different schema than the full scan, and an unresolvable filter when
    # the pruned column IS the partition column
    return (
        spark.read.option("basePath", data_dir)
        .parquet(*files)
        .where((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
    )


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite"
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) on its join keys.

    Bucketing is the at-rest answer to repeated big⋈big joins: both sides
    pre-hash-partitioned into the same number of buckets on the join key
    means the sort-merge join needs NO Exchange at read time — at 100 TB
    that deletes the dominant cost (a full shuffle of the fact table) from
    every downstream run that joins on the bucket key. ``sortBy`` inside
    the bucket additionally lets the join skip the per-task sort.

    Requires ``saveAsTable`` (bucket metadata lives in the catalog, not the
    parquet footer) — tests verify the no-Exchange plan shape.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-Lines sink (the reference's weekly-rollup S3 format).

    Spark's JSON writer is JSONL-native: one object per line, one file per
    partition — reference behavior at ``handler.py:193-242`` (single object)
    generalized to a distributed sink. ``ignoreNullFields=false`` keeps
    explicit ``"key": null`` entries the way ``json.dumps`` does — the
    writer's default silently DROPS null-valued fields, changing the
    object shape per row for any schemaless consumer.
    """
    df.write.mode(mode).option("ignoreNullFields", "false").json(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink with header — interchange format beyond the reference's
    JSON/JSONL (SURVEY §2.2 file-formats row). One file per partition;
    schema travels via ``read_csv``'s explicit-schema contract (CSV has no
    embedded types — never infer at scale, a second full scan)."""
    df.write.mode(mode).option("header", "true").csv(path)


def read_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """CSV scan with an EXPLICIT schema (no inference job)."""
    return spark.read.option("header", "true").schema(schema).csv(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row", mode: str = "overwrite") -> None:
    """XML sink (Spark 4 native) — interchange with the XML feeds the
    reference's WordPress world still speaks (RSS/sitemaps/WXR exports).
    One file per partition, rows under ``row_tag``."""
    df.write.mode(mode).option("rowTag", row_tag).format("xml").save(path)


def read_xml(spark: SparkSession, path: str, schema, row_tag: str = "row") -> DataFrame:
    """XML scan with an EXPLICIT schema — like CSV, inference is a second
    full scan; never at scale."""
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .schema(schema)
        .load(path)
    )
