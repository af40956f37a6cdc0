"""Table loaders / writers for the synthetic star schema (TESTDATA.md).

Table layout is decided here and only here: which files under a table
dir are data (:func:`data_files`, the one walk), its partition columns,
and how a writer that rewrites a table reads it (:func:`read_declared`).

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
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructType

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

    total = 0
    for f in data_files(path) if os.path.isdir(path) else [path]:
        try:
            total += pq.ParquetFile(f).metadata.num_row_groups
        except Exception:
            total += 1  # unreadable footer: assume one split, stay safe
    _SPLITS_CACHE[path] = total
    return total


def data_files(path: str) -> Iterator[str]:
    """The one walk over a table directory: the parquet files Spark's own
    listing would read under ``path``, in sorted walk order. ``_``/``.``-
    prefixed FILES AND DIRECTORIES are skipped at every level.

    Pruning directories matters for soundness, not just tidiness: a
    versioned table root (operators/versioned.py) legally contains
    ``_v*/`` snapshot dirs — including a possibly-orphaned staging dir
    from a crash before the pointer flip — and a walk that only filtered
    file basenames would count, index or carry UNCOMMITTED rows. Lazy, so
    a caller that needs only the first file lists only its path there."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield os.path.join(root, f)


def list_data_files(path: str) -> list[str]:
    """Every data file under ``path`` (:func:`data_files`)."""
    return list(data_files(path))


def first_data_file(path: str) -> str | None:
    """The first data file under ``path`` (:func:`data_files`), or None."""
    return next(data_files(path), None)


def dir_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) of the data files under ``path``."""
    files = list_data_files(path)
    return len(files), sum(os.path.getsize(f) for f in files)


def partition_columns(data_dir: str) -> list[str]:
    """Hive partition column names of ``data_dir`` in directory order, []
    for a flat layout — read from the first data file's relative path, so
    a rewrite can keep the layout instead of flattening it."""
    f = first_data_file(data_dir)
    if f is None:
        return []
    rel = os.path.relpath(os.path.dirname(f), data_dir)
    return [seg.split("=", 1)[0] for seg in rel.split(os.sep) if "=" in seg]


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


def read_declared(
    spark: SparkSession, data_dir: str, paths: list[str], like: DataFrame | None = None
) -> DataFrame:
    """Read ``paths`` (partition dirs or data files of the committed table
    dir ``data_dir``) for a rewrite, with a declared schema and
    ``basePath`` (without it a leaf read would bring every
    directory-derived partition column back NULL). The schema: data columns from one file's footer (:func:`footer_schema`),
    partition columns typed as in ``like`` (the incoming frame) when it
    has them, else string. This is the one read rule of every writer that
    rewrites a table (``sinks.kv_upsert_parquet``, ``merge.merge_into``,
    ``compact.compact_parquet``). Nothing is inferred from directory
    names, so a string partition value like ``"007"`` stays ``"007"``
    (inference reads it as int 7, and the rewrite would mint ``p=7``
    beside ``p=007``), and the read starts no schema-inference job.

    A file without Spark's row metadata (one pyarrow wrote into a plain
    table dir) has its own schema inferred instead: one job, paid until
    the first commit rewrites the table in Spark's own files."""
    first = first_data_file(data_dir)
    try:
        schema = footer_schema(first)
    except KeyError:
        schema = spark.read.parquet(first).schema
    for c in partition_columns(data_dir):
        has = like is not None and c in like.columns
        schema.add(c, like.schema[c].dataType if has else StringType())
    return spark.read.schema(schema).option("basePath", data_dir).parquet(*paths)


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
    committed atomically with the version dir it describes) is used when
    ``skipping.usable_index`` accepts it; otherwise the index is rebuilt
    from footers (one KB-scale footer read per file, no data pages)."""
    from pyspark.sql import functions as F

    from .operators.skipping import file_stats_index, prune_files, usable_index
    from .operators.versioned import resolve

    data_dir = resolve(path)
    index = usable_index(data_dir, col) or file_stats_index(data_dir, [col])
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
