"""MERGE INTO for parquet tables — Delta/Iceberg merge semantics on top
of the manifest-pointer commit protocol (operators/versioned.py).

One form, the CDC upsert with op-aware deletes:

    MERGE INTO target USING source ON <keys>
    WHEN MATCHED AND <key in deletes> THEN DELETE
    WHEN MATCHED THEN UPDATE
    WHEN NOT MATCHED THEN INSERT

so the new table is ``target LEFT ANTI JOIN (source keys ∪ delete keys)
UNION source``.
``delete_keys`` is the deletes-only case — the right-to-be-forgotten path
a training-data pipeline must run at 100 TB (delete every document of a
revoked source without rewriting unrelated data... which parquet cannot
do below file granularity: here the rewrite is table-scoped and commits
atomically; the deployment form is Delta ``MERGE``/``DELETE`` where only
files containing matches rewrite, with the same join plan underneath).
``sinks.kv_upsert_parquet`` is the sibling keyed writer with a version
column choosing the survivor.

Plan shape: ONE left-anti join of target against the batch keys — the
batch is typically small (a day's increment, a deletion list) so Catalyst
broadcasts it; the target side streams through without a shuffle in that
case. The new version dir is written while the live one stays readable;
``versioned.commit_version`` publishes it.

FILE-TARGETED REWRITE: when the table carries a persisted footer-stats
index (operators/skipping.py) covering the first merge key, only files
whose [min, max] key interval can contain a batch key are read and
rewritten; every other file is carried into the new version by hard link
(metadata-only), and the index is refreshed incrementally — carried files
keep their entries, only the rewritten files pay a footer read. This is
the file-pruned MERGE shape Delta/Iceberg run at 100 TB: an upsert
touching one day of a date-clustered table rewrites ~one file, not the
table. Soundness does not depend on the layout — a file the index cannot
rule out is rewritten — but a clustered layout (operators/zorder.py /
compact with sort_by) is what makes the candidate set small.

The target — the whole table or just the candidate files — is read by
``io.read_declared``, the read rule every rewriting writer shares: a
declared schema, data columns from one footer, partition columns typed
as in ``source`` (string where the source lacks one), no
schema-inference job. A string partition value like ``"007"`` is
rewritten into ``p=007``, never into a new ``p=7`` beside it.

Bookkeeping is ONE Spark job: the per-key source/delete/target counts
that feed the duplicate-key guard and the matched/inserted/deleted
counts come from a single keyed aggregation — not one action per
statistic (4 jobs before; measured directly in cdc_apply's per-batch
latency).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import list_data_files, partition_columns, read_declared
from .skipping import index_cols, load_stats_index, usable_index
from .versioned import commit_version, resolve, table_exists


def keys_not_null(on: list[str]) -> Column:
    """True iff every key column is non-NULL: the only keys the
    null-unsafe key joins can match."""
    return reduce(operator.and_, (F.col(k).isNotNull() for k in on))


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    on: list[str],
    deletes: DataFrame | None = None,
) -> dict:
    """Upsert ``source`` into the parquet table at ``target_path`` and
    remove every target row whose key is in ``deletes``, in ONE commit.

    A matched target row is replaced by its source row; an unmatched
    source row is inserted. Keys must be unique across ``source`` AND
    ``deletes`` together (enforced — ambiguous merges are rejected, the
    same error Delta raises for multi-match sources; a key both deleted
    and upserted is the same ambiguity). That disjointness is why the
    single commit equals the sequential delete-then-upsert form: final =
    target ∖ (all batch keys) ∪ source either way (pinned in
    tests/test_merge.py). Key joins are null-unsafe: a NULL-key source
    row matches nothing and is inserted, a NULL delete key removes
    nothing. Target-side key uniqueness is NOT enforced: this is a
    KEYED-table merge, so an update of a key the target holds N times
    collapses those N rows to the one source row — LWW semantics, the
    contract kv_upsert/cdc_apply carry (Delta's row-wise MERGE UPDATE
    would keep all N). The collapse is reported, never silent: see
    ``dup_target_rows_collapsed``.

    Returns counts: ``{"matched", "inserted", "deleted",
    "dup_target_rows_collapsed", "files_rewritten", "files_carried"}``.
    A merge with no source rows and no delete keys commits nothing.
    """
    data_dir = resolve(target_path)
    # Committed data, not bare directory existence: a failed first commit
    # leaves an empty makedirs'd path whose "read" would wedge every retry.
    exists = table_exists(target_path)

    # Checkpoint BEFORE the prune collect: _prune_rewrite_set and the
    # write must consume the SAME source snapshot. A source that is
    # non-deterministic under recomputation (sampled, rand-salted) could
    # otherwise produce a key at write time that the prune didn't see —
    # whose file was carried — silently duplicating or losing that row.
    source = source.localCheckpoint(eager=False)
    # every key this merge can touch: drives target-row removal, the
    # bookkeeping aggregation, and file pruning (a file holding ONLY a
    # delete key must still be rewritten)
    all_keys = source.select(*on)
    if deletes is not None:
        deletes = deletes.select(*on).localCheckpoint(eager=False)
        all_keys = all_keys.unionByName(deletes)

    # File-targeted path: with a persisted stats index covering the first
    # merge key, read/rewrite only the files whose key interval can hold a
    # batch key; carry the rest by reference. Requires source schema ⊆
    # target schema (else carried and rewritten files would disagree).
    carried_files: list[str] = []
    n_candidates = 0
    pkeys: list[str] = []
    if exists:
        pkeys = partition_columns(data_dir)
        full = read_declared(spark, data_dir, [data_dir], like=source)
        carried_files, candidates = _prune_rewrite_set(
            spark, data_dir, source, all_keys, on, set(full.columns)
        )
        n_candidates = len(candidates)
        if carried_files and candidates:
            target = read_declared(spark, data_dir, candidates, like=source)
        elif carried_files and not candidates:
            target = full.limit(0)  # no file can match: pure insert
        else:
            target = full
    else:
        target = source.limit(0)

    # ONE bookkeeping job AND one exchange: source keys (_side 1), delete
    # keys (_side 2) and target keys (_side 0) ride a single union, so the
    # per-key counts behind the dup guard and every returned count come
    # from ONE hash aggregation (a groupBy per side plus a join would
    # shuffle the same keys twice). The dup guard covers duplicates
    # WITHIN and ACROSS source and deletes.
    # groupBy puts NULL source and target keys in one group, but the key
    # joins are null-unsafe, so such a group's target count is 0 and it
    # is kept out of the guard: NULL-key rows match nothing.
    side = F.col("_side")
    tagged = source.select(*on).withColumn("_side", F.lit(1))
    if deletes is not None:
        tagged = tagged.unionByName(deletes.withColumn("_side", F.lit(2)))
    both_sides = tagged.unionByName(target.select(*on).withColumn("_side", F.lit(0)))
    key_stats = both_sides.groupBy(*on).agg(
        F.count_if(side == 1).alias("_scnt"),
        F.count_if(side == 2).alias("_dcnt"),
        F.when(keys_not_null(on), F.count_if(side == 0))
        .otherwise(0)
        .alias("_tcnt"),
    )
    scnt, dcnt, tcnt = F.col("_scnt"), F.col("_dcnt"), F.col("_tcnt")
    row = key_stats.agg(
        F.max(F.when(keys_not_null(on), scnt + dcnt)).alias("max_dup"),
        F.sum(scnt).alias("n_src"),
        F.sum(dcnt).alias("n_del_keys"),
        F.sum(F.when(tcnt > 0, scnt)).alias("n_src_matched"),
        F.sum(F.when(scnt > 0, tcnt)).alias("matched"),
        F.sum(F.when(dcnt > 0, tcnt)).alias("deleted"),
    ).collect()[0]
    n = {k: int(v or 0) for k, v in row.asDict().items()}
    if n["max_dup"] > 1:
        raise ValueError(
            "source has duplicate merge keys — a target row would match "
            "more than one source row (non-deterministic merge)"
        )
    stats = {
        "matched": n["matched"],
        "inserted": n["n_src"] - n["n_src_matched"],
        "deleted": n["deleted"],
        # duplicate-keyed target rows an update collapsed to one survivor
        # (keyed-table LWW semantics — see docstring); 0 for unique keys
        "dup_target_rows_collapsed": n["matched"] - n["n_src_matched"],
        "files_rewritten": 0,
        "files_carried": 0,
    }
    if n["n_src"] == 0 and n["n_del_keys"] == 0:
        # TOTAL no-op: out == target exactly — committing would republish
        # the table byte-identically and mint an empty version (or create
        # an empty version-0 table on a fresh path). The empty-batch guard
        # lives here, where "collapsed to nothing" is a local fact. Every
        # return comes after the key-stats job has scanned ``source``:
        # cdc_apply's NULL-key Observation relies on that to never block.
        return stats

    # NO forced broadcast on the batch key set (review r12): a
    # right-to-be-forgotten deletion list — the module's own 100 TB use
    # case — can hold hundreds of millions of keys, and a hard hint would
    # OOM the driver/executors where AQE left free still broadcasts small
    # batches and falls back to a shuffled join for large ones.
    out = target.join(all_keys, on, "left_anti").unionByName(
        source, allowMissingColumns=True
    )

    # A FULL rewrite over an indexed table re-clusters on the indexed
    # columns (review r12): the anti join shuffles the target, and
    # without re-clustering the committed files carry overlapping key
    # ranges — the index can rule out nothing, every later merge degrades
    # to a full rewrite and read_pruned to full scans, a silent one-way
    # perf cliff. One range shuffle is the honest price of keeping the
    # clustered-layout contract the index's pruning power depends on
    # (Delta's optimized-write analog). File-targeted merges skip this:
    # their coalesced candidate slice plus carried files keep the layout.
    if exists and not carried_files:
        cluster = [c for c in index_cols(load_stats_index(data_dir)) if c in out.columns]
        if cluster:
            n_out = max(1, len(list_data_files(data_dir)))
            # PARTITION-MAJOR ranges on a Hive table (review r12,
            # reproduced): ranging on the index cols alone gives every
            # task all partition values, so the partitionBy write fans
            # out to n_out × n_partitions files — 6 → 36 on the repro,
            # multiplying again each merge. Leading with pkeys keeps each
            # task's rows inside ~one partition dir (compact's sort_by
            # rule).
            cluster_major = [*[k for k in pkeys if k in out.columns], *cluster]
            out = out.repartitionByRange(n_out, *cluster_major).sortWithinPartitions(
                *cluster_major
            )

    if carried_files:
        # keep file granularity ≈ the files being replaced — without
        # this the rewritten slice fans out to one file per shuffle
        # partition and a 1-file-targeted merge litters tiny files
        out = out.coalesce(max(1, n_candidates))
    # every frame above reads data_dir (the commit refuses if another
    # writer moved it). partition_by preserves the Hive layout (review
    # r12): without it the committed version carries the partition column
    # as data with no date=*/ dirs, partition pruning dies, and the next
    # partitioned kv_upsert pays a full-table migration rewrite. Sources
    # that insert rows must carry the partition columns (same contract as
    # Delta MERGE). The inherited index is rebuilt on a full rewrite too,
    # or every later merge would degrade to a full rewrite.
    staging = commit_version(
        target_path, out, base=data_dir, partition_by=pkeys,
        carry=carried_files,
    )
    stats["files_rewritten"] = len(list_data_files(staging)) - len(carried_files)
    stats["files_carried"] = len(carried_files)
    return stats


def _prune_rewrite_set(
    spark: SparkSession,
    data_dir: str,
    source: DataFrame,
    all_keys: DataFrame,
    on: list[str],
    target_cols: set[str],
) -> tuple[list[str], list[str]]:
    """Split the table's files into (carried, candidates): a file is a
    rewrite candidate iff the persisted index cannot prove its first-key
    interval holds no source key. Returns ``([], [])`` — full rewrite —
    when ``skipping.usable_index`` has no index for the first key, or the
    source introduces columns the target lacks (schema drift would make
    carried files diverge from rewritten ones). ``all_keys`` carries EVERY key
    the merge can touch (source plus the op-aware ``deletes`` side) —
    pruning on the insert side alone would carry a file holding only a
    deleted key, silently resurrecting the row."""
    key = on[0]
    index = usable_index(data_dir, key)
    if not index or not set(source.columns) <= target_cols:
        return [], []
    bounds = [(e["file"], e.get(f"{key}_min"), e.get(f"{key}_max")) for e in index]
    blind = [f for f, lo, hi in bounds if lo is None or hi is None]
    stated = [(f, lo, hi) for f, lo, hi in bounds if lo is not None and hi is not None]
    cand = set(blind)
    if stated:
        bdf = spark.createDataFrame(stated, ["file", "_lo", "_hi"])
        # tiny side (one row per FILE) broadcast against the streamed source
        # keys — a broadcast range join, never a shuffle of the source; the
        # distinct collapses to ≤ n_files rows map-side before the collect
        hit = (
            all_keys.select(F.col(key).alias("_k"))
            .join(
                F.broadcast(bdf),
                (F.col("_k") >= F.col("_lo")) & (F.col("_k") <= F.col("_hi")),
                "inner",
            )
            .select("file")
            .distinct()
            .collect()
        )
        cand.update(r.file for r in hit)
    carried = [f for f, _, _ in bounds if f not in cand]
    if not carried:
        return [], []  # every file is a candidate: plain full rewrite
    return carried, sorted(cand)


def delete_keys(
    spark: SparkSession, target_path: str, keys: DataFrame, on: list[str]
) -> int:
    """Remove every target row whose key appears in ``keys`` — the
    right-to-be-forgotten primitive, as a deletes-only merge. Returns
    the number of rows deleted."""
    keys = keys.select(*on)
    return merge_into(
        spark, target_path, keys.limit(0), on, deletes=keys.distinct()
    )["deleted"]
