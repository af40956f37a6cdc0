"""MERGE INTO for parquet tables — Delta/Iceberg merge semantics on top
of the manifest-pointer commit protocol (operators/versioned.py).

One join-based rewrite implements the three clauses:

    MERGE INTO target USING source ON <keys>
    WHEN MATCHED THEN UPDATE | DELETE
    WHEN NOT MATCHED THEN INSERT

``sinks.kv_upsert_parquet`` is the update+insert special case with a
version column choosing the survivor; this operator is the general form,
including the matched-DELETE clause — the right-to-be-forgotten path a
training-data pipeline must run at 100 TB (delete every document of a
revoked source without rewriting unrelated data... which parquet cannot
do below file granularity: here the rewrite is table-scoped and commits
atomically; the deployment form is Delta ``MERGE``/``DELETE`` where only
files containing matches rewrite, with the same join plan underneath).

Plan shape: ONE left-outer (or anti) join of target against the source
keyed on ``on`` — the source is typically small (a day's increment, a
deletion list) so Catalyst broadcasts it; the target side streams through
without a shuffle in that case. The new version dir is written while the
live one stays readable; ``versioned.commit_version`` publishes it.

FILE-TARGETED REWRITE: when the table carries a persisted footer-stats
index (operators/skipping.py) covering the first merge key, only files
whose [min, max] key interval can contain a source key are read and
rewritten; every other file is carried into the new version by hard link
(metadata-only), and the index is refreshed incrementally — carried files
keep their entries, only the rewritten files pay a footer read. This is
the file-pruned MERGE shape Delta/Iceberg run at 100 TB: an upsert
touching one day of a date-clustered table rewrites ~one file, not the
table. Soundness does not depend on the layout — a file the index cannot
rule out is rewritten — but a clustered layout (operators/zorder.py /
compact with sort_by) is what makes the candidate set small.

Bookkeeping is ONE Spark job: the per-key source/target counts that feed
the duplicate-key guard, matched/inserted/deleted counts, and the
matched-key set for the clause joins all come from a single keyed
aggregation over a lazily-checkpointed key-stats frame — not one action
per statistic (4 jobs before; measured directly in cdc_apply's per-batch
latency).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .versioned import commit_version, resolve, table_exists


def keys_not_null(on: list[str]) -> Column:
    """True iff every key column is non-NULL: the only keys the
    null-unsafe clause joins can match."""
    return reduce(operator.and_, (F.col(k).isNotNull() for k in on))


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    on: list[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    deletes: DataFrame | None = None,
) -> dict:
    """Merge ``source`` into the parquet table at ``target_path``.

    ``when_matched``: ``"update"`` (source row replaces target row),
    ``"delete"`` (matched target rows are removed), or ``"ignore"``
    (target row kept unchanged). ``when_not_matched``: ``"insert"`` or
    ``"ignore"`` (source-only rows added or dropped). Keys must be unique
    within ``source`` (enforced — ambiguous merges are rejected, the same
    error Delta raises for multi-match sources). Target-side key
    uniqueness is NOT enforced: this is a KEYED-table merge, so an
    update of a key the target holds N times collapses those N rows to
    the one source row — LWW semantics, the contract kv_upsert/cdc_apply
    carry (Delta's row-wise MERGE UPDATE would keep all N). The collapse
    is reported, never silent (review r12): see
    ``dup_target_rows_collapsed`` in the returned stats.

    ``deletes`` (r18 optimization round): an optional key-only frame
    merged IN THE SAME COMMIT — every target row matching a ``deletes``
    key is removed and nothing is inserted for it (the per-row
    MATCHED-DELETE clause of a Delta-style op-aware MERGE). This is the
    CDC fast path: a collapsed change batch applies its deletes and
    upserts through ONE target read, ONE rewrite and ONE atomic commit
    instead of two of each (streaming/cdc_apply.py — measured ~2x on the
    q_cdc_apply pipeline). Keys must be unique across ``source`` AND
    ``deletes`` together (the same ambiguous-merge guard); equivalence
    to the sequential delete-then-upsert form holds exactly because of
    that disjointness: final = target ∖ (all batch keys) ∪ upserts
    either way (pinned in tests/test_merge.py).

    Returns counts: ``{"matched": n, "inserted": n, "deleted": n,
    "dup_target_rows_collapsed": n, ...}``.
    """
    if when_matched not in ("update", "delete", "ignore"):
        raise ValueError(f"when_matched={when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(f"when_not_matched={when_not_matched!r}")
    if (
        when_matched == "ignore"
        and when_not_matched == "ignore"
        and deletes is None
    ):
        # nothing can change. This is the ONLY return before the key-stats
        # job, so no action has scanned ``source``: a caller observing it
        # (cdc_apply's NULL-key count) would block forever in obs.get.
        # cdc_apply never takes this path (it merges with the defaults);
        # any new early return belongs after the key-stats collect.
        return {"matched": 0, "inserted": 0, "deleted": 0}

    data_dir = resolve(target_path)
    # Committed data, not bare directory existence: a failed first commit
    # leaves an empty makedirs'd path whose "read" would wedge every retry.
    exists = table_exists(target_path)

    # Checkpoint BEFORE the prune collect: _prune_rewrite_set and the
    # clause joins must consume the SAME source snapshot. A source that is
    # non-deterministic under recomputation (sampled, rand-salted) could
    # otherwise produce a key at write time that the prune didn't see —
    # whose file was carried — silently duplicating or losing that row.
    source = source.localCheckpoint(eager=False)
    if deletes is not None:
        deletes = deletes.select(*on).localCheckpoint(eager=False)
    # every key this merge can touch: drives target-row removal, the
    # bookkeeping aggregation, and file pruning (a file holding ONLY a
    # delete key must still be rewritten)
    all_keys = (
        source.select(*on)
        if deletes is None
        else source.select(*on).unionByName(deletes)
    )

    # File-targeted path: with a persisted stats index covering the first
    # merge key, read/rewrite only the files whose key interval can hold a
    # source key; carry the rest by reference. Requires source schema ⊆
    # target schema (else carried and rewritten files would disagree).
    carried_files: list[str] = []
    n_candidates = 0
    target = None
    pkeys: list[str] = []
    if exists:
        from .compact import _partition_keys

        pkeys = _partition_keys(data_dir)
        full = spark.read.parquet(data_dir)
        carried_files, candidates = _prune_rewrite_set(
            spark, data_dir, source, all_keys, on, set(full.columns)
        )
        n_candidates = len(candidates)
        if carried_files and candidates:
            # basePath is load-bearing on a Hive-partitioned table
            # (review r12): a bare leaf-file read does no partition
            # discovery, so every directory-derived partition column
            # would come back NULL for every candidate row — carried
            # rows included — committing silent corruption. io.py's
            # read_pruned sets it for the same reason.
            target = (
                spark.read.schema(full.schema)
                .option("basePath", data_dir)
                .parquet(*candidates)
            )
        elif carried_files and not candidates:
            target = full.limit(0)  # no file can match: pure insert
        else:
            target = full
    else:
        target = source.limit(0)

    # ONE bookkeeping job AND one exchange: source/delete keys and target
    # keys ride a single union keyed by a ``_side`` tag, so per-key source
    # counts, target counts, the dup guard, matched/total counts, and the
    # matched-key set all come from ONE hash aggregation — the former
    # groupBy-each-side-then-join shape shuffled the same keys twice and
    # paid a join (r19 optimization round, guide §2.4; measured 0.63 →
    # 0.47 s on q_cdc_apply's per-batch key-stats job). The lazy
    # localCheckpoint materializes key_stats at the agg and the clause
    # joins reuse it without re-running the union lineage. Delete keys
    # ride the same aggregation tagged ``_isdel`` so the op-aware form
    # costs no extra job; the dup guard covers duplicates WITHIN and
    # ACROSS the two sides (a key that is both deleted and upserted in
    # one merge is the same ambiguity Delta rejects). Target-only keys
    # surface with _scnt=0 and NULL _isdel — every consumer below
    # filters or NULL-skips them, preserving the old left-join shape's
    # source-keys-only semantics.
    tagged = source.select(*on).withColumn("_isdel", F.lit(False))
    if deletes is not None:
        tagged = tagged.unionByName(deletes.withColumn("_isdel", F.lit(True)))
    both_sides = tagged.withColumn("_side", F.lit(1)).unionByName(
        target.select(*on)
        .withColumn("_isdel", F.lit(None).cast("boolean"))
        .withColumn("_side", F.lit(0))
    )
    key_stats = (
        both_sides.groupBy(*on)
        .agg(
            F.sum("_side").alias("_scnt"),
            F.max("_isdel").alias("_isdel"),
            # NULL (not 0) when the key has no target rows, mirroring the
            # old left join's _tcnt so "matched" stays _tcnt.isNotNull().
            # Also NULL for a key with any NULL column: groupBy puts NULL
            # source and target keys in one group, but the clause joins
            # are null-unsafe, so such a source row never matches — it is
            # inserted, and no target row is updated or deleted for it.
            F.when(
                keys_not_null(on),
                F.nullif(F.sum(F.lit(1) - F.col("_side")), F.lit(0)),
            ).alias("_tcnt"),
        )
        .localCheckpoint(eager=False)
    )
    row = key_stats.agg(
        # NULL-key source rows share one group but match nothing, so they
        # cannot make a target row match twice: keep them out of the guard
        F.coalesce(
            F.max(F.when(keys_not_null(on), F.col("_scnt"))), F.lit(0)
        ).alias("max_dup"),
        F.coalesce(
            F.sum(F.when(~F.col("_isdel"), F.col("_scnt"))), F.lit(0)
        ).alias("n_src"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_tcnt").isNotNull() & ~F.col("_isdel"),
                    F.col("_scnt"),
                )
            ),
            F.lit(0),
        ).alias("n_src_matched"),
        F.coalesce(
            F.sum(F.when(~F.col("_isdel"), F.col("_tcnt"))), F.lit(0)
        ).alias("n_matched"),
        F.coalesce(
            F.sum(F.when(F.col("_isdel"), F.col("_tcnt"))), F.lit(0)
        ).alias("n_del_matched"),
        F.coalesce(
            F.sum(F.when(F.col("_isdel"), F.col("_scnt"))), F.lit(0)
        ).alias("n_del_keys"),
    ).collect()[0]
    if row.max_dup > 1:
        raise ValueError(
            "source has duplicate merge keys — a target row would match "
            "more than one source row (non-deterministic merge)"
        )
    if row.n_src == 0 and row.n_del_keys == 0:
        # TOTAL no-op: no source rows and no delete keys means every
        # clause arm is empty and out == target exactly, in every
        # when_matched/when_not_matched mode — committing would republish
        # the table byte-identically and mint an empty version (or create
        # an empty version-0 table on a fresh path). Skipping here moves
        # the empty-batch guard INTO the merge, where "collapsed to
        # nothing" is a local fact — cdc_apply no longer has to infer it
        # from raw-batch stats via the cross-module "key-ok rows exist
        # iff collapsed rows do" invariant (r18 ADVICE).
        return {
            "matched": 0,
            "inserted": 0,
            "deleted": 0,
            "dup_target_rows_collapsed": 0,
            "files_rewritten": 0,
            "files_carried": 0,
        }
    n_matched, n_src_matched = row.n_matched, row.n_src_matched
    matched_keys = key_stats.filter(
        F.col("_tcnt").isNotNull() & ~F.col("_isdel")
    ).select(*on)

    # survivors from the target side. NO forced broadcast on the source
    # key set (review r12): a right-to-be-forgotten deletion list — the
    # module's own 100 TB use case — can hold hundreds of millions of
    # keys, and a hard hint would OOM the driver/executors where AQE
    # left free still broadcasts small sources and falls back to a
    # shuffled join for large ones.
    if when_matched == "ignore":
        removal = deletes  # only explicit delete keys remove target rows
    else:  # update and delete both remove the matched target rows
        removal = all_keys
    keep_target = (
        target if removal is None else target.join(removal, on, "left_anti")
    )

    # rows contributed by the source side
    parts = []
    if when_matched == "update" and when_not_matched == "insert":
        # semi(matched) ∪ anti(matched) == source exactly — the common
        # upsert form needs NEITHER clause join (r18 optimization round:
        # two broadcast joins and a union removed from every kv-upsert/
        # CDC merge plan; the split exists only to serve an "ignore" arm)
        parts.append(source)
    else:
        if when_matched == "update":
            parts.append(source.join(matched_keys, on, "left_semi"))
        if when_not_matched == "insert":
            parts.append(source.join(matched_keys, on, "left_anti"))

    out = keep_target
    for p in parts:
        out = out.unionByName(p, allowMissingColumns=True)

    # A FULL rewrite over an indexed table re-clusters on the indexed
    # columns (review r12): the anti/semi clause joins shuffle the target,
    # and without re-clustering the committed files carry overlapping key
    # ranges — the index can rule out nothing, every later merge degrades
    # to a full rewrite and read_pruned to full scans, a silent one-way
    # perf cliff. One range shuffle is the honest price of keeping the
    # clustered-layout contract the index's pruning power depends on
    # (Delta's optimized-write analog). File-targeted merges skip this:
    # their coalesced candidate slice plus carried files keep the layout.
    if exists and not carried_files:
        from .skipping import index_cols as _index_cols
        from .skipping import list_data_files, load_stats_index

        old_index = load_stats_index(data_dir)
        cluster = [
            c
            for c in (_index_cols(old_index) if old_index else [])
            if c in out.columns
        ]
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

    n_inserted = int(row.n_src - n_src_matched) if when_not_matched == "insert" else 0
    n_deleted = (int(n_matched) if when_matched == "delete" else 0) + int(
        row.n_del_matched
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
    from .skipping import list_data_files

    return {
        "matched": int(n_matched),
        "inserted": n_inserted,
        "deleted": n_deleted,
        # duplicate-keyed target rows an update collapsed to one survivor
        # (keyed-table LWW semantics — see docstring); 0 for unique keys
        "dup_target_rows_collapsed": (
            int(n_matched - n_src_matched) if when_matched == "update" else 0
        ),
        "files_rewritten": len(list_data_files(staging)) - len(carried_files),
        "files_carried": len(carried_files),
    }


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
    when there is no usable index, the key is not indexed, or the source
    introduces columns the target lacks (schema drift would make carried
    files diverge from rewritten ones). ``all_keys`` carries EVERY key
    the merge can touch (source plus the op-aware ``deletes`` side) —
    pruning on the insert side alone would carry a file holding only a
    deleted key, silently resurrecting the row."""
    from .skipping import list_data_files, load_stats_index

    if not set(source.columns) <= target_cols:
        return [], []
    index = load_stats_index(data_dir)
    key = on[0]
    if not index or f"{key}_min" not in index[0]:
        return [], []
    # The index must be a COMPLETE file manifest: a data file with no index
    # entry would be neither carried nor a candidate — its rows silently
    # vanish from the new version. All in-repo writers keep it complete;
    # enforce it here, where incompleteness means data loss, by falling
    # back to a full rewrite.
    if not set(list_data_files(data_dir)) <= {e["file"] for e in index}:
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
    right-to-be-forgotten primitive, as a matched-DELETE merge. Returns
    the number of rows deleted."""
    return merge_into(
        spark,
        target_path,
        keys.select(*on).distinct(),
        on,
        when_matched="delete",
        when_not_matched="ignore",
    )["deleted"]
