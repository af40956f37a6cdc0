"""Small-file compaction — the table-maintenance job every long-lived
parquet dataset needs.

Why: streaming sinks, frequent small upserts, and over-parallel writers
leave a table as thousands of KB-scale files. At 100 TB that kills scans
three ways — task-per-file scheduling overhead, footer/open costs per
file, and statistics too fine-grained to prune well. Periodic compaction
rewrites a directory into ~target-sized files.

How: file count is derived from the table's ACTUAL on-disk bytes (listing
the filesystem, not a row count — row width varies), then one
``repartition(n)`` round-robin shuffle balances the rewrite. An optional
``sort_by`` turns compaction into a clustering pass at the same cost
(pair with operators/zorder.py's key for multi-dimensional layouts).
The table is read by ``io.read_declared``, the read rule every rewriting
writer shares: a declared schema, data columns from one footer,
partition columns as string (a compaction has no incoming frame to type
them from), no schema-inference job. Partition values come back exactly
as their directory names, so ``p=007`` is rewritten as ``p=007`` (an
inferring read would make it ``p=7``). The rewrite is one
``versioned.commit_version`` (crash safety is defined there) — the engine-side analog of a Delta/Iceberg ``OPTIMIZE``/``rewrite``
commit.
"""

from __future__ import annotations

import logging
import math
import os

from pyspark.sql import SparkSession

from ..io import dir_stats, list_data_files, partition_columns, read_declared
from .versioned import commit_version, resolve

log = logging.getLogger(__name__)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Rewrite ``path`` into ``ceil(bytes / target)`` files; returns
    (files_before, files_after). No-op (no rewrite at all) when the
    layout is already within one file of the achievable ideal AND
    nothing beyond file-count health was requested. Accepts both plain
    parquet dirs (first compaction migrates them to the versioned
    layout) and already-versioned tables; read results back with
    ``io.read_table`` / ``versioned.resolve``.

    ``stats_cols`` persists a footer-stats skipping index with the new
    version (defaults to ``sort_by``: the clustered columns are exactly
    the prunable ones). With neither, a previously persisted index is
    rebuilt over the new files — a maintenance compact must not drop it
    (later merges would degrade to full rewrites, read_pruned to footer
    scans)."""
    data_dir = resolve(path)
    before, total = dir_stats(data_dir)
    if before == 0:
        # empty table (review r14): there is nothing to rewrite, and
        # there is no footer to declare the read's schema from
        return 0, 0
    want = max(1, math.ceil(total / target_file_bytes))
    pkeys = partition_columns(data_dir)
    # No-op rules (review r12 — the old `before <= want + 1` guard was
    # wrong three ways):
    #  * an explicit sort_by/stats_cols request must ALWAYS rewrite — the
    #    early return silently skipped a requested clustering pass and
    #    the promised index publication;
    #  * the bound is two-sided: before >> want is small-file debt, but
    #    before < want means files far OVER target that should split for
    #    scan parallelism (2 one-GB files vs want=16 used to no-op);
    #  * for a Hive layout WITHOUT sort_by, the rewrite hashes on the
    #    partition keys alone, so what it can actually ACHIEVE is one
    #    file per live partition dir — "ideal" must be exactly that
    #    (review r12, reproduced: max(want, n_parts) was unreachable
    #    whenever want > n_parts, so every maintenance run re-committed
    #    a full rewrite forever while file counts never changed; big
    #    partitions that need intra-partition splitting are the sort_by
    #    path's job, whose requests always rewrite anyway).
    if pkeys:
        n_part_dirs = len({os.path.dirname(f) for f in list_data_files(data_dir)})
        ideal = n_part_dirs
        if want > n_part_dirs * 2 and not sort_by:
            # intra-partition splitting is out of scope for the default
            # hash-on-pkeys path, so oversized partition files can never
            # be split by plain maintenance — say so instead of silently
            # no-opping forever (r13 advice): the caller's remedy is the
            # sort_by path, whose range partitioning CAN split within a
            # partition. 2× threshold: one file modestly over target is
            # normal packing slack, not actionable debt.
            log.warning(
                "compact_parquet: %s holds ~%.0f MiB across %d partition "
                "dirs (~%d files at target size) — the default partitioned "
                "compact cannot split within a partition; pass sort_by to "
                "split oversized partitions",
                data_dir,
                total / 2**20,
                n_part_dirs,
                want,
            )
    else:
        ideal = want
    if ideal <= before <= ideal + 1 and not sort_by and not stats_cols:
        return before, before
    df = read_declared(spark, data_dir, [data_dir])
    # Partitioned tables redistribute ON the partition keys (review r12):
    # a bare round-robin repartition(want) scatters every Hive
    # partition's rows across all `want` tasks, so the partitionBy write
    # fans out to ~want × n_partitions files — MORE small files than
    # before, and never converging. Hashing on pkeys lands each
    # partition value in one task (one file per partition dir); with
    # sort_by, range-partitioning partition-major keeps dirs contiguous
    # AND sorted within.
    if sort_by:
        cluster = [*pkeys, *sort_by]
        out = df.repartitionByRange(want, *cluster).sortWithinPartitions(*cluster)
    elif pkeys:
        out = df.repartition(want, *pkeys)
    else:
        out = df.repartition(want)
    # partition_by preserves the Hive layout: partition pruning must
    # survive a maintenance compact (review r11)
    committed = commit_version(
        path, out, base=data_dir, partition_by=pkeys,
        index_cols=stats_cols if stats_cols is not None else sort_by,
    )
    after, _ = dir_stats(committed)
    return before, after
