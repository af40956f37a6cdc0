"""File-level data skipping — a min/max statistics index over a parquet
directory, built from FOOTERS only (no data pages read).

This is the mechanism table formats (Delta/Iceberg/Hudi) persist in their
metadata layers, done directly: per file, per column, the min/max over
that file's row-group statistics. A selective predicate then reduces to
an interval-intersection test over the index — files whose [min, max]
cannot contain matches are never opened. Combined with a clustered
layout (operators/zorder.py) this is the difference between scanning a
100 TB table and scanning the handful of files a point query touches.

Scale notes: the index costs one footer read per file (KBs each) and is
itself a tiny DataFrame — persist it next to the table and maintain it
incrementally on write. Pruning correctness needs no layout at all
(stats are always true bounds); the LAYOUT decides whether pruning is
EFFECTIVE — test_skipping.py proves a Z-ordered table prunes on every
clustered dimension while a linearly-sorted one prunes on one.
"""

from __future__ import annotations

import os
import threading

import pyarrow.parquet as pq

from ..io import list_data_files

# clustered_scratch_copy's build-once memo: source/layout key -> copy dir
_SCRATCH_COPIES: dict[tuple, str] = {}
_SCRATCH_COPIES_LOCK = threading.Lock()


def stats_for_files(files: list[str], cols: list[str]) -> list[dict]:
    """Footer min/max stats for an explicit file list — the incremental
    half of index maintenance: after a rewrite that carries most files
    over unchanged, only the NEW files need their footers read; carried
    files keep their existing index entries."""
    index = []
    for f in files:
        meta = pq.ParquetFile(f).metadata
        schema_names = {meta.row_group(0).column(i).path_in_schema: i
                        for i in range(meta.num_columns)} if meta.num_row_groups else {}
        entry: dict = {"file": f}
        for c in cols:
            lo = hi = None
            ci = schema_names.get(c)
            if ci is not None:
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        lo = hi = None
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            entry[f"{c}_min"], entry[f"{c}_max"] = lo, hi
        index.append(entry)
    return index


def file_stats_index(path: str, cols: list[str]) -> list[dict]:
    """Per-file min/max for ``cols`` from parquet footer statistics.

    Returns one dict per data file: ``{"file", "<col>_min", "<col>_max"}``.
    A file missing statistics for a column gets ``None`` bounds (treated
    as always-matching by :func:`prune_files` — skipping must never be
    unsound). Only files Spark's listing would see are indexed
    (``io.data_files``)."""
    return stats_for_files(list_data_files(path), cols)


def prune_files(index: list[dict], col: str, lo, hi) -> list[str]:
    """Files whose [min, max] interval for ``col`` intersects [lo, hi].
    Files without stats are kept (sound, just not skipped)."""
    keep = []
    for e in index:
        fmin, fmax = e.get(f"{col}_min"), e.get(f"{col}_max")
        if fmin is None or fmax is None or (fmax >= lo and fmin <= hi):
            keep.append(e["file"])
    return keep


_INDEX_NAME = "_stats_index.parquet"


def write_stats_index(data_dir: str, entries: list[dict]) -> str:
    """Persist pre-computed index entries (absolute ``file`` paths under
    ``data_dir``) INSIDE the directory — the incremental-maintenance
    sibling of :func:`save_stats_index` for rewrites that carry most
    files over unchanged: carried files keep their old entries, only the
    new files paid a footer read."""
    import pyarrow as pa

    rel = [
        {**e, "file": os.path.relpath(e["file"], data_dir)} for e in entries
    ]
    out = os.path.join(data_dir, _INDEX_NAME)
    pq.write_table(pa.Table.from_pylist(rel), out)
    return out


def index_cols(index: list[dict]) -> list[str]:
    """The column names a loaded index carries stats for."""
    if not index:
        return []
    return sorted({k[:-4] for k in index[0] if k.endswith("_min")})


def save_stats_index(data_dir: str, cols: list[str]) -> str:
    """Build the footer-stats index for ``data_dir`` and persist it INSIDE
    the directory (underscore-prefixed → invisible to Spark data scans).

    Written into a version dir before the manifest-pointer flip
    (operators/versioned.py), the index is published atomically WITH the
    data it describes — the engine-side analog of the per-file stats
    Delta/Iceberg carry in their commit metadata. File paths are stored
    relative to ``data_dir`` so a version dir stays self-contained."""
    return write_stats_index(data_dir, file_stats_index(data_dir, cols))


def refresh_stats_index(
    old_dir: str | None, new_dir: str, cols: list[str] | None = None
) -> str | None:
    """Maintain the persisted index across a rewrite that carried most
    files from ``old_dir`` into ``new_dir`` by reference (same relative
    paths): carried files keep their existing entries, only files new to
    ``new_dir`` pay a footer read. ``cols=None`` inherits the old index's
    columns (no-op if the old table had no index — nothing promised
    pruning). Falls back to a full rebuild when the requested columns
    differ from the old index's; with no ``old_dir`` (or no old index)
    explicit ``cols`` build the same entries as :func:`save_stats_index`.
    Returns the written index path, or ``None`` when there is nothing to
    maintain.

    This is what keeps ``io.read_pruned`` correct across incremental
    commits: a stale index naming files the new version no longer has —
    or missing its new files — would prune unsoundly, so the index is
    rewritten inside the staging dir and published by the SAME atomic
    pointer flip as the data."""
    old = (load_stats_index(old_dir) if old_dir else None) or []
    if cols is None:
        cols = index_cols(old)
        if not cols:
            return None
    if old and index_cols(old) != sorted(cols):
        old = []  # column set changed: full rebuild
    by_rel = {os.path.relpath(e["file"], old_dir): e for e in old}
    entries, fresh = [], []
    for f in list_data_files(new_dir):
        rel = os.path.relpath(f, new_dir)
        if rel in by_rel:
            entries.append({**by_rel[rel], "file": f})
        else:
            fresh.append(f)
    entries.extend(stats_for_files(fresh, cols))
    return write_stats_index(new_dir, entries)


def load_stats_index(data_dir: str) -> list[dict] | None:
    """Persisted index for ``data_dir`` (absolute file paths restored), or
    ``None`` when absent — callers fall back to a live footer scan."""
    p = os.path.join(data_dir, _INDEX_NAME)
    if not os.path.exists(p):
        return None
    rows = pq.read_table(p).to_pylist()
    return [
        {**e, "file": os.path.join(data_dir, e["file"])} for e in rows
    ]


def usable_index(data_dir: str, col: str) -> list[dict] | None:
    """The persisted index for ``data_dir`` when it can decide a prune on
    ``col``, else None (the caller falls back to a live footer scan or a
    full rewrite). Usable means it carries stats for ``col`` and names
    exactly the data files on disk. An empty index would prune to zero
    files; a data file with no entry (appended outside the commit
    protocol) would be neither pruned nor kept, and its rows would vanish;
    an entry for a file that is gone would be read or carried and fail."""
    index = load_stats_index(data_dir)
    if (
        index
        and all(f"{col}_min" in e for e in index)
        and {e["file"] for e in index} == set(list_data_files(data_dir))
    ):
        return index
    return None


def clustered_scratch_copy(
    spark,
    sf_dir: str,
    table: str,
    select_cols: list[str],
    cluster_col: str,
    n_ranges: int = 8,
) -> str:
    """Build-once clustered scratch copy of a source table, with a
    persisted skipping index — the fixture a pruned-read query needs so
    its bench row times the READ, not a rewrite per run.

    The copy lives under this process's scratch dir (``io.scratch_dir``,
    removed at exit), so no other process ever sees it. It is built once
    per (source path, source ``os.stat`` size and mtime, layout
    arguments): a regenerated source builds a fresh copy in a new dir
    instead of silently serving a stale one. The build runs under a lock,
    so concurrent callers in one process share one build."""
    import tempfile

    from ..io import load_table, scratch_dir

    src_path = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(src_path)
    key = (src_path, st.st_size, st.st_mtime_ns, tuple(select_cols), cluster_col, n_ranges)
    with _SCRATCH_COPIES_LOCK:
        if key not in _SCRATCH_COPIES:
            out = tempfile.mkdtemp(prefix=f"clustered_{table}_", dir=scratch_dir())
            (
                load_table(spark, sf_dir, table)
                .select(*select_cols)
                .repartitionByRange(n_ranges, cluster_col)
                .sortWithinPartitions(cluster_col)
                .write.mode("overwrite")
                .parquet(out)
            )
            # persist the skipping index next to the data — read_pruned
            # consumes the persisted form (the metadata-layer path), not a
            # live footer scan
            save_stats_index(out, [cluster_col])
            _SCRATCH_COPIES[key] = out
        return _SCRATCH_COPIES[key]
