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

import pyarrow.parquet as pq


def list_data_files(path: str) -> list[str]:
    """The parquet files Spark's own listing would read under ``path`` —
    ``_``/``.``-prefixed FILES AND DIRECTORIES are skipped at every level.

    Pruning directories matters for soundness, not just tidiness: a
    versioned table root (operators/versioned.py) legally contains
    ``_v*/`` snapshot dirs — including a possibly-orphaned staging dir
    from a crash before the pointer flip. A recursive glob that only
    filtered file basenames descended into those and would have indexed
    UNCOMMITTED rows, so a pruned read could return duplicates a full
    Spark scan never sees."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return sorted(out)


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
    (:func:`list_data_files`)."""
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


def _source_fingerprint(src_path: str, fallback_name: str = "src") -> str:
    """Content-generation fingerprint of a source file or directory:
    md5 over every file's (relative path, size, mtime_ns), walked in a
    SORTED order. Review r14: the inline predecessor iterated os.walk's
    unsorted directory order and keyed on basenames alone — on a
    filesystem that lists dirs differently between runs the same bytes
    hashed to a different fingerprint, spawning a spurious "generation"
    per run (each deferring the last one's GC), and two same-named files
    in different subdirs were indistinguishable."""
    import hashlib

    stat_parts = []
    for root, dirs, files in os.walk(src_path):
        dirs.sort()
        for fn in sorted(files):
            full = os.path.join(root, fn)
            st = os.stat(full)
            rel = os.path.relpath(full, src_path)
            stat_parts.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    if not stat_parts and os.path.exists(src_path):
        st = os.stat(src_path)
        stat_parts.append(f"{fallback_name}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5(";".join(stat_parts).encode()).hexdigest()[:12]


def clustered_scratch_copy(
    spark,
    sf_dir: str,
    table: str,
    select_cols: list[str],
    cluster_col: str,
    n_ranges: int = 8,
    prefix: str = "wod_etl_clustered",
) -> str:
    """Build-once clustered scratch copy of a source table, with a
    persisted skipping index — the fixture a pruned-read query needs so
    its bench row times the READ, not a rewrite per run.

    Contract (review r12 — this plumbing used to live inline in
    q_pruned_scan and leaked):
      * the scratch name embeds an mtime/size FINGERPRINT of the source,
        so a regenerated testdata generation lands in a NEW dir instead
        of silently serving a stale clustered copy;
      * concurrent builders write private staging dirs; exactly one
        atomic rename publishes, the loser reuses the winner's copy;
      * STALE generations of the same (prefix, source) are GC'd on the
        next build — without this, every testdata regeneration and every
        dirty-sweep tmp dir accumulated an orphaned multi-MB parquet
        copy in tempdir forever — and so are crashed builders' leftover
        ``.tmp.<pid>`` staging dirs.
    """
    import re
    import shutil
    import tempfile

    src_path = os.path.join(sf_dir, f"{table}.parquet")
    fp = _source_fingerprint(src_path, fallback_name=table)
    # table belongs in the GC namespace (round-diff review r13): keyed on
    # (prefix, sf_dir) alone, a second table's LIVE published copy from
    # the same sf_dir read as a "stale generation" of the first and the
    # defer-by-one GC below would reclaim it mid-scan
    base = (
        prefix + "_" + re.sub(r"\W+", "_", sf_dir).strip("_")
        + "_" + re.sub(r"\W+", "_", table) + "_"
    )
    scratch = os.path.join(tempfile.gettempdir(), base + fp)

    marker = os.path.join(scratch, "_BUILT")
    if os.path.exists(marker):
        return scratch
    # GC stale generations and orphaned staging dirs BEFORE building the
    # new one: anything with this source's prefix but a different
    # fingerprint is a dead generation (its fingerprint can never recur
    # — mtimes are monotone), and a .tmp.<pid> left by a crashed builder
    # is unreachable garbage. Racing GC against a concurrent builder of
    # the SAME generation is safe: that builder stages privately and the
    # publish rename is atomic.
    tmp_root = tempfile.gettempdir()
    stale_published: list[tuple[float, str]] = []
    for entry in os.listdir(tmp_root):
        if not entry.startswith(base):
            continue
        # skip the CURRENT generation entirely — published dir AND any
        # concurrent builder's live ".tmp.<pid>" staging of it (deleting
        # that mid-write would corrupt the race the atomic rename wins)
        if entry.startswith(base + fp):
            continue
        full = os.path.join(tmp_root, entry)
        if ".tmp." in entry:
            # an OLD-generation staging dir may still belong to a LIVE
            # builder that started before the source regenerated (review
            # r12: GC'ing it mid-write failed that builder's Spark job,
            # or let its swallowed rename return a nonexistent scratch).
            # Only reclaim stale ones — a crashed builder's staging goes
            # quiet; a live write keeps touching the dir.
            import time

            try:
                if time.time() - os.path.getmtime(full) < 3600:
                    continue
            except OSError:
                continue
            shutil.rmtree(full, ignore_errors=True)
        else:
            # a stale PUBLISHED generation may still be mid-scan by a
            # long-running process that planned its read before the
            # source regenerated (r13 advice: unconditional rmtree
            # failed that reader with FileNotFound). mtime can't see
            # readers, so defer by one generation instead: keep the
            # NEWEST stale published dir, reclaim everything older —
            # any older generation already survived a previous GC pass
            # as "newest stale" and has had a full generation of grace.
            try:
                stale_published.append((os.path.getmtime(full), full))
            except OSError:
                continue
    for _, full in sorted(stale_published)[:-1]:
        shutil.rmtree(full, ignore_errors=True)
    staging = f"{scratch}.tmp.{os.getpid()}"
    from ..io import load_table

    (
        load_table(spark, sf_dir, table)
        .select(*select_cols)
        .repartitionByRange(n_ranges, cluster_col)
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(staging)
    )
    # persist the skipping index next to the data — read_pruned consumes
    # the persisted form (the metadata-layer path), not a live footer scan
    save_stats_index(staging, [cluster_col])
    with open(os.path.join(staging, "_BUILT"), "w") as f:
        f.write(sf_dir)
    try:
        os.rename(staging, scratch)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)  # another builder won
    return scratch
