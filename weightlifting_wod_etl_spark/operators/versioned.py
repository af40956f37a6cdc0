"""Manifest-pointer commit protocol for parquet rewrite paths.

Why: a full-table rewrite done as staging-dir + ``os.rename`` swap has a
window where a crash loses the table (no data at ``path`` between the two
renames) and a leftover staging dir wedges the next run. The reference
leans on S3 PUT atomicity per object and DynamoDB conditional writes for
this; the engine-side equivalent — and what Delta/Iceberg do under the
hood — is versioned data directories plus one atomically-swapped pointer:

    table/
      _CURRENT        <- text file naming the live version dir
      _v000001/       <- immutable parquet snapshot
      _v000002/

A rewrite writes a NEW ``_v{n+1}`` directory (never touching the live
one) and then commits with a single atomic ``os.replace`` of ``_CURRENT``.
Crash before the flip: readers still resolve the old version, and the
next rewrite reclaims the orphaned staging dir. Crash after the flip:
readers see the new version. There is no intermediate state.

Version dirs are underscore-prefixed deliberately: Spark's file listing
ignores ``_``/``.``-prefixed children, so a naive ``spark.read.parquet``
of the table ROOT cannot accidentally union two versions — readers go
through :func:`resolve` (or ``io.read_table``), and explicit reads of a
version dir work normally (verified by tests/test_versioned.py).

Plain parquet directories remain first-class: ``resolve`` returns them
unchanged, so every reader in the engine handles both layouts. At 100 TB
on object storage the pointer flip maps to a single conditional PUT —
the same commit primitive Delta's ``_last_checkpoint``/Iceberg's
``version-hint`` use — and old versions double as time-travel snapshots
until GC'd: each commit keeps the ``KEEP_VERSIONS`` (= 1) versions before
it, so a reader that resolved just before the flip can finish its scan.

WRITING A VERSION: :func:`commit_version` is the one way to write one. It
runs the whole protocol in a fixed order — commit lock, staleness check
against the caller's read base, staging write, optional carry of unchanged
files by hard link, skipping-index step, pointer flip — and aborts (lock
released, staging removed) on any failure. Every versioned writer
(``sinks.kv_upsert_parquet``, ``merge.merge_into``,
``compact.compact_parquet``, ``zorder.zorder_write``) calls it, so crash
and index behaviour live in one place.

CONCURRENCY: the protocol assumes ONE writer per table at a time — the
same single-writer-per-table contract Delta enforces via its log-store
conditional PUT and the reference via DynamoDB conditional writes. Two
cheap guards make a violated assumption loud instead of silently losing
a commit: ``begin_commit`` takes an ``O_EXCL`` per-version lock file (a
second live writer gets :class:`ConcurrentCommitError` instead of
rmtree'ing the first one's staging dir), and ``finish_commit`` re-reads
``_CURRENT`` and refuses to flip if another commit landed since
``begin_commit`` (lost-update guard). Locks record the owning PID so a
crashed writer never wedges the table: a lock whose owner is this
process or a dead process is reclaimed. The guard is process-level —
threads of one process sharing a table must coordinate externally — and
on object storage both guards collapse into the conditional PUT itself.
"""

from __future__ import annotations

import itertools
import os
import re
import shutil
import time
from typing import TYPE_CHECKING

from ..io import dir_stats, first_data_file, list_data_files

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

CURRENT_POINTER = "_CURRENT"
_VDIR = re.compile(r"^_v(\d{6})$")
KEEP_VERSIONS = 1  # prior versions each commit leaves on disk


class ConcurrentCommitError(RuntimeError):
    """Another writer holds this version's commit lock, or committed it
    first. The losing writer's staging data is left untouched (it may BE
    the winner's committed directory) — retry the whole rewrite against
    the new current version."""


def _lock_path(path: str, version: int) -> str:
    return os.path.join(path, f".lock_v{version:06d}")


def _pid_is_live(pid: int) -> bool:
    if pid <= 0:
        # 0 / negative would signal our own process group via os.kill and
        # "succeed" — an empty or corrupt lock must read as stale, never as
        # a permanently-live phantom owner.
        return False
    if pid == os.getpid():
        return False  # our own earlier crashed-then-retried attempt
    try:
        os.kill(pid, 0)
    except (ProcessLookupError, OverflowError):
        return False
    except PermissionError:
        return True  # exists, different user
    return True


def resolve(path: str) -> str:
    """Directory readers should scan: the live version dir for versioned
    tables, ``path`` itself for plain parquet dirs."""
    ptr = os.path.join(path, CURRENT_POINTER)
    try:
        with open(ptr) as f:
            name = f.read().strip()
    except OSError:
        return path
    return os.path.join(path, name) if _VDIR.match(name) else path


def table_exists(path: str) -> bool:
    """True iff ``path`` holds committed, readable table data: a committed
    version pointer, or (plain layout) at least one visible parquet data
    file. A bare directory — e.g. left by a failed first commit's
    ``os.makedirs`` — is NOT a table: writers that treat it as one feed an
    empty dir to ``spark.read.parquet`` and wedge every retry with
    'Unable to infer schema'."""
    if resolve(path) != path:
        return True  # pointer present: finish_commit published this dir
    return first_data_file(path) is not None


def _verify_read_base(path: str, data_dir: str) -> None:
    """Guard the resolve→begin_commit window: callers resolve the table and
    build their read plans BEFORE taking the commit lock. If another writer
    committed in between, those plans are stale — committing their output
    would silently discard the other writer's changes (both existing guards
    only cover the begin→finish span). :func:`commit_version` calls it
    after ``begin_commit`` with the directory the read plans were built
    against; raises :class:`ConcurrentCommitError` on staleness (the abort
    path then releases the lock)."""
    live = resolve(path)
    if live != data_dir:
        raise ConcurrentCommitError(
            f"read plans for {path} were built against {data_dir!r} but the "
            f"live version is now {live!r} — another writer committed "
            "between resolve and begin_commit; retry against the new version"
        )


def current_version(path: str) -> int:
    """Committed version number; 0 for plain/new tables."""
    m = _VDIR.match(os.path.basename(resolve(path)))
    return int(m.group(1)) if m else 0


def list_versions(path: str) -> list[int]:
    """Version numbers still on disk (time-travel targets), ascending.
    Bounded by ``KEEP_VERSIONS`` + 1 — old snapshots are GC'd at commit."""
    try:
        entries = os.listdir(path)
    except OSError:
        return []
    current = current_version(path)
    return sorted(
        int(m.group(1))
        for e in entries
        if (m := _VDIR.match(e)) and int(m.group(1)) <= current
    )


def version_dir(path: str, version: int) -> str:
    """Data directory of a specific retained version (time travel). Raises
    ``FileNotFoundError`` for GC'd or never-committed versions — asking
    for history that is gone must be loud, not an empty scan."""
    d = os.path.join(path, f"_v{version:06d}")
    if version > current_version(path) or not os.path.isdir(d):
        raise FileNotFoundError(
            f"version {version} of {path} is not on disk "
            f"(retained: {list_versions(path)})"
        )
    return d


def table_history(path: str) -> list[dict]:
    """Retained snapshots with their physical footprint, ascending — the
    ``DESCRIBE HISTORY`` analog for versioned tables. Each entry:
    ``{"version", "n_files", "bytes", "is_current"}``."""
    current = current_version(path)
    out = []
    for v in list_versions(path):
        n_files, nbytes = dir_stats(os.path.join(path, f"_v{v:06d}"))
        out.append(
            {"version": v, "n_files": n_files, "bytes": nbytes, "is_current": v == current}
        )
    return out


def begin_commit(path: str) -> tuple[str, int]:
    """Allocate the next version's staging directory.

    Takes the per-version ``O_EXCL`` commit lock first: a SECOND live
    writer at the same base version fails loudly here (raising
    :class:`ConcurrentCommitError`) instead of silently rmtree'ing the
    first writer's in-progress staging dir. A lock owned by this process
    or by a dead one is a crashed prior attempt — it is reclaimed along
    with the orphaned staging dir, so a failed rewrite never wedges the
    next one."""
    os.makedirs(path, exist_ok=True)
    version = current_version(path) + 1
    lock = _lock_path(path, version)
    # Lock creation is atomic WITH its content: the pid is written to a
    # unique temp file first and hard-linked to the lock name (link is
    # atomic and fails if the name exists) — there is no open-then-write
    # window in which a crash could leave an empty lock that reads as
    # owner 0.
    tmp = f"{lock}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(str(os.getpid()))
        f.flush()
        os.fsync(f.fileno())
    try:
        for attempt in itertools.count():
            try:
                os.link(tmp, lock)
                break
            except FileExistsError:
                pass
            try:
                with open(lock) as f:
                    raw = f.read().strip()
                mtime = os.path.getmtime(lock)
            except FileNotFoundError:
                continue  # vanished mid-race: retry create
            except OSError as e:
                # Present but unreadable (e.g. EACCES on a foreign-owner
                # lock in a shared dir): retrying the create would
                # busy-spin against FileExistsError forever — same
                # no-progress class as the corrupt-content spin. Fail loud.
                raise ConcurrentCommitError(
                    f"version {version} lock of {path} exists but is "
                    f"unreadable ({e}) — cannot determine its owner"
                ) from e
            try:
                owner = int(raw or 0)
            except ValueError:
                # Corrupt (non-numeric) content must read as owner 0 and
                # take the grace/stale path below — retrying the create
                # here would busy-spin forever against a lock that no
                # live process will ever release.
                owner = 0
            if _pid_is_live(owner):
                raise ConcurrentCommitError(
                    f"version {version} of {path} is being committed by "
                    f"live pid {owner} — concurrent writers are not "
                    "supported (see module docstring)"
                ) from None
            if owner <= 0 and time.time() - mtime < 5.0:
                # contentless lock from a non-engine writer may still be
                # mid-write: short grace before declaring it stale
                raise ConcurrentCommitError(
                    f"version {version} of {path} has a fresh contentless "
                    "lock — another writer may be mid-acquire; retry shortly"
                ) from None
            # Stale (dead or corrupt owner). Reclaim via atomic rename to a
            # unique name: of N racers acting on the same stale read, exactly
            # ONE rename succeeds — the losers loop back, see the winner's
            # FRESH lock, and fail live-owner above instead of unlinking it.
            grave = f"{lock}.stale.{os.getpid()}.{attempt}"
            try:
                os.rename(lock, grave)
            except OSError:
                continue  # another racer reclaimed first
            try:
                os.unlink(grave)
            except OSError:
                pass
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass
    # Post-acquisition base check: between computing `version` and winning
    # the lock, the previous holder may have FINISHED committing this very
    # version (its finish_commit unlinked the lock we then created). In
    # that window ``_v{version}`` is LIVE data — rmtree'ing it as "orphaned
    # staging" would destroy the table. The committed pointer is the source
    # of truth: if the base moved, release our lock and fail loudly.
    if current_version(path) != version - 1:
        try:
            os.unlink(lock)
        except OSError:
            pass
        raise ConcurrentCommitError(
            f"version {version} of {path} was committed by another writer "
            "while acquiring its lock — retry against the new current version"
        )
    staging = os.path.join(path, f"_v{version:06d}")
    shutil.rmtree(staging, ignore_errors=True)
    return staging, version


def abort_commit(path: str, version: int) -> None:
    """Release ``version``'s commit lock after a FAILED staging write.

    :func:`commit_version` calls this on any failure after
    ``begin_commit``; without it, a live process whose Spark write into
    staging raised would hold the lock until process exit, turning every
    other writer's ``begin_commit`` into :class:`ConcurrentCommitError`.
    Only a lock owned by THIS process is released (a racer's fresh lock
    is never clobbered); the orphaned staging dir is removed. Idempotent
    and safe to call when the lock is already gone.

    If the ``_CURRENT`` pointer already names ``version`` (or later), the
    flip happened before the failure — ``_v{version}`` is LIVE data, not
    orphaned staging — so this is a no-op: rmtree'ing it would leave the
    pointer dangling at a deleted directory. ``finish_commit`` runs
    inside the same try/except, and a ``KeyboardInterrupt``
    or GC-loop ``OSError`` can land after the ``os.replace``. Even then
    this process's own lock is still released (the failure can land
    between ``finish_commit``'s ``os.replace`` and its lock unlink, and
    no later writer ever consults ``.lock_v{version}`` again — left
    behind it would violate the 'no _lock files at rest' invariant)."""
    if current_version(path) >= version:
        _release_own_lock(path, version)
        return
    shutil.rmtree(os.path.join(path, f"_v{version:06d}"), ignore_errors=True)
    _release_own_lock(path, version)


def _release_own_lock(path: str, version: int) -> None:
    """Unlink ``version``'s lock iff it is owned by THIS process — a
    racer's fresh lock is never clobbered. Idempotent."""
    lock = _lock_path(path, version)
    try:
        with open(lock) as f:
            owner = int(f.read().strip() or 0)
    except (OSError, ValueError):
        return
    if owner == os.getpid():
        try:
            os.unlink(lock)
        except OSError:
            pass


def _link_or_copy(src: str, dst: str) -> None:
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    try:
        os.link(src, dst)  # metadata-only carry: same bytes, no data copy
    except OSError:
        shutil.copy2(src, dst)


def carry_files(files: list[str], src_root: str, dst_root: str) -> list[str]:
    """Hard-link ``files`` (absolute, under ``src_root``) into ``dst_root``
    preserving relative layout — the 'carry unchanged files by reference'
    half of a file-targeted rewrite. Committed version dirs are immutable,
    so sharing inodes across versions is safe; on object storage this maps
    to a metadata-level copy (S3 CopyObject / manifest re-listing), never
    a data rewrite. Returns the carried files' dst paths."""
    out = []
    for f in files:
        rel = os.path.relpath(f, src_root)
        dst = os.path.join(dst_root, rel)
        _link_or_copy(f, dst)
        out.append(dst)
    return out


def carry_missing_partitions(src_dir: str, dst_dir: str) -> list[str]:
    """Hard-link every Hive partition subtree of ``src_dir`` that ``dst_dir``
    does not already contain — the carry step of a partition-targeted
    rewrite: affected partitions were freshly written into ``dst_dir``,
    everything else is brought over by reference. Recurses per level so
    multi-column partitioning carries at leaf granularity. Returns the
    carried files' dst paths."""
    carried: list[str] = []

    def walk(src: str, dst: str) -> None:
        for entry in sorted(os.listdir(src)):
            if entry.startswith(("_", ".")) or "=" not in entry:
                continue
            s, d = os.path.join(src, entry), os.path.join(dst, entry)
            if not os.path.isdir(s):
                continue
            if os.path.isdir(d):
                walk(s, d)  # partially rewritten level: descend
            else:
                carried.extend(carry_files(list_data_files(s), s, d))

    walk(src_dir, dst_dir)
    return carried


def finish_commit(path: str, version: int) -> None:
    """Atomically make ``version`` the live one, then GC.

    The flip is CONDITIONAL: if ``_CURRENT`` no longer names
    ``version - 1`` — another writer committed since our
    ``begin_commit`` — the flip is refused with
    :class:`ConcurrentCommitError` rather than silently dropping the
    other writer's committed changes (lost update). The flip itself is a
    single ``os.replace`` of the pointer file (atomic on POSIX); data
    dirs are immutable once committed.

    GC removes version dirs older than ``current - KEEP_VERSIONS``
    (keeping one prior version lets an in-flight reader that resolved
    before the flip finish its scan) and, on the FIRST commit over a
    previously-plain table, the pre-versioning data — loose files AND
    partition subdirectories (``date=.../part-*.parquet``), which are the
    old "version 0", plus the root ``_SUCCESS`` marker, plain-layout
    index and the Hadoop ``.*.crc`` checksum sidecars of those files;
    leaving partition dirs behind would both leak disk and make a plain
    ``spark.read.parquet(root)`` return only stale pre-migration data.
    GC runs only after the pointer is durably flipped, so a crash during
    GC is harmless."""
    live = current_version(path)
    if live != version - 1:
        raise ConcurrentCommitError(
            f"refusing to flip {path} to version {version}: base was "
            f"{version - 1} but current is {live} — another writer "
            "committed in between; retry against the new current version"
        )
    tmp = os.path.join(path, f".{CURRENT_POINTER}.tmp")
    with open(tmp, "w") as f:
        f.write(f"_v{version:06d}")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, CURRENT_POINTER))
    try:
        os.unlink(_lock_path(path, version))
    except OSError:
        pass

    for entry in os.listdir(path):
        full = os.path.join(path, entry)
        m = _VDIR.match(entry)
        if m and int(m.group(1)) < version - KEEP_VERSIONS:
            shutil.rmtree(full, ignore_errors=True)
        elif version - 1 == 0 and not entry.startswith(("_", ".")):
            # migrated from a plain dir: loose files and Hive partition
            # subdirs are the old "version 0". Only dirs that are
            # recognizably table data (``key=value`` partition names, or
            # containing parquet data files) are removed — an unrelated
            # directory co-located at the root (a backup, an export) is
            # NOT ours to delete.
            if os.path.isdir(full):
                if "=" in entry or first_data_file(full) is not None:
                    shutil.rmtree(full, ignore_errors=True)
            elif entry.endswith(".parquet"):
                try:
                    os.remove(full)
                except OSError:
                    pass
        elif version - 1 == 0 and (
            entry in ("_SUCCESS", "_stats_index.parquet")
            or (entry.startswith(".") and entry.endswith(".crc"))
        ):
            # pre-migration METADATA files at the root: the write marker,
            # a plain-layout skipping index (post-migration the index
            # lives inside the version dir) and the ``.part-*.crc`` /
            # ``._SUCCESS.crc`` sidecars Hadoop's local filesystem wrote
            # beside the old files. These start with "_" or ".", so the
            # branch above never reaches them. Never touched outside the
            # one-time migration commit; _CURRENT, _v*, .lock_v* and
            # ._CURRENT.tmp match neither rule.
            try:
                os.remove(full)
            except OSError:
                pass


def commit_version(
    path: str,
    df: DataFrame,
    *,
    base: str | None = None,
    partition_by: list[str] | None = None,
    carry: list[str] | str | None = None,
    index_cols: list[str] | None = None,
) -> str:
    """Write ``df`` as the next version of ``path``; returns the committed
    version dir. In order: :func:`begin_commit`; refuse if the live version
    is no longer ``base``, the dir the caller's read plans were built
    against; write ``df`` (``partitionBy(*partition_by)`` if given); carry
    ``base`` files by hard link — a list of them (:func:`carry_files`) or
    ``"partitions"`` (:func:`carry_missing_partitions`); the skipping
    index — ``index_cols`` builds it, reusing carried files' entries, and
    ``None``/empty inherits ``base``'s (none if it has none); then
    :func:`finish_commit`. Any failure runs :func:`abort_commit`."""
    from .skipping import refresh_stats_index

    staging, version = begin_commit(path)
    try:
        if base is not None:
            _verify_read_base(path, base)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        if carry == "partitions":
            carry_missing_partitions(base, staging)
        elif carry:
            carry_files(carry, base, staging)
        refresh_stats_index(base, staging, index_cols or None)
        finish_commit(path, version)
    except BaseException:
        abort_commit(path, version)
        raise
    return staging
