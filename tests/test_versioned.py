"""Manifest-pointer commit protocol (operators/versioned.py): a crash at
ANY point of a rewrite must leave the table readable as exactly the old or
exactly the new version — never a partial — and a crashed attempt must not
wedge the next run. These tests pin the protocol's own functions; the
crash of each committer at each step is tests/test_commit_faults.py."""

from __future__ import annotations

import os

import pytest

from weightlifting_wod_etl_spark.io import read_table
from weightlifting_wod_etl_spark.operators.compact import compact_parquet
from weightlifting_wod_etl_spark.operators.versioned import (
    begin_commit,
    current_version,
    finish_commit,
    resolve,
)
from weightlifting_wod_etl_spark.sinks import kv_upsert_parquet


def _snapshot(spark, path):
    return sorted(map(tuple, read_table(spark, path).collect()))


def test_plain_dir_resolves_to_itself(spark, tmp_path):
    path = str(tmp_path / "plain")
    spark.range(5).write.parquet(path)
    assert resolve(path) == path
    assert current_version(path) == 0
    assert read_table(spark, path).count() == 5


def test_flip_is_atomic_boundary(spark, tmp_path):
    """Immediately before finish_commit: old data; immediately after: new
    data. No state in between exposes a mix."""
    path = str(tmp_path / "t2")
    spark.range(6).write.parquet(path)
    staging, v = begin_commit(path)
    spark.range(100, 103).write.parquet(staging)
    assert {r.id for r in read_table(spark, path).collect()} == set(range(6))
    finish_commit(path, v)
    assert {r.id for r in read_table(spark, path).collect()} == {100, 101, 102}


def test_repeated_commits_gc_old_versions_but_keep_previous(spark, tmp_path):
    path = str(tmp_path / "t3")
    for i in range(4):
        staging, v = begin_commit(path)
        spark.range(i, i + 2).write.parquet(staging)
        finish_commit(path, v)
    assert current_version(path) == 4
    vdirs = sorted(d for d in os.listdir(path) if d.startswith("_v"))
    # current + one prior (an in-flight reader that resolved pre-flip can
    # still finish); everything older is gone
    assert vdirs == ["_v000003", "_v000004"]


def test_kv_upsert_empty_increment_is_noop(spark, tmp_path):
    """ADVICE r6: a zero-row increment against a partitioned table must not
    crash (reduce over an empty predicate list) and must not rewrite."""
    path = str(tmp_path / "kv_empty")
    v1 = spark.createDataFrame(
        [("2021-01-03", "am", 1, "a")], ["date", "session", "version", "payload"]
    )
    kv_upsert_parquet(
        v1, path, key_cols=["date", "session"], order_cols=["version"],
        partition_by=["date"],
    )
    before = _snapshot(spark, path)
    kv_upsert_parquet(
        v1.limit(0), path, key_cols=["date", "session"], order_cols=["version"],
        partition_by=["date"],
    )
    assert _snapshot(spark, path) == before


def test_kv_upsert_null_partition_value_still_merges(spark, tmp_path):
    """ADVICE r6: rows in the null partition must be read by the merge —
    F.col == None is a null predicate; eqNullSafe is required."""
    schema = "date string, session string, version int, payload string"
    path = str(tmp_path / "kv_null")
    v1 = spark.createDataFrame(
        [(None, "am", 1, "old"), ("2021-01-04", "am", 1, "keep")], schema
    )
    kv_upsert_parquet(
        v1, path, key_cols=["date", "session"], order_cols=["version"],
        partition_by=["date"],
    )
    v2 = spark.createDataFrame([(None, "am", 2, "new")], schema)
    kv_upsert_parquet(
        v2, path, key_cols=["date", "session"], order_cols=["version"],
        partition_by=["date"],
    )
    got = {  # partition col type-infers back to DATE on read
        (None if r.date is None else str(r.date), r.session): (r.version, r.payload)
        for r in read_table(spark, path).collect()
    }
    assert got == {
        (None, "am"): (2, "new"),
        ("2021-01-04", "am"): (1, "keep"),
    }


def test_concurrent_live_writer_is_refused_not_clobbered(spark, tmp_path):
    """A second writer at the same base version must fail loudly in
    begin_commit (ADVICE r7: it used to rmtree the first writer's staging
    dir, and the last flip silently dropped the other commit)."""
    from weightlifting_wod_etl_spark.operators.versioned import (
        ConcurrentCommitError,
        _lock_path,
    )

    path = str(tmp_path / "cc")
    spark.range(5).write.parquet(path)
    # simulate writer A: a live FOREIGN process (pid 1 is always alive and
    # never us) holding the version-1 commit lock
    os.makedirs(path, exist_ok=True)
    with open(_lock_path(path, 1), "w") as f:
        f.write("1")
    with pytest.raises(ConcurrentCommitError):
        begin_commit(path)
    os.unlink(_lock_path(path, 1))

    # a DEAD writer's lock is reclaimed, not wedging the table
    with open(_lock_path(path, 1), "w") as f:
        f.write("4000000")  # valid pid number, vanishingly unlikely to run
    staging, v = begin_commit(path)
    assert v == 1
    spark.range(3).write.parquet(staging)
    finish_commit(path, v)
    assert current_version(path) == 1


def test_finish_commit_refuses_lost_update(spark, tmp_path):
    """If another commit landed between begin and finish, the flip must be
    refused — flipping would roll the table back over the other writer's
    committed version."""
    from weightlifting_wod_etl_spark.operators.versioned import (
        ConcurrentCommitError,
    )

    path = str(tmp_path / "lu")
    staging, v = begin_commit(path)  # base 0 -> staging v1
    spark.range(3).write.parquet(staging)
    # another writer commits v1 underneath us (simulated via the pointer)
    with open(os.path.join(path, "_CURRENT"), "w") as f:
        f.write("_v000001")
    with pytest.raises(ConcurrentCommitError):
        finish_commit(path, v)
    assert current_version(path) == 1  # the other writer's commit survives


def test_first_commit_gc_removes_old_partition_dirs(spark, tmp_path):
    """Migrating a previously-plain PARTITIONED table must GC the old
    partition subdirectories (ADVICE r7: only loose files were removed, so
    a plain read of the root returned stale pre-migration data forever)."""
    path = str(tmp_path / "mig")
    df = spark.createDataFrame(
        [("2021-01-03", 1), ("2021-01-04", 2)], ["date", "x"]
    )
    df.write.partitionBy("date").parquet(path)
    assert os.path.isdir(os.path.join(path, "date=2021-01-03"))

    staging, v = begin_commit(path)
    spark.range(7).write.parquet(staging)
    finish_commit(path, v)
    leftovers = [e for e in os.listdir(path) if not e.startswith(("_", "."))]
    assert leftovers == []  # old version-0 partition dirs are gone
    assert {r.id for r in read_table(spark, path).collect()} == set(range(7))


def test_time_travel_reads_retained_snapshot(spark, tmp_path):
    """Committed versions are immutable → an old version is a consistent
    as-of view (Delta versionAsOf contract); GC'd versions fail loudly."""
    from weightlifting_wod_etl_spark.operators.versioned import (
        list_versions,
        version_dir,
    )

    path = str(tmp_path / "tt")
    contents = {}
    for v in (1, 2, 3):
        staging, ver = begin_commit(path)
        spark.range(v * 10, v * 10 + v).write.parquet(staging)
        finish_commit(path, ver)
        contents[v] = set(range(v * 10, v * 10 + v))

    assert list_versions(path) == [2, 3]  # keep_versions=1 GC'd v1
    assert {r.id for r in read_table(spark, path).collect()} == contents[3]
    assert {r.id for r in read_table(spark, path, version=2).collect()} == contents[2]
    with pytest.raises(FileNotFoundError):
        version_dir(path, 1)  # GC'd
    with pytest.raises(FileNotFoundError):
        read_table(spark, path, version=9)  # never committed


def test_kv_upsert_schema_evolution_adds_column(spark, tmp_path):
    """An increment carrying a NEW column merges without rewriting history:
    old rows read back with NULL in the added column (unionByName
    allowMissingColumns — the parquet-level schema-evolution contract)."""
    path = str(tmp_path / "kv_evolve")
    v1 = spark.createDataFrame([("a", 1, "x")], ["k", "version", "payload"])
    kv_upsert_parquet(v1, path, key_cols=["k"], order_cols=["version"])
    v2 = spark.createDataFrame(
        [("b", 1, "y", "extra")], ["k", "version", "payload", "note"]
    )
    kv_upsert_parquet(v2, path, key_cols=["k"], order_cols=["version"])
    got = {r.k: (r.payload, r.note) for r in read_table(spark, path).collect()}
    assert got == {"a": ("x", None), "b": ("y", "extra")}


def test_kv_upsert_stats_cols_commits_index_with_data(spark, tmp_path):
    from weightlifting_wod_etl_spark.operators.skipping import load_stats_index

    path = str(tmp_path / "kv_stats")
    df = spark.range(1000).selectExpr("id AS k", "1 AS version", "id * 2 AS v")
    kv_upsert_parquet(
        df, path, key_cols=["k"], order_cols=["version"], stats_cols=["k"]
    )
    idx = load_stats_index(resolve(path))
    assert idx is not None and all("k_min" in e for e in idx)


def test_table_history_lists_retained_snapshots(spark, tmp_path):
    from weightlifting_wod_etl_spark.operators.versioned import table_history

    path = str(tmp_path / "hist")
    for i in (1, 2, 3):
        staging, v = begin_commit(path)
        spark.range(i * 10).coalesce(i).write.parquet(staging)
        finish_commit(path, v)
    h = table_history(path)
    assert [e["version"] for e in h] == [2, 3]  # v1 GC'd
    assert [e["is_current"] for e in h] == [False, True]
    assert h[1]["n_files"] == 3 and h[1]["bytes"] > 0


def test_partitioned_upsert_carries_untouched_partitions_by_link(spark, tmp_path):
    """Untouched partitions must move into the new version as hard links
    (same inode — no data bytes copied), and only the affected partition's
    files may be new."""
    schema = "date string, session string, version int, payload string"
    path = str(tmp_path / "kvc")
    v1 = spark.createDataFrame(
        [("2021-01-0%d" % d, "am", 1, "p%d" % d) for d in (3, 4, 5)], schema
    )
    kv_upsert_parquet(
        v1, path, key_cols=["date", "session"], order_cols=["version"],
        partition_by=["date"],
    )
    old_dir = resolve(path)
    old_inodes = {
        os.path.relpath(os.path.join(r, f), old_dir): os.stat(
            os.path.join(r, f)
        ).st_ino
        for r, ds, fs in os.walk(old_dir)
        for f in fs
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    }
    v2 = spark.createDataFrame([("2021-01-04", "am", 2, "NEW")], schema)
    kv_upsert_parquet(
        v2, path, key_cols=["date", "session"], order_cols=["version"],
        partition_by=["date"],
    )
    new_dir = resolve(path)
    assert new_dir != old_dir
    carried = 0
    for r, ds, fs in os.walk(new_dir):
        for f in fs:
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            rel = os.path.relpath(os.path.join(r, f), new_dir)
            if rel in old_inodes:
                assert os.stat(os.path.join(r, f)).st_ino == old_inodes[rel]
                carried += 1
                assert not rel.startswith("date=2021-01-04")
    assert carried >= 2  # both untouched partitions came over by reference
    got = {str(r.date): (r.version, r.payload) for r in read_table(spark, path).collect()}
    assert got == {
        "2021-01-03": (1, "p3"),
        "2021-01-04": (2, "NEW"),
        "2021-01-05": (1, "p5"),
    }


def test_partitioned_upsert_refreshes_stats_index(spark, tmp_path):
    """read_pruned after a partitioned upsert must see the new rows — the
    index is refreshed incrementally and published with the same flip."""
    from weightlifting_wod_etl_spark.io import read_pruned
    from weightlifting_wod_etl_spark.operators.skipping import load_stats_index

    schema = "day int, k int, version int, v string"
    path = str(tmp_path / "kvi")
    v1 = spark.createDataFrame(
        [(d, d * 10, 1, "old") for d in (1, 2, 3)], schema
    )
    kv_upsert_parquet(
        v1, path, key_cols=["day", "k"], order_cols=["version"],
        partition_by=["day"], stats_cols=["k"],
    )
    v2 = spark.createDataFrame([(2, 20, 2, "new"), (2, 21, 1, "ins")], schema)
    kv_upsert_parquet(
        v2, path, key_cols=["day", "k"], order_cols=["version"],
        partition_by=["day"], stats_cols=["k"],
    )
    idx = load_stats_index(resolve(path))
    assert idx is not None
    listed = {e["file"] for e in idx}
    from weightlifting_wod_etl_spark.operators.skipping import list_data_files

    assert listed == set(list_data_files(resolve(path)))  # no stale entries
    got = sorted(
        (r.k, r.v) for r in read_pruned(spark, path, "k", 20, 21).collect()
        if 20 <= r.k <= 21
    )
    assert got == [(20, "new"), (21, "ins")]


def test_empty_lock_file_is_stale_after_grace_not_a_wedge(spark, tmp_path):
    """ADVICE r8 (medium): an empty lock used to parse as owner=0 and
    os.kill(0, 0) made pid 0 'live' forever — permanently wedging the
    table. owner<=0 must read as stale once past the fresh-write grace."""
    import time as _time

    from weightlifting_wod_etl_spark.operators.versioned import (
        ConcurrentCommitError,
        _lock_path,
    )

    path = str(tmp_path / "wedge")
    spark.range(3).write.parquet(path)
    lock = _lock_path(path, 1)
    open(lock, "w").close()  # contentless: crashed writer's partial acquire

    # within the grace window it is refused (may be a mid-acquire foreign
    # writer), but loudly — not silently reclaimed
    with pytest.raises(ConcurrentCommitError):
        begin_commit(path)

    past = _time.time() - 60
    os.utime(lock, (past, past))
    staging, v = begin_commit(path)  # stale → reclaimed, not wedged
    spark.range(4).write.parquet(staging)
    finish_commit(path, v)
    assert current_version(path) == 1


def test_abort_commit_releases_lock_and_staging(spark, tmp_path):
    """ADVICE r8: a live process whose staging write failed held the lock
    forever (no release path). abort_commit frees the slot for anyone."""
    from weightlifting_wod_etl_spark.operators.versioned import abort_commit

    path = str(tmp_path / "abort")
    spark.range(3).write.parquet(path)
    staging, v = begin_commit(path)
    abort_commit(path, v)
    assert not os.path.exists(staging)
    staging2, v2 = begin_commit(path)  # no ConcurrentCommitError
    assert (staging2, v2) == (staging, v)
    spark.range(5).write.parquet(staging2)
    finish_commit(path, v2)
    assert read_table(spark, path).count() == 5


def test_first_commit_gc_spares_unrelated_directories(spark, tmp_path):
    """ADVICE r8: first-commit GC rmtree'd ANY non-underscore dir at the
    root. An unrelated co-located dir (a backup, an export) must survive;
    only recognizable table data (partition dirs / parquet) is GC'd."""
    path = str(tmp_path / "gcx")
    df = spark.createDataFrame([("2021-01-03", 1)], ["date", "x"])
    df.write.partitionBy("date").parquet(path)
    backup = os.path.join(path, "backup")
    os.makedirs(backup)
    with open(os.path.join(backup, "notes.txt"), "w") as f:
        f.write("precious")

    staging, v = begin_commit(path)
    spark.range(2).write.parquet(staging)
    finish_commit(path, v)
    assert os.path.isdir(backup)  # spared: not table data
    assert not os.path.isdir(os.path.join(path, "date=2021-01-03"))  # GC'd
    assert read_table(spark, path).count() == 2


def test_corrupt_lock_content_is_stale_after_grace_not_a_spin(spark, tmp_path):
    """ADVICE r9 (medium): non-numeric lock content raised ValueError in
    the owner parse, which the old except treated as 'vanished mid-race'
    and retried the create — FileExistsError, forever, with no sleep.
    Corrupt content must parse as owner 0: fresh → loud
    ConcurrentCommitError (grace window), old → reclaimed."""
    import signal
    import time as _time

    from weightlifting_wod_etl_spark.operators.versioned import (
        ConcurrentCommitError,
        _lock_path,
    )

    path = str(tmp_path / "corrupt")
    spark.range(3).write.parquet(path)
    lock = _lock_path(path, 1)
    with open(lock, "w") as f:
        f.write("garbage-not-a-pid\n")

    # fail loudly rather than hang if the busy-spin regresses
    def _boom(signum, frame):
        raise AssertionError("begin_commit busy-spun on a corrupt lock")

    old_handler = signal.signal(signal.SIGALRM, _boom)
    signal.alarm(30)
    try:
        with pytest.raises(ConcurrentCommitError):
            begin_commit(path)  # fresh corrupt lock: refused, not spun

        past = _time.time() - 60
        os.utime(lock, (past, past))
        staging, v = begin_commit(path)  # old corrupt lock: reclaimed
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old_handler)
    spark.range(4).write.parquet(staging)
    finish_commit(path, v)
    assert current_version(path) == 1


def test_abort_commit_after_flip_is_noop(spark, tmp_path):
    """ADVICE r9 (medium): callers run abort_commit on BaseException around
    finish_commit. If the failure lands AFTER the _CURRENT flip (a
    KeyboardInterrupt, an OSError in the GC loop), the _v{version} dir is
    the LIVE table — abort must not rmtree it and leave the pointer
    dangling at a deleted directory."""
    from weightlifting_wod_etl_spark.operators.versioned import abort_commit

    path = str(tmp_path / "lateabort")
    spark.range(3).write.parquet(path)
    staging, v = begin_commit(path)
    spark.range(7).write.parquet(staging)
    finish_commit(path, v)

    abort_commit(path, v)  # failure landed after the flip
    assert current_version(path) == v
    assert os.path.isdir(staging)
    assert read_table(spark, path).count() == 7


def test_abort_commit_after_flip_releases_own_stranded_lock(spark, tmp_path):
    """ADVICE r10 (low): a failure landing BETWEEN finish_commit's
    os.replace and its lock unlink left abort_commit's early return
    stranding this process's own .lock_v{version} forever (never
    consulted again — future versions use new lock names — but litter
    that defeats 'no _lock files at rest' invariant checks). abort must
    still release its OWN lock on the early-return path, while a
    foreign lock is left untouched."""
    from weightlifting_wod_etl_spark.operators.versioned import (
        _lock_path,
        abort_commit,
    )

    path = str(tmp_path / "strandedlock")
    spark.range(3).write.parquet(path)
    staging, v = begin_commit(path)
    spark.range(7).write.parquet(staging)
    finish_commit(path, v)

    # recreate the crash window: pointer already flipped, own lock present
    lock = _lock_path(path, v)
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    abort_commit(path, v)
    assert not os.path.exists(lock)  # own stranded lock released
    assert current_version(path) == v
    assert read_table(spark, path).count() == 7  # live data untouched

    # a FOREIGN lock in the same window is never clobbered
    with open(lock, "w") as f:
        f.write(str(os.getpid() + 1))
    abort_commit(path, v)
    assert os.path.exists(lock)
    os.unlink(lock)


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RACER = r"""
import os, sys, time
sys.path.insert(0, sys.argv[4])
from weightlifting_wod_etl_spark.operators.versioned import (
    ConcurrentCommitError, begin_commit, finish_commit,
)
path, tag, n_losers = sys.argv[1], sys.argv[2], int(sys.argv[3])
go = os.path.join(path, "go")
while not os.path.exists(go):  # start barrier: all racers call together
    time.sleep(0.005)
try:
    staging, v = begin_commit(path)
except ConcurrentCommitError:
    open(os.path.join(path, f"refused_{tag}"), "w").close()
    sys.exit(3)
# winner: hold the lock until every loser has reported refusal, so no
# loser can legitimately start a SEQUENTIAL v2 commit and muddy the count
deadline = time.time() + 30
while time.time() < deadline:
    if sum(f.startswith("refused_") for f in os.listdir(path)) >= n_losers:
        break
    time.sleep(0.01)
os.makedirs(staging, exist_ok=True)
with open(os.path.join(staging, "data.parquet"), "w") as f:
    f.write(tag)
finish_commit(path, v)
open(os.path.join(path, f"won_{tag}"), "w").close()
"""


def test_begin_commit_race_real_processes(tmp_path):
    """EIGHT real processes race begin_commit on one table: exactly one
    must win the version-1 lock; the other seven must get
    ConcurrentCommitError (never a clobbered staging dir or a second
    flip). This is the lock protocol under genuine OS concurrency — the
    in-process tests above only simulate the contender."""
    import subprocess
    import sys as _sys

    path = str(tmp_path / "race")
    os.makedirs(path)
    n = 8
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", _RACER, path, f"p{i}", str(n - 1), _REPO_ROOT]
        )
        for i in range(n)
    ]
    with open(os.path.join(path, "go"), "w"):  # release the barrier
        pass
    rcs = [p.wait(timeout=60) for p in procs]
    assert sorted(rcs) == [0] + [3] * (n - 1), rcs
    entries = os.listdir(path)
    assert sum(e.startswith("won_") for e in entries) == 1
    assert sum(e.startswith("refused_") for e in entries) == n - 1
    assert current_version(path) == 1
    assert not [e for e in entries if e.startswith(".lock_")]  # lock released


def test_sigkilled_writer_lock_reclaimed_by_real_dead_pid(tmp_path):
    """A writer SIGKILLed while holding the commit lock must not wedge the
    table: the next begin_commit sees a REAL dead pid and reclaims."""
    import signal as _signal
    import subprocess
    import sys as _sys
    import time as _time

    path = str(tmp_path / "kill")
    os.makedirs(path)
    holder = subprocess.Popen(
        [
            _sys.executable,
            "-c",
            f"import sys, time; sys.path.insert(0, {_REPO_ROOT!r});"
            "from weightlifting_wod_etl_spark.operators.versioned import begin_commit;"
            f"begin_commit({path!r}); print('HELD', flush=True); time.sleep(60)",
        ],
        stdout=subprocess.PIPE,
    )
    assert holder.stdout.readline().strip() == b"HELD"
    holder.send_signal(_signal.SIGKILL)
    holder.wait(timeout=30)
    _time.sleep(0.1)

    staging, v = begin_commit(path)  # reclaims the dead writer's lock
    assert v == 1
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(staging, "data.parquet"), "w") as f:
        f.write("x")
    finish_commit(path, v)
    assert current_version(path) == 1


def test_begin_commit_base_moved_during_acquire_never_deletes_live_version(
    tmp_path, monkeypatch
):
    """Review r10: writer B computes version=1 while A holds the v1 lock;
    A's finish_commit flips _CURRENT to _v000001 and unlinks the lock; B's
    retry then WINS the (now meaningless) v1 lock. Without the
    post-acquisition base check B would rmtree _v000001 — A's committed
    LIVE data. B must instead release the lock and fail loudly."""
    from weightlifting_wod_etl_spark.operators.versioned import (
        ConcurrentCommitError,
    )

    path = str(tmp_path / "window")
    os.makedirs(path)

    real_link = os.link
    fired = {"n": 0}

    def link_with_interleaved_commit(src, dst, *a, **k):
        if ".lock_v" in dst and fired["n"] == 0:
            fired["n"] = 1
            # simulate writer A completing version 1 in the race window:
            # data dir + pointer flip + lock removal happen "concurrently"
            vdir = os.path.join(path, "_v000001")
            os.makedirs(vdir, exist_ok=True)
            with open(os.path.join(vdir, "data.parquet"), "w") as f:
                f.write("live")
            with open(os.path.join(path, "_CURRENT"), "w") as f:
                f.write("_v000001")
            raise FileExistsError(dst)  # A's lock was present at link time
        return real_link(src, dst, *a, **k)

    monkeypatch.setattr(os, "link", link_with_interleaved_commit)
    with pytest.raises(ConcurrentCommitError, match="committed by another"):
        begin_commit(path)
    monkeypatch.undo()

    # A's committed version survives, B's dead lock is gone, retry works
    assert current_version(path) == 1
    assert os.path.exists(os.path.join(path, "_v000001", "data.parquet"))
    assert not [e for e in os.listdir(path) if e.startswith(".lock_")]
    staging, v = begin_commit(path)
    assert v == 2


def test_migration_commit_gcs_root_success_marker_and_stale_index(
    spark, tmp_path
):
    """Review r12: the `entry == \"_SUCCESS\"` GC branch was dead code
    (underscore entries were filtered one condition earlier), so a
    migrated plain table leaked its pre-versioning _SUCCESS marker and
    root _stats_index.parquet forever."""
    from weightlifting_wod_etl_spark.operators.skipping import save_stats_index

    path = str(tmp_path / "mig")
    spark.createDataFrame(
        [(k, k * 2) for k in range(200)], "k long, v long"
    ).repartition(6).write.parquet(path)
    save_stats_index(path, ["k"])
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert os.path.exists(os.path.join(path, "_stats_index.parquet"))

    # first compaction migrates plain -> versioned layout
    compact_parquet(spark, path, target_file_bytes=10**9)
    assert os.path.exists(os.path.join(path, "_CURRENT"))
    assert not os.path.exists(os.path.join(path, "_SUCCESS"))
    assert not os.path.exists(os.path.join(path, "_stats_index.parquet"))
    # the old files' Hadoop checksum sidecars go with them
    assert not [e for e in os.listdir(path) if e.endswith(".crc")]
