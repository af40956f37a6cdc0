"""Crash-and-retry grid over every versioned committer.

Every committer reaches the commit protocol through
``versioned.commit_version``, so each protocol step has one seam where a
fault can be raised: the staging write, the carry, the skipping-index
refresh, the pointer flip, and the GC of old versions after the flip. A
row is one committer call; its cells are the steps that call reaches,
plus ``death``: a kill -9 during the staging write, where
``abort_commit`` never runs, so the lock and the staging dir (with a torn
part file) stay behind until the next call.

Each cell compares the faulted table with a twin that ran the same call
without faults, and checks:

(a) readers see exactly the previous rows (the new rows when the fault
    came after the flip);
(b) no ``.lock_v*`` and no unpublished ``_v*`` dir is left (for
    ``death``, once the next call has run);
(c) a retry gives the twin's rows and, for a fault before the flip,
    returns the twin's result (merge stats, compact file counts);
(d) replaying the call leaves the rows unchanged;
(e) the live version's persisted index, if any, names exactly its data
    files (``skipping.usable_index``'s rule); its columns, and after the
    retry its file count, are the twin's.
"""

from __future__ import annotations

import os
import shutil
from typing import NamedTuple

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from weightlifting_wod_etl_spark.io import list_data_files, read_table
from weightlifting_wod_etl_spark.operators import skipping, versioned
from weightlifting_wod_etl_spark.operators.compact import compact_parquet
from weightlifting_wod_etl_spark.operators.merge import merge_into
from weightlifting_wod_etl_spark.operators.zorder import zorder_write
from weightlifting_wod_etl_spark.sinks import kv_upsert_parquet
from weightlifting_wod_etl_spark.streaming.cdc_apply import make_cdc_apply


class Fault(RuntimeError):
    pass


KV = {"key_cols": ["k"], "order_cols": ["ver"]}
KV_PART = {
    "key_cols": ["d", "k"], "order_cols": ["ver"], "partition_by": ["d"], "stats_cols": ["k"],
}
MERGE = "k long, v long, tag string"


def _commit_twice(path, df, **kw):
    """The base table: live at version 2, so the next commit GCs version 1."""
    for _ in range(2):
        versioned.commit_version(path, df, **kw)


def _kv_part_rows(spark, rows):
    return spark.createDataFrame(rows, "d string, k string, ver int, payload string")


def _merge_source(spark, keys, tag):
    return spark.createDataFrame([(k, -k, tag) for k in keys] + [(5000, 1, "ins")], MERGE)


def _clustered(spark, path):
    df = spark.range(400).selectExpr("id AS k", "id * 2 AS v", "'old' AS tag")
    _commit_twice(path, df.repartitionByRange(4, "k").sortWithinPartitions("k"), index_cols=["k"])


def _cdc_batch(spark):
    rows = [(1, 100, 1, "U"), (1, 101, 2, "U"), (2, 0, 1, "D"), (60, 6, 1, "I"), (None, 7, 1, "U")]
    return spark.createDataFrame(rows, "k long, v long, seq long, op string")


class Committer(NamedTuple):
    build: object  # (spark, path) -> None: the base table, or nothing for a first commit
    call: object  # (spark, path) -> result: the committer call under test
    steps: tuple


EVERY_STEP = ("stage", "carry", "index", "flip", "gc")
NO_CARRY = ("stage", "index", "flip", "gc")
FIRST = ("stage", "index", "flip")  # nothing to carry, no old version to GC

ROWS = {
    "kv_flat": Committer(
        lambda s, p: _commit_twice(p, s.createDataFrame(
            [(f"k{i}", 1, f"old{i}") for i in range(6)], "k string, ver int, payload string")),
        lambda s, p: kv_upsert_parquet(s.createDataFrame(
            [("k1", 2, "new"), ("k9", 1, "ins")], "k string, ver int, payload string"), p, **KV),
        EVERY_STEP,
    ),
    "kv_partitioned": Committer(
        lambda s, p: _commit_twice(p, _kv_part_rows(s, [
            (f"2021-01-0{d}", f"k{i}", 1, "old") for d in (3, 4, 5) for i in range(2)
        ]), partition_by=["d"], index_cols=["k"]),
        lambda s, p: kv_upsert_parquet(_kv_part_rows(
            s, [("2021-01-04", "k1", 2, "new"), ("2021-01-04", "k7", 1, "ins")]), p, **KV_PART),
        EVERY_STEP,
    ),
    "merge_full_rewrite": Committer(
        _clustered,
        lambda s, p: merge_into(s, p, _merge_source(s, [5, 105, 205, 305], "upd"), ["k"]),
        NO_CARRY,
    ),
    "merge_file_targeted": Committer(
        _clustered,
        lambda s, p: merge_into(s, p, _merge_source(s, range(10, 20), "new"), ["k"]),
        EVERY_STEP,
    ),
    "compact_sorted": Committer(
        lambda s, p: _commit_twice(p, s.range(2000).withColumn("x", F.col("id") % 7).repartition(16)),
        lambda s, p: compact_parquet(s, p, target_file_bytes=10**12, sort_by=["x"]),
        NO_CARRY,
    ),
    "zorder_recluster": Committer(
        lambda s, p: _commit_twice(p, s.range(1000).selectExpr(
            "id % 256 AS a", "id * 7 % 256 AS b").repartition(4), index_cols=["a", "b"]),
        lambda s, p: zorder_write(
            read_table(s, p), p, ["a", "b"], bits=8, num_files=8, data_dir=versioned.resolve(p)),
        NO_CARRY,
    ),
    "cdc_apply_batch": Committer(
        lambda s, p: _commit_twice(p, s.range(50).selectExpr("id AS k", "id AS v")),
        lambda s, p: make_cdc_apply(p, ["k"], "seq")(_cdc_batch(s), 0),
        NO_CARRY,
    ),
    "kv_first_commit": Committer(
        lambda s, p: None,
        lambda s, p: kv_upsert_parquet(_kv_part_rows(s, [("2021-01-04", "k1", 2, "new")]), p, **KV_PART),
        FIRST,
    ),
    "merge_first_commit": Committer(
        lambda s, p: None,
        lambda s, p: merge_into(s, p, _merge_source(s, [1, 2], "new"), ["k"]),
        FIRST,
    ),
}
CELLS = [(row, step) for row, r in ROWS.items() for step in (*r.steps, "death")]


def _state(spark, path):
    """(sorted rows, index columns, data-file count) of the live version;
    asserts (e)."""
    if not versioned.table_exists(path):
        return [], [], 0
    live = versioned.resolve(path)
    cols = skipping.index_cols(skipping.load_stats_index(live) or [])
    assert all(skipping.usable_index(live, c) for c in cols)
    rows = sorted(map(tuple, read_table(spark, path).collect()))
    return rows, cols, len(list_data_files(live))


def _leftovers(path):
    """Locks and unpublished version dirs under ``path``."""
    live = versioned.current_version(path)
    return [
        e for e in os.listdir(path)
        if e.startswith(".lock_v") or ((m := versioned._VDIR.match(e)) and int(m.group(1)) > live)
    ]


def _copy(src, dst):
    if os.path.exists(src):
        shutil.copytree(src, dst)


class Twin(NamedTuple):
    base: str
    before: tuple
    after: tuple
    result: object


@pytest.fixture(scope="module")
def twin(spark, tmp_path_factory):
    """Per row, built once: the base table, and a copy of it that ran the
    call without faults."""
    twins = {}

    def get(row):
        if row not in twins:
            root = tmp_path_factory.mktemp(row)
            base, clean = str(root / "base"), str(root / "clean")
            ROWS[row].build(spark, base)
            _copy(base, clean)
            result = ROWS[row].call(spark, clean)
            if isinstance(result, dict):  # a merge row runs the path it is named for
                assert bool(result["files_carried"]) == ("carry" in ROWS[row].steps)
            twins[row] = Twin(base, _state(spark, base), _state(spark, clean), result)
        return twins[row]

    return get


def _plant(m, step):
    """Make ``step``'s seam raise :class:`Fault`."""

    def fault(*a, **k):
        raise Fault(step)

    if step in ("stage", "death"):
        write = DataFrameWriter.parquet

        def torn_write(self, path, *a, **k):
            write(self, path, *a, **k)
            if versioned._VDIR.match(os.path.basename(path)):
                with open(os.path.join(path, "part-99999-torn.parquet"), "wb") as f:
                    f.write(b"torn")
                fault()

        m.setattr(DataFrameWriter, "parquet", torn_write)
        if step == "death":
            m.setattr(versioned, "abort_commit", lambda *a: None)
    elif step == "carry":
        m.setattr(versioned, "carry_files", fault)
        m.setattr(versioned, "carry_missing_partitions", fault)
    elif step == "index":
        m.setattr(skipping, "refresh_stats_index", fault)
    elif step == "flip":
        m.setattr(versioned, "finish_commit", fault)
    else:
        rmtree = shutil.rmtree

        def gc_fault(path, *a, **k):
            v = versioned._VDIR.match(os.path.basename(path))
            if v and int(v.group(1)) < versioned.current_version(os.path.dirname(path)):
                fault()
            rmtree(path, *a, **k)

        m.setattr(shutil, "rmtree", gc_fault)


@pytest.mark.parametrize("row, step", CELLS, ids=[f"{r}-{s}" for r, s in CELLS])
def test_commit_fault_then_retry_matches_clean_run(spark, twin, tmp_path, monkeypatch, row, step):
    t, after_flip = twin(row), step == "gc"
    path = str(tmp_path / "t")
    _copy(t.base, path)
    with monkeypatch.context() as m:
        _plant(m, step)
        with pytest.raises(Fault):
            ROWS[row].call(spark, path)
    assert _state(spark, path) == (t.after if after_flip else t.before)  # (a), (e)
    assert bool(_leftovers(path)) == (step == "death")  # (b)
    result = ROWS[row].call(spark, path)
    assert not _leftovers(path)  # (b)
    # rows, index columns, file count, result; a replay (the retry after a
    # post-flip fault, or the one below) re-lays files and counts anew
    n = 2 if after_flip else 4
    assert (*_state(spark, path), result)[:n] == (*t.after, t.result)[:n]  # (c), (e)
    ROWS[row].call(spark, path)
    assert _state(spark, path)[:2] == t.after[:2]  # (d), (e)
