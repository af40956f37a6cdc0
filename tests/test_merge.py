"""MERGE INTO semantics over the versioned commit layer: upsert,
op-aware deletes, delete_keys (right-to-be-forgotten), ambiguity
rejection."""

from __future__ import annotations

import pytest

from weightlifting_wod_etl_spark.io import read_table
from weightlifting_wod_etl_spark.operators.merge import delete_keys, merge_into


def _rows(spark, path):
    return {
        r.k: (r.v, r.tag) for r in read_table(spark, path).collect()
    }


def _table(spark, path, data):
    df = spark.createDataFrame(data, "k long, v long, tag string")
    staging_free = path  # first write: plain dir is fine, merge migrates it
    df.write.mode("overwrite").parquet(staging_free)


def test_merge_update_and_insert(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path, [(1, 10, "old"), (2, 20, "old")])
    src = spark.createDataFrame(
        [(2, 99, "new"), (3, 30, "new")], "k long, v long, tag string"
    )
    stats = merge_into(spark, path, src, on=["k"])
    assert stats.items() >= {"matched": 1, "inserted": 1, "deleted": 0}.items()
    assert _rows(spark, path) == {
        1: (10, "old"),
        2: (99, "new"),
        3: (30, "new"),
    }


def test_merge_matched_delete_is_right_to_be_forgotten(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path, [(1, 10, "keep"), (2, 20, "drop"), (3, 30, "keep")])
    keys = spark.createDataFrame([(2,), (7,)], "k long")  # 7 matches nothing
    n = delete_keys(spark, path, keys, on=["k"])
    assert n == 1
    assert set(_rows(spark, path)) == {1, 3}


def test_merge_rejects_ambiguous_source(spark, tmp_path):
    path = str(tmp_path / "t")
    _table(spark, path, [(1, 10, "old")])
    src = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b")], "k long, v long, tag string"
    )
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge_into(spark, path, src, on=["k"])


def test_merge_creates_table_and_update_collapses_dup_target(spark, tmp_path):
    path = str(tmp_path / "fresh")
    src = spark.createDataFrame([(1, 10, "a")], "k long, v long, tag string")
    stats = merge_into(spark, path, src, on=["k"])
    assert stats.items() >= {"matched": 0, "inserted": 1, "deleted": 0}.items()

    # target with two rows for k=1 (pre-merge table was not key-unique):
    # an update collapses them to the single source row
    dup = spark.createDataFrame(
        [(1, 11, "b"), (1, 12, "c")], "k long, v long, tag string"
    )
    dup.unionByName(read_table(spark, path)).write.mode("overwrite").parquet(
        str(tmp_path / "dup_src")
    )  # build a fresh non-unique table
    path2 = str(tmp_path / "t2")
    spark.read.parquet(str(tmp_path / "dup_src")).write.parquet(path2)
    upd = spark.createDataFrame([(1, 99, "z")], "k long, v long, tag string")
    stats = merge_into(spark, path2, upd, on=["k"])
    assert stats["matched"] == 3  # all three k=1 target rows consumed
    assert _rows(spark, path2) == {1: (99, "z")}


def _clustered_table(spark, path, n_files=4, rows_per=100):
    """Key-disjoint files (range-clustered on k) + a persisted stats index
    — the layout a compacted/Z-ordered 100 TB table would have."""
    from weightlifting_wod_etl_spark.operators.skipping import save_stats_index

    df = spark.range(n_files * rows_per).selectExpr(
        "id AS k", "id * 2 AS v", "'old' AS tag"
    )
    (
        df.repartitionByRange(n_files, "k")
        .sortWithinPartitions("k")
        .write.mode("overwrite")
        .parquet(path)
    )
    save_stats_index(path, ["k"])


def test_merge_file_targeted_rewrites_only_intersecting_files(spark, tmp_path):
    """VERDICT r8 #3: an upsert whose keys land in 1 of N key-disjoint
    files must rewrite ~1 file and carry the rest by reference, with the
    result identical to a full rewrite."""
    import os

    from weightlifting_wod_etl_spark.operators.skipping import (
        list_data_files,
        load_stats_index,
    )
    from weightlifting_wod_etl_spark.operators.versioned import resolve

    path = str(tmp_path / "clustered")
    _clustered_table(spark, path, n_files=4, rows_per=100)
    old_files = {os.path.basename(f) for f in list_data_files(path)}
    assert len(old_files) == 4

    # keys 10..19 live in the first range file only
    src = spark.createDataFrame(
        [(k, 9999, "new") for k in range(10, 20)], "k long, v long, tag string"
    )
    stats = merge_into(spark, path, src, on=["k"])
    assert stats["matched"] == 10 and stats["inserted"] == 0
    assert stats["files_carried"] == 3  # 3 of 4 came over by reference
    assert stats["files_rewritten"] <= 2  # ~1 file's rows rewritten

    new_dir = resolve(path)
    # carried files share names (and bytes) with the old layout
    carried = old_files & {os.path.basename(f) for f in list_data_files(new_dir)}
    assert len(carried) == 3

    # index refreshed with the data: entries exactly match the new files
    idx = load_stats_index(new_dir)
    assert idx is not None
    assert {e["file"] for e in idx} == set(list_data_files(new_dir))

    got = _rows(spark, path)
    assert len(got) == 400
    for k in range(10, 20):
        assert got[k] == (9999, "new")
    assert got[250] == (500, "old")


def test_merge_file_targeted_matches_full_rewrite(spark, tmp_path):
    """Same merge with and without the index must produce identical rows
    — pruning is an optimization, never a semantics change."""
    import os

    patha = str(tmp_path / "with_idx")
    pathb = str(tmp_path / "no_idx")
    _clustered_table(spark, patha, n_files=4, rows_per=50)
    _clustered_table(spark, pathb, n_files=4, rows_per=50)
    os.remove(os.path.join(pathb, "_stats_index.parquet"))

    src = spark.createDataFrame(
        [(5, -1, "u"), (120, -2, "u"), (999, -3, "i")],
        "k long, v long, tag string",
    )
    sa = merge_into(spark, patha, src, on=["k"])
    sb = merge_into(spark, pathb, src, on=["k"])
    assert sa["matched"] == sb["matched"] == 2
    assert sa["inserted"] == sb["inserted"] == 1
    assert sa["files_carried"] > 0 and sb["files_carried"] == 0
    assert _rows(spark, patha) == _rows(spark, pathb)


def test_merge_delete_file_targeted(spark, tmp_path):
    """Right-to-be-forgotten on a clustered table: only files that can
    hold the doomed keys rewrite."""
    path = str(tmp_path / "rtbf")
    _clustered_table(spark, path, n_files=4, rows_per=50)
    keys = spark.createDataFrame([(0,), (1,)], "k long")
    n = delete_keys(spark, path, keys, on=["k"])
    assert n == 2
    got = _rows(spark, path)
    assert len(got) == 198 and 0 not in got and 1 not in got


def test_merge_bookkeeping_is_single_action(spark, tmp_path, monkeypatch):
    """VERDICT r8 #4: dup-guard + matched/src-matched/total counts must
    come from ONE keyed aggregation, not one driver action per statistic
    (the old shape ran 4: dup limit-count, two semi-join counts,
    source.count). Raw Spark job count is not the right probe — AQE splits
    one action into a job per query stage and every broadcast exchange
    runs as its own job — so count driver-initiated actions directly."""
    import pyspark.sql.classic.dataframe as df_mod

    path = str(tmp_path / "actions")
    _table(spark, path, [(1, 10, "old"), (2, 20, "old")])
    src = spark.createDataFrame([(2, 99, "new")], "k long, v long, tag string")

    actions = []
    orig_collect, orig_count = df_mod.DataFrame.collect, df_mod.DataFrame.count
    monkeypatch.setattr(
        df_mod.DataFrame,
        "collect",
        lambda self: actions.append("collect") or orig_collect(self),
    )
    monkeypatch.setattr(
        df_mod.DataFrame,
        "count",
        lambda self: actions.append("count") or orig_count(self),
    )
    stats = merge_into(spark, path, src, on=["k"])
    assert stats["matched"] == 1 and stats["inserted"] == 0
    # 1 bookkeeping action (the single agg collect); the only other Spark
    # action in merge_into is the staging write itself
    assert actions == ["collect"], f"extra bookkeeping actions: {actions}"


def test_merge_full_rewrite_keeps_stats_index(spark, tmp_path):
    """ADVICE r9 (low): a merge that takes the full-rewrite path over a
    previously indexed table used to publish a version with NO index —
    every later merge silently degraded to full rewrites forever. The
    refresh must run unconditionally when the table was indexed."""
    from weightlifting_wod_etl_spark.operators.skipping import (
        list_data_files,
        load_stats_index,
    )
    from weightlifting_wod_etl_spark.operators.versioned import resolve

    path = str(tmp_path / "fullrw")
    _clustered_table(spark, path, n_files=4, rows_per=50)

    # source spans every file's key range → all files are candidates →
    # full rewrite
    src = spark.createDataFrame(
        [(k, -k, "new") for k in (0, 60, 110, 160)], "k long, v long, tag string"
    )
    stats = merge_into(spark, path, src, on=["k"])
    assert stats["files_carried"] == 0  # full-rewrite path taken

    new_dir = resolve(path)
    idx = load_stats_index(new_dir)
    assert idx is not None, "full rewrite dropped the stats index"
    assert {e["file"] for e in idx} == set(list_data_files(new_dir))

    # and the NEXT narrow merge is file-targeted again (no perf cliff)
    src2 = spark.createDataFrame([(5, 1, "x")], "k long, v long, tag string")
    stats2 = merge_into(spark, path, src2, on=["k"])
    assert stats2["files_carried"] > 0


def test_merge_incomplete_index_falls_back_to_full_rewrite(spark, tmp_path):
    """ADVICE r9 (low): a data file present on disk but missing from the
    index was neither carried nor a candidate — its rows silently vanished
    from the new version. An incomplete index must force a full rewrite,
    and so must a stale one naming a file the disk lacks (it would be read
    or carried and fail)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from weightlifting_wod_etl_spark.operators.skipping import _INDEX_NAME
    from weightlifting_wod_etl_spark.operators.versioned import resolve

    path = str(tmp_path / "incomplete")
    _clustered_table(spark, path, n_files=4, rows_per=50)

    # corrupt the index: drop one file's entry
    idx_path = os.path.join(path, _INDEX_NAME)
    tbl = pq.read_table(idx_path)
    pq.write_table(tbl.slice(0, tbl.num_rows - 1), idx_path)

    src = spark.createDataFrame([(5, 9999, "new")], "k long, v long, tag string")
    stats = merge_into(spark, path, src, on=["k"])
    assert stats["files_carried"] == 0  # fell back to full rewrite
    got = _rows(spark, path)
    assert len(got) == 200  # no rows vanished
    assert got[5] == (9999, "new")

    # stale: one more entry, for a file that is not on disk
    idx_path = os.path.join(resolve(path), _INDEX_NAME)
    entries = pq.read_table(idx_path).to_pylist()
    pq.write_table(
        pa.Table.from_pylist(entries + [{**entries[-1], "file": "ghost.parquet"}]),
        idx_path,
    )
    src = spark.createDataFrame([(6, 6666, "new")], "k long, v long, tag string")
    assert merge_into(spark, path, src, on=["k"])["files_carried"] == 0
    got = _rows(spark, path)
    assert len(got) == 200 and got[6] == (6666, "new")


def test_merge_prune_sees_same_snapshot_as_write(spark, tmp_path):
    """ADVICE r9 (medium): the prune collect ran on the raw source and the
    localCheckpoint happened after — a source that is non-deterministic
    under recomputation could produce a key at write time whose file the
    prune had carried, silently duplicating/losing that row. The source is
    now checkpointed BEFORE the prune, so both phases see one snapshot."""
    import os

    import pandas as pd

    path = str(tmp_path / "snapshot")
    _clustered_table(spark, path, n_files=4, rows_per=50)

    # a source whose lineage yields DIFFERENT keys on each evaluation:
    # first evaluation hits only file 0 (k=5), later ones hit file 3
    # (k=190). Without the early checkpoint the prune would carry file 3
    # and the write would try to update a key inside a carried file.
    counter_file = str(tmp_path / "evals")

    def unstable(batches):
        with open(counter_file, "a") as f:
            f.write("x")
        n = os.path.getsize(counter_file)
        k = 5 if n <= 1 else 190
        for _ in batches:
            pass
        yield pd.DataFrame({"k": [k], "v": [9999], "tag": ["new"]})

    src = (
        spark.range(1)
        .repartition(1)
        .mapInPandas(unstable, "k long, v long, tag string")
    )
    stats = merge_into(spark, path, src, on=["k"])
    assert stats["matched"] == 1
    got = _rows(spark, path)
    assert len(got) == 200  # one snapshot: no duplicate, no lost update
    assert got[5] == (9999, "new")
    assert got[190] == (380, "old")


def test_merge_refuses_commit_when_base_moved_before_lock(spark, tmp_path):
    """Review r10: reads resolved BEFORE begin_commit; if another writer
    commits in that window, both old guards pass and the other commit is
    silently discarded. The commit's read-base check must refuse instead."""
    from weightlifting_wod_etl_spark.operators import merge as merge_mod
    from weightlifting_wod_etl_spark.operators import versioned
    from weightlifting_wod_etl_spark.operators.versioned import (
        ConcurrentCommitError,
    )

    path = str(tmp_path / "window")
    _table(spark, path, [(1, 10, "old")])

    real_begin = versioned.begin_commit
    fired = {"n": 0}

    def begin_after_other_writer(p):
        if fired["n"] == 0:
            fired["n"] = 1
            # another writer commits version 1 in the resolve→begin window
            other = spark.createDataFrame(
                [(2, 20, "other")], "k long, v long, tag string"
            )
            merge_mod.merge_into(spark, p, other, on=["k"])
        return real_begin(p)

    versioned.begin_commit = begin_after_other_writer
    try:
        src = spark.createDataFrame([(3, 30, "c")], "k long, v long, tag string")
        with pytest.raises(ConcurrentCommitError, match="between resolve"):
            merge_into(spark, path, src, on=["k"])
    finally:
        versioned.begin_commit = real_begin

    # the other writer's commit survives, the lock is released, retry works
    assert _rows(spark, path) == {1: (10, "old"), 2: (20, "other")}
    src = spark.createDataFrame([(3, 30, "c")], "k long, v long, tag string")
    assert merge_into(spark, path, src, on=["k"])["inserted"] == 1


def test_merge_partitioned_indexed_table_keeps_partition_values_and_layout(
    spark, tmp_path
):
    """Review r12: the file-targeted candidate read lacked basePath, so
    Hive partition columns came back NULL for every rewritten AND carried-
    through row (silent corruption), and the rewrite wrote flat files next
    to carried date=*/ subtrees (a layout Spark's discovery rejects). The
    full-rewrite path additionally flattened the layout entirely."""
    import os

    from weightlifting_wod_etl_spark.operators.merge import merge_into
    from weightlifting_wod_etl_spark.operators.versioned import resolve
    from weightlifting_wod_etl_spark.sinks import kv_upsert_parquet

    path = str(tmp_path / "ptbl")
    base = spark.createDataFrame(
        [(k, f"d{k % 3}", k * 10) for k in range(30)], "k long, date string, v long"
    )
    kv_upsert_parquet(
        base, path, key_cols=["k", "date"], order_cols=["v"],
        partition_by=["date"], stats_cols=["k"],
    )

    src = spark.createDataFrame([(5, "d2", -5), (31, "d1", -31)],
                                "k long, date string, v long")
    stats = merge_into(spark, path, src, on=["k", "date"])
    assert stats["matched"] == 1 and stats["inserted"] == 1

    out = spark.read.parquet(resolve(path))
    # no partition value may be NULL — the basePath regression nulled all
    assert out.filter("date IS NULL").count() == 0
    rows = {(r.k, r.date): r.v for r in out.collect()}
    assert rows[(5, "d2")] == -5 and rows[(31, "d1")] == -31
    assert rows[(6, "d0")] == 60  # carried/kept row intact
    # Hive layout survived: every data file sits under a date=*/ dir
    data_dir = resolve(path)
    from weightlifting_wod_etl_spark.operators.skipping import list_data_files

    assert all(
        "date=" in os.path.relpath(f, data_dir) for f in list_data_files(data_dir)
    )


def test_merge_update_reports_dup_target_collapse(spark, tmp_path):
    """Review r12: duplicate-keyed TARGET rows were silently collapsed by
    an update merge (keyed-table LWW semantics) with no trace in the
    stats; the collapse count must be reported."""
    from weightlifting_wod_etl_spark.operators.merge import merge_into

    path = str(tmp_path / "dupt")
    spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "x")], "k long, v string"
    ).write.parquet(path)
    src = spark.createDataFrame([(1, "NEW")], "k long, v string")
    stats = merge_into(spark, path, src, on=["k"])
    assert stats["matched"] == 3
    assert stats["dup_target_rows_collapsed"] == 2
    from weightlifting_wod_etl_spark.operators.versioned import resolve

    got = {(r.k, r.v) for r in spark.read.parquet(resolve(path)).collect()}
    assert got == {(1, "NEW"), (2, "x")}


def test_merge_partitioned_table_carries_null_partition_value(spark, tmp_path):
    """Review r13 (VERDICT r12 #6 candidate): a NULL partition value lands
    in Hive's __HIVE_DEFAULT_PARTITION__ dir; the partition-major
    re-cluster must order by it (NULL sort key), the file-targeted
    candidate read must surface it as NULL (not the literal dir string),
    and a merge touching OTHER partitions must carry the row intact."""
    import os

    from weightlifting_wod_etl_spark.operators.merge import merge_into
    from weightlifting_wod_etl_spark.operators.versioned import resolve
    from weightlifting_wod_etl_spark.sinks import kv_upsert_parquet

    path = str(tmp_path / "nullpart")
    base = spark.createDataFrame(
        [(1, "d1", 10), (2, "d2", 20), (3, None, 30)],
        "k long, date string, v long",
    )
    kv_upsert_parquet(
        base, path, key_cols=["k"], order_cols=["v"],
        partition_by=["date"], stats_cols=["k"],
    )

    src = spark.createDataFrame([(1, "d1", -1), (4, "d2", 40)],
                                "k long, date string, v long")
    stats = merge_into(spark, path, src, on=["k"])
    assert stats["matched"] == 1 and stats["inserted"] == 1

    out = spark.read.parquet(resolve(path))
    rows = {r.k: (r.date, r.v) for r in out.collect()}
    assert rows[3] == (None, 30)  # NULL-partition row carried intact
    assert rows[1] == ("d1", -1) and rows[4] == ("d2", 40)
    # the NULL partition row still lives under the Hive default-partition
    # dir (layout preserved), and no OTHER row leaked into it
    from weightlifting_wod_etl_spark.operators.skipping import list_data_files

    data_dir = resolve(path)
    null_files = [
        f for f in list_data_files(data_dir)
        if "__HIVE_DEFAULT_PARTITION__" in os.path.relpath(f, data_dir)
    ]
    assert null_files, "NULL partition row lost its Hive default dir"


def test_op_aware_single_merge_equals_sequential_delete_then_upsert(
    spark, tmp_path
):
    """r18 optimization round: cdc_apply now applies a collapsed batch's
    deletes and upserts through ONE merge_into call (the ``deletes``
    param) instead of a delete-merge followed by an upsert-merge. The
    two forms must produce identical tables, and the single form must
    report the same matched/inserted/deleted totals the two sequential
    calls reported between them."""
    from weightlifting_wod_etl_spark.operators.merge import merge_into
    from weightlifting_wod_etl_spark.operators.versioned import resolve

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, v string"
    )
    upserts = spark.createDataFrame(
        [(1, "a2"), (5, "e")], "k long, v string"  # update k=1, insert k=5
    )
    deletes = spark.createDataFrame([(2,), (9,)], "k long")  # 9 absent

    single = str(tmp_path / "single")
    base.write.parquet(single)
    stats = merge_into(spark, single, upserts, on=["k"], deletes=deletes)

    seq = str(tmp_path / "seq")
    base.write.parquet(seq)
    n_del = delete_keys(spark, seq, deletes, on=["k"])
    s_ups = merge_into(spark, seq, upserts, on=["k"])

    got_single = sorted(
        (r.k, r.v) for r in spark.read.parquet(resolve(single)).collect()
    )
    got_seq = sorted(
        (r.k, r.v) for r in spark.read.parquet(resolve(seq)).collect()
    )
    assert got_single == got_seq == [(1, "a2"), (3, "c"), (4, "d"), (5, "e")]
    assert stats["deleted"] == n_del == 1
    assert stats["matched"] == s_ups["matched"] == 1
    assert stats["inserted"] == s_ups["inserted"] == 1


def test_op_aware_merge_rejects_key_in_both_sides(spark, tmp_path):
    """A key that is both deleted and upserted in one merge is the same
    multi-match ambiguity Delta rejects — the dup guard must cover the
    union of the two key sets, not each side alone."""
    import pytest

    from weightlifting_wod_etl_spark.operators.merge import merge_into

    path = str(tmp_path / "dupboth")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(path)
    ups = spark.createDataFrame([(1, "a2")], "k long, v string")
    dels = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge_into(spark, path, ups, on=["k"], deletes=dels)


def test_op_aware_merge_prunes_files_for_delete_only_keys(spark, tmp_path):
    """File-targeted soundness for the op-aware form: a file whose key
    interval holds ONLY a delete key must still be rewritten (pruning on
    the upsert side alone would carry it and resurrect the row)."""
    from weightlifting_wod_etl_spark.operators.merge import merge_into
    from weightlifting_wod_etl_spark.operators.versioned import resolve
    from weightlifting_wod_etl_spark.sinks import kv_upsert_parquet

    path = str(tmp_path / "prunedel")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 9)], "k long, v string"
    ).repartition(4, "k")
    kv_upsert_parquet(
        base, path, key_cols=["k"], order_cols=["v"], stats_cols=["k"]
    )
    ups = spark.createDataFrame([(1, "v1b")], "k long, v string")
    dels = spark.createDataFrame([(7,)], "k long")
    merge_into(spark, path, ups, on=["k"], deletes=dels)
    rows = {r.k: r.v for r in spark.read.parquet(resolve(path)).collect()}
    assert 7 not in rows and rows[1] == "v1b" and len(rows) == 7


def test_merge_total_noop_skips_commit_but_delete_miss_still_commits(
    spark, tmp_path
):
    """r19 optimization round: the empty-batch guard moved from
    cdc_apply's raw-batch inference INTO merge_into — a merge with no
    source rows and no delete keys is a TOTAL no-op (out == target
    exactly) and must not mint a version, on an existing
    table or a fresh path. A delete of an ABSENT key is NOT a no-op by
    this rule (n_del_keys > 0): it commits a version exactly as before
    the change, pinning that the skip fires only on collapsed-empty
    input, never on merely-ineffective input."""
    from weightlifting_wod_etl_spark.operators.versioned import (
        current_version,
        table_exists,
    )

    empty_src = spark.createDataFrame([], "k long, v long, tag string")
    empty_del = spark.createDataFrame([], "k long")

    fresh = str(tmp_path / "noop_fresh")
    stats = merge_into(spark, fresh, empty_src, on=["k"], deletes=empty_del)
    assert stats == {
        "matched": 0,
        "inserted": 0,
        "deleted": 0,
        "dup_target_rows_collapsed": 0,
        "files_rewritten": 0,
        "files_carried": 0,
    }
    assert not table_exists(fresh), "no-op merge minted a fresh table"

    path = str(tmp_path / "noop_existing")
    _table(spark, path, [(1, 10, "old")])
    merge_into(
        spark,
        path,
        spark.createDataFrame([(2, 20, "new")], "k long, v long, tag string"),
        on=["k"],
    )
    v_before = current_version(path)
    assert merge_into(spark, path, empty_src, on=["k"])["inserted"] == 0
    assert current_version(path) == v_before, "no-op merge minted a version"

    # delete key matching nothing: NOT a no-op — commits, deletes nothing
    miss_del = spark.createDataFrame([(99,)], "k long")
    stats = merge_into(spark, path, empty_src, on=["k"], deletes=miss_del)
    assert stats["deleted"] == 0 and stats["matched"] == 0
    assert current_version(path) == v_before + 1
    assert _rows(spark, path) == {1: (10, "old"), 2: (20, "new")}


def _brute_merge(target, source, deletes):
    """Row-by-row MERGE under SQL key equality, where a NULL key matches
    nothing: the recount both the returned stats and the committed rows
    must equal. Rows are (k, ...) tuples keyed on k."""
    def hit(k, keys):
        return k is not None and k in keys

    src_keys = {r[0] for r in source}
    tgt_keys = {r[0] for r in target}
    matched = [r for r in target if hit(r[0], src_keys)]
    src_matched = [r for r in source if hit(r[0], tgt_keys)]
    keep = [r for r in target if not hit(r[0], src_keys | set(deletes))]
    stats = {
        "matched": len(matched),
        "inserted": len(source) - len(src_matched),
        "deleted": sum(hit(r[0], set(deletes)) for r in target),
        "dup_target_rows_collapsed": len(matched) - len(src_matched),
    }
    return stats, sorted(keep + list(source), key=repr)


@pytest.mark.parametrize(
    "source, deletes",
    [
        ([(None, 99, "s"), (2, 21, "s")], None),
        ([(None, 98, "s"), (None, 99, "t"), (2, 21, "s")], None),
        ([], [None, 1]),
        (None, [None, 2]),  # source None: through delete_keys()
        ([(3, 30, "s")], [None]),
        ([(None, 5, "s"), (2, 21, "s")], [None]),
    ],
    ids=[
        "upsert", "two_null_key_sources", "matched_delete", "delete_keys",
        "op_aware_delete", "null_source_and_null_delete",
    ],
)
def test_merge_stats_with_null_key_target_rows_match_brute_force(
    spark, tmp_path, source, deletes
):
    """ADVICE r19: the key-stats union groupBy put NULL source keys in
    the same group as NULL target keys, so a NULL-key row merged into a
    table already holding NULL-key rows reported them as matched — while
    the null-unsafe key joins inserted it as a new row and left the
    target rows in place. matched/inserted/deleted, delete_keys() and
    dup_target_rows_collapsed were all inflated."""
    target = [(None, 1, "n1"), (None, 2, "n2"), (1, 10, "a"), (2, 20, "b")]
    path = str(tmp_path / "t")
    _table(spark, path, target)
    dels = (
        None
        if deletes is None
        else spark.createDataFrame([(k,) for k in deletes], "k long")
    )
    if source is None:
        stats = {"deleted": delete_keys(spark, path, dels, on=["k"])}
        source = []
    else:
        src = spark.createDataFrame(source, "k long, v long, tag string")
        stats = merge_into(spark, path, src, on=["k"], deletes=dels)
    want_stats, want_rows = _brute_merge(target, source, deletes or [])
    shared = stats.keys() & want_stats.keys()
    assert {k: stats[k] for k in shared} == {k: want_stats[k] for k in shared}
    got = sorted(map(tuple, read_table(spark, path).collect()), key=repr)
    assert got == want_rows


def test_rewrite_reads_declare_schema_job_counts(spark, tmp_path):
    """merge_into on an existing table and a sorted compact_parquet read
    the committed table with a declared schema, so neither starts a
    schema-inference job: 7 jobs per merge and 2 per sorted compact on
    a 2000-row flat table (each was one more when the read inferred)."""
    from weightlifting_wod_etl_spark.operators.compact import compact_parquet

    path = str(tmp_path / "jobs")
    rows = spark.range(2000).selectExpr("id AS k", "id * 10 AS v", "'old' AS tag")
    rows.repartition(4).write.parquet(path)
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # the store fills async
        return len(sc.statusTracker().getJobIdsForGroup(group))

    src = spark.createDataFrame([(5, -5, "new"), (2001, 1, "new")], "k long, v long, tag string")
    merge_into(spark, path, src, on=["k"])  # migrates the plain dir
    n_merge = jobs("test-merge-jobs", lambda: merge_into(spark, path, src, on=["k"]))
    n_compact = jobs(
        "test-compact-jobs", lambda: compact_parquet(spark, path, sort_by=["k"])
    )
    assert (n_merge, n_compact) == (7, 2)
    got = _rows(spark, path)
    assert got[5] == (-5, "new") and len(got) == 2001


def test_merge_reads_a_table_without_spark_footer_metadata(spark, tmp_path):
    """A plain table whose files another writer made (pyarrow here) carry
    no Spark row metadata in their footers; the merge's declared read
    then infers that one file's schema instead of failing."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "foreign")
    os.makedirs(path)
    pq.write_table(
        pa.table({"k": [1, 2], "v": [10, 20], "tag": ["old", "old"]}),
        os.path.join(path, "part-00000.parquet"),
    )
    src = spark.createDataFrame([(2, 99, "new")], "k long, v long, tag string")
    assert merge_into(spark, path, src, on=["k"])["matched"] == 1
    assert _rows(spark, path) == {1: (10, "old"), 2: (99, "new")}
