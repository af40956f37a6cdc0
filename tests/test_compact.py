"""Compaction: many small files in, ~target-sized files out, rows and
values preserved; already-compact tables are left untouched."""

from __future__ import annotations

from tests.conftest import SF_SMOKE

import os

from pyspark.sql import functions as F

from weightlifting_wod_etl_spark.io import dir_stats, load_table, read_table
from weightlifting_wod_etl_spark.operators.compact import compact_parquet
from weightlifting_wod_etl_spark.operators.versioned import resolve


def _fingerprint(df):
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns)).alias("h"),
    ).collect()[0]


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    src = load_table(spark, SF_SMOKE, "lineitem")
    path = str(tmp_path / "t")
    src.repartition(64).write.parquet(path)  # pathological small files
    n0, total = dir_stats(path)
    assert n0 >= 64
    before_fp = _fingerprint(spark.read.parquet(path))
    target = max(1, total // 4)  # aim for ~4 files
    b, a = compact_parquet(spark, path, target_file_bytes=target)
    assert b == n0 and a < n0 / 4
    # versioned commit: pointer names the compacted dir, old loose files gone
    assert resolve(path) == os.path.join(path, "_v000001")
    after_fp = _fingerprint(read_table(spark, path))
    assert (before_fp.n, before_fp.h) == (after_fp.n, after_fp.h)
    # a second compaction starts from the committed version's file count
    # (it may legitimately compact further — the rewrite compresses better)
    b2, _a2 = compact_parquet(spark, path, target_file_bytes=target)
    assert b2 == a
    assert (before_fp.n, before_fp.h) == (
        (fp := _fingerprint(read_table(spark, path))).n,
        fp.h,
    )


def test_compaction_noop_when_already_compact(spark, tmp_path):
    src = load_table(spark, SF_SMOKE, "region")
    path = str(tmp_path / "small")
    src.coalesce(1).write.parquet(path)
    files_before = sorted(
        (f, os.path.getmtime(os.path.join(path, f)))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    b, a = compact_parquet(spark, path, target_file_bytes=128 * 1024 * 1024)
    assert b == a == 1
    files_after = sorted(
        (f, os.path.getmtime(os.path.join(path, f)))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    assert files_before == files_after  # untouched, not rewritten


def test_compaction_with_sort_clusters_output(spark, tmp_path):
    src = load_table(spark, SF_SMOKE, "lineitem")
    path = str(tmp_path / "sorted")
    src.repartition(32).write.parquet(path)
    _, total = dir_stats(path)
    compact_parquet(
        spark, path, target_file_bytes=max(1, total // 4), sort_by=["l_orderkey"]
    )
    # range-partitioned sorted rewrite → per-file key ranges are disjoint
    import glob

    spans = []
    for f in glob.glob(os.path.join(resolve(path), "part-*.parquet")):
        r = spark.read.parquet(f).agg(
            F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi")
        ).collect()[0]
        spans.append((r.lo, r.hi))
    spans.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1, hi1)} vs {(lo2, _hi2)}"


def test_default_compact_preserves_existing_stats_index(spark, tmp_path):
    """Review r10: a maintenance compact with no sort_by/stats_cols used to
    publish a version with NO index over a previously indexed table — a
    silent one-way perf cliff (merges degrade to full rewrites forever).
    The old index's columns must be re-derived over the new files."""
    import os

    from weightlifting_wod_etl_spark.operators.skipping import (
        index_cols,
        list_data_files,
        load_stats_index,
        save_stats_index,
    )
    from weightlifting_wod_etl_spark.operators.versioned import resolve

    path = str(tmp_path / "idx")
    df = spark.range(20_000).selectExpr("id AS k", "id * 2 AS v")
    df.repartition(16).write.parquet(path)
    save_stats_index(path, ["k"])

    before, after = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert after < before  # a real compaction happened

    new_dir = resolve(path)
    idx = load_stats_index(new_dir)
    assert idx is not None, "default compact dropped the stats index"
    assert index_cols(idx) == ["k"]
    assert {e["file"] for e in idx} == set(list_data_files(new_dir))


def test_compact_preserves_hive_partition_layout(spark, tmp_path):
    """Review r11: the compaction rewrite never re-applied partitionBy —
    a date=*/ table came back FLAT, killing partition pruning and
    demoting the next partitioned upsert to a full-table migration."""
    import glob
    import os

    from weightlifting_wod_etl_spark.io import read_table
    from weightlifting_wod_etl_spark.operators.compact import compact_parquet
    from weightlifting_wod_etl_spark.operators.versioned import resolve

    path = str(tmp_path / "hive")
    df = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 3:02d}") for i in range(60)], "x long, date string"
    )
    # many small files per partition
    df.repartition(10).write.partitionBy("date").parquet(path)
    before = sorted(map(tuple, read_table(spark, path).collect()))

    compact_parquet(spark, path, target_file_bytes=1 << 30)
    live = resolve(path)
    pdirs = sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(live, "date=*"))
        if os.path.isdir(d)
    )
    assert pdirs == ["date=2024-01-01", "date=2024-01-02", "date=2024-01-03"]
    assert sorted(map(tuple, read_table(spark, path).collect())) == before


def test_compact_partitioned_converges_and_no_ops_thereafter(spark, tmp_path):
    """Review r12: round-robin repartition(want) before partitionBy
    scattered every Hive partition across all tasks — up to
    want x n_partitions files, MORE than before — and the no-op guard
    ignored the per-partition floor, so every maintenance run paid a
    full rewrite forever."""
    from weightlifting_wod_etl_spark.io import dir_stats
    from weightlifting_wod_etl_spark.operators.compact import compact_parquet
    from weightlifting_wod_etl_spark.operators.versioned import resolve

    path = str(tmp_path / "pc")
    df = spark.createDataFrame(
        [(k, f"d{k % 5}", k * 1.0) for k in range(500)],
        "k long, date string, v double",
    )
    # 8 files per partition dir = 40 small files
    df.repartition(8).write.partitionBy("date").parquet(path)
    before, _ = dir_stats(path)
    assert before >= 40

    b1, a1 = compact_parquet(spark, path)
    # converged toward the per-partition floor, never exploded
    assert a1 <= 5 + 1 and a1 < b1
    # second run is a no-op at the partition-aware ideal
    b2, a2 = compact_parquet(spark, path)
    assert (b2, a2) == (a1, a1)
    # data intact, layout preserved
    out = spark.read.parquet(resolve(path))
    assert out.count() == 500 and out.filter("date IS NULL").count() == 0


def test_compact_partitioned_oversize_warns_instead_of_silent_noop(
    spark, tmp_path, caplog
):
    """r13 advice (regression pin): a partitioned table without sort_by
    can only converge to one-file-per-partition-dir — when files are far
    over target the default path can never split them, so it must SAY so
    (the remedy is the sort_by path) instead of silently no-opping on
    every maintenance run forever."""
    from weightlifting_wod_etl_spark.operators.compact import compact_parquet

    path = str(tmp_path / "oversize")
    spark.createDataFrame(
        [(k, f"d{k % 2}", k * 1.0) for k in range(200)],
        "k long, date string, v double",
    ).coalesce(1).write.partitionBy("date").parquet(path)
    # 2 partition dirs; a 1-byte target makes want >> n_part_dirs * 2
    compact_parquet(spark, path, target_file_bytes=1)
    assert "cannot" in caplog.text and "sort_by" in caplog.text
    # the sort_by path IS the remedy — same request must not warn
    caplog.clear()
    compact_parquet(spark, path, target_file_bytes=1, sort_by=["k"])
    assert "cannot" not in caplog.text


def test_compact_explicit_sort_request_always_runs(spark, tmp_path):
    """Review r12: the early no-op guard returned before an explicitly
    requested sort_by clustering pass / stats_cols index publication —
    callers believed the table was clustered+indexed when nothing ran."""
    from weightlifting_wod_etl_spark.operators.compact import compact_parquet
    from weightlifting_wod_etl_spark.operators.skipping import load_stats_index
    from weightlifting_wod_etl_spark.operators.versioned import resolve

    path = str(tmp_path / "sc")
    # one small unsorted file: the old `before <= want+1` no-op'd here
    spark.createDataFrame(
        [(k % 7, k) for k in range(100)], "k long, v long"
    ).coalesce(1).write.parquet(path)
    compact_parquet(spark, path, sort_by=["k"], stats_cols=["k"])
    idx = load_stats_index(resolve(path))
    assert idx, "requested index was silently skipped"
    assert all("k_min" in e for e in idx)
