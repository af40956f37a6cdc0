"""Data skipping: footer-stat pruning is sound (pruned reads == full
filter), and EFFECTIVE exactly where the layout clusters — a Z-ordered
table prunes on both dimensions, a linear sort only on its sort key."""

from __future__ import annotations

from tests.conftest import SF_SMOKE

from pyspark.sql import functions as F

from weightlifting_wod_etl_spark.io import load_table
from weightlifting_wod_etl_spark.operators.skipping import (
    file_stats_index,
    prune_files,
)
from weightlifting_wod_etl_spark.operators.versioned import resolve
from weightlifting_wod_etl_spark.operators.zorder import zorder_write


def _layouts(spark, tmp_path):
    src = load_table(spark, SF_SMOKE, "lineitem").select(
        (F.col("l_orderkey") % 256).cast("long").alias("a"),
        F.floor((F.col("l_partkey") % 200) * 256 / 200).cast("long").alias("b"),
        "l_quantity",
    )
    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "lin")
    zorder_write(src, zpath, ["a", "b"], bits=8, num_files=16)
    zpath = resolve(zpath)  # zorder_write commits a versioned layout now
    (
        src.repartitionByRange(16, "a")
        .sortWithinPartitions("a")
        .write.mode("overwrite")
        .parquet(lpath)
    )
    return src, zpath, lpath


def test_pruned_read_is_sound_and_effective(spark, tmp_path):
    src, zpath, lpath = _layouts(spark, tmp_path)
    zidx = file_stats_index(zpath, ["a", "b"])
    lidx = file_stats_index(lpath, ["a", "b"])
    assert len(zidx) == len(lidx) == 16

    # quadrant-exactness: bits=8 × 2 cols × 16 files ⇒ each file owns one
    # 4-bit key prefix = a 64×64 (a, b) quadrant. zorder_write derives the
    # bucket boundaries from the key domain (never from sampling), so every
    # file's span must sit INSIDE its quadrant on BOTH dims — this is the
    # determinism contract that repartitionByRange's session-seeded
    # sampling used to break (r7 full-suite flake).
    for e in zidx:
        assert e["a_max"] - e["a_min"] <= 63, e
        assert e["b_max"] - e["b_min"] <= 63, e

    lo, hi = 40, 56  # a narrow band on either dimension
    for col in ("a", "b"):
        keep = prune_files(zidx, col, lo, hi)
        # soundness: reading only surviving files + filter == full filter
        got = (
            spark.read.parquet(*keep)
            .filter((F.col(col) >= lo) & (F.col(col) <= hi))
            .count()
        )
        want = src.filter((F.col(col) >= lo) & (F.col(col) <= hi)).count()
        assert got == want > 0
        # effectiveness, now EXACT: [40, 56] lives in quarter 0 of the dim,
        # so precisely the 4 files of that quarter survive — not "about
        # half", the deterministic layout pins the count.
        assert len(keep) == 4, (col, sorted(keep))

    # the linear layout skips on its sort key but NOT on b
    assert len(prune_files(lidx, "a", lo, hi)) <= len(lidx) / 2
    assert len(prune_files(lidx, "b", lo, hi)) == len(lidx)


def test_orphaned_staging_dir_is_never_indexed(spark, tmp_path):
    """A crash before the pointer flip leaves an uncommitted ``_v*/``
    staging dir at the table root. Spark's listing ignores it; the live
    footer index must too, or a pruned read returns rows no full scan
    ever sees (ADVICE r7: the recursive glob descended into it)."""
    from weightlifting_wod_etl_spark.io import read_pruned

    src = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = str(tmp_path / "tbl")
    src.coalesce(2).write.parquet(path)
    # orphaned staging: same rows again, never committed
    src.coalesce(1).write.parquet(path + "/_v000001")

    idx = file_stats_index(path, ["o_orderkey"])
    assert all("_v000001" not in e["file"] for e in idx)
    full = spark.read.parquet(path)
    pruned = read_pruned(spark, path, "o_orderkey", 0, 10_000_000_000)
    assert pruned.count() == full.count() == src.count()


def test_missing_stats_never_skips(spark):
    idx = [
        {"file": "x", "a_min": None, "a_max": None},
        {"file": "y", "a_min": 10, "a_max": 20},
    ]
    assert prune_files(idx, "a", 100, 200) == ["x"]  # statless kept, y pruned


def test_read_pruned_scans_fewer_files_with_identical_results(spark, tmp_path):
    """End-to-end read-path wiring (VERDICT r6 §next.5): io.read_pruned
    must open strictly fewer files than a full scan on a clustered layout
    while returning exactly the full-scan-plus-filter result."""
    from weightlifting_wod_etl_spark.io import read_pruned

    src = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    path = str(tmp_path / "orders_clustered")
    (
        src.repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    full = spark.read.parquet(path)
    n_files_full = len(full.inputFiles())
    assert n_files_full == 8

    import datetime

    lo, hi = datetime.datetime(1996, 1, 1), datetime.datetime(1996, 6, 30)
    pruned = read_pruned(spark, path, "o_orderdate", lo, hi)
    assert 0 < len(pruned.inputFiles()) < n_files_full  # scan reduction

    want = sorted(
        (r.o_orderkey, round(r.o_totalprice, 2))
        for r in full.filter(
            (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") <= F.lit(hi))
        ).collect()
    )
    got = sorted(
        (r.o_orderkey, round(r.o_totalprice, 2)) for r in pruned.collect()
    )
    assert got == want and len(got) > 0


def test_read_pruned_empty_range_keeps_schema(spark, tmp_path):
    from weightlifting_wod_etl_spark.io import read_pruned

    src = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    path = str(tmp_path / "orders_empty")
    src.repartitionByRange(4, "o_orderdate").write.parquet(path)
    import datetime

    out = read_pruned(
        spark, path, "o_orderdate",
        datetime.datetime(2090, 1, 1), datetime.datetime(2091, 1, 1),
    )
    assert out.columns == ["o_orderkey", "o_orderdate"]
    assert out.count() == 0


def test_persisted_index_is_committed_with_version_and_consumed(
    spark, tmp_path, monkeypatch
):
    """compact(sort_by=..., stats index) publishes data + index in ONE
    atomic commit; read_pruned must consume the persisted index (proved by
    making the live footer-scan path explode) and prune effectively."""
    import weightlifting_wod_etl_spark.io as io_mod
    from weightlifting_wod_etl_spark.io import read_pruned
    from weightlifting_wod_etl_spark.operators import skipping as skipping_mod
    from weightlifting_wod_etl_spark.operators.compact import compact_parquet
    from weightlifting_wod_etl_spark.operators.skipping import load_stats_index
    from weightlifting_wod_etl_spark.operators.versioned import resolve

    src = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    path = str(tmp_path / "orders_vt")
    src.repartition(32).write.parquet(path)  # small files, unclustered
    _, total = __import__(
        "weightlifting_wod_etl_spark.io", fromlist=["dir_stats"]
    ).dir_stats(path)
    compact_parquet(
        spark, path, target_file_bytes=max(1, total // 8),
        sort_by=["o_orderdate"],
    )
    data_dir = resolve(path)
    idx = load_stats_index(data_dir)
    assert idx is not None and all("o_orderdate_min" in e for e in idx)
    assert all(e["file"].startswith(data_dir) for e in idx)

    def boom(*a, **k):
        raise AssertionError("footer scan must not run when index persisted")

    monkeypatch.setattr(skipping_mod, "file_stats_index", boom)
    monkeypatch.setattr(io_mod, "file_stats_index", boom, raising=False)

    import datetime

    lo, hi = datetime.datetime(1996, 1, 1), datetime.datetime(1996, 6, 30)
    pruned = read_pruned(spark, path, "o_orderdate", lo, hi)
    n_total_files = len(spark.read.parquet(data_dir).inputFiles())
    assert 0 < len(pruned.inputFiles()) < n_total_files
    want = (
        spark.read.parquet(data_dir)
        .filter((F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") <= F.lit(hi)))
        .count()
    )
    assert pruned.count() == want > 0


def test_read_pruned_on_hive_partitioned_table(spark, tmp_path):
    """Review r10: reading pruned leaf files without basePath dropped the
    directory-derived partition columns — a different schema than the full
    scan, and an unresolvable filter when pruning on the partition column
    itself."""
    from weightlifting_wod_etl_spark.io import read_pruned

    path = str(tmp_path / "part")
    df = spark.range(100).selectExpr(
        "id AS k", "cast(id % 4 AS int) AS bucket", "id * 2 AS v"
    )
    df.write.partitionBy("bucket").parquet(path)

    # pruning on a DATA column: partition columns must survive in the schema
    got = read_pruned(spark, path, "k", 10, 20)
    assert set(got.columns) == {"k", "bucket", "v"}
    want = df.filter((F.col("k") >= 10) & (F.col("k") <= 20))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.select(got.columns).collect())
    )

    # pruning on the PARTITION column: footers carry no stats for it, so
    # every file is kept — the filter must still resolve and apply
    got2 = read_pruned(spark, path, "bucket", 1, 2)
    assert got2.count() == 50
    assert {r.bucket for r in got2.select("bucket").distinct().collect()} == {1, 2}


def test_read_pruned_rebuilds_on_incomplete_index(spark, tmp_path):
    """Review r10: a NON-empty persisted index next to a data file it
    doesn't cover (appended outside the commit protocol) silently
    dropped that file's rows from the pruned read; the completeness
    check now forces a footer rebuild."""
    import shutil

    from weightlifting_wod_etl_spark.io import read_pruned
    from weightlifting_wod_etl_spark.operators.skipping import (
        list_data_files,
        save_stats_index,
    )

    path = str(tmp_path / "tbl")
    spark.range(100).selectExpr("id AS a").coalesce(1).write.parquet(path)
    save_stats_index(path, ["a"])
    # sideload a second file the index knows nothing about
    [f1] = list_data_files(path)
    shutil.copy(f1, f1.replace("part-", "part-sideload-"))
    got = read_pruned(spark, path, "a", 0, 1000).count()
    full = spark.read.parquet(path).filter(
        (F.col("a") >= 0) & (F.col("a") <= 1000)
    ).count()
    assert got == full == 200  # both copies visible — nothing dropped


def test_clustered_scratch_copy_builds_once(spark, tmp_path):
    """The clustered copy is a build-once fixture: a second call returns
    the same dir without rewriting it, and a regenerated source (new
    size/mtime) builds a fresh copy holding the new rows."""
    import os

    from weightlifting_wod_etl_spark.io import scratch_dir
    from weightlifting_wod_etl_spark.operators.skipping import (
        clustered_scratch_copy,
        list_data_files,
        load_stats_index,
    )

    sf = str(tmp_path / "sf")
    src = os.path.join(sf, "orders.parquet")

    def write_source(n):
        spark.range(n).selectExpr(
            "id AS o_orderkey",
            "timestamp '1996-01-01' + make_interval(0,0,0,cast(id as int)) AS o_orderdate",
            "cast(id * 2 as double) AS o_totalprice",
        ).write.mode("overwrite").parquet(src)

    kw = dict(select_cols=["o_orderdate", "o_totalprice"], cluster_col="o_orderdate")
    write_source(50)
    d1 = clustered_scratch_copy(spark, sf, "orders", **kw)
    assert os.path.dirname(d1) == scratch_dir()
    files1 = {f: os.stat(f).st_mtime_ns for f in list_data_files(d1)}
    assert files1 and load_stats_index(d1)
    # second call reuses the build: same dir, files untouched
    assert clustered_scratch_copy(spark, sf, "orders", **kw) == d1
    assert {f: os.stat(f).st_mtime_ns for f in list_data_files(d1)} == files1

    write_source(60)  # regenerate the source: new size/mtime
    d2 = clustered_scratch_copy(spark, sf, "orders", **kw)
    assert d2 != d1
    assert spark.read.parquet(d2).count() == 60


_FIXTURE_RUN = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
from weightlifting_wod_etl_spark.io import scratch_dir
from weightlifting_wod_etl_spark.queries_registry import QUERIES
from weightlifting_wod_etl_spark.session import get_spark

spark = get_spark(app_name="wod-etl-scratch", cpus=2, shuffle_partitions=4)
for name in ("q_cdc_apply", "q_pruned_scan"):
    assert QUERIES[name](spark, sys.argv[2]).count() > 0, name
assert sorted(os.listdir(scratch_dir())), "fixtures built nothing"
print(scratch_dir(), flush=True)
spark.stop()
"""


def test_query_fixtures_leave_no_scratch_dirs(tmp_path, sf_dir):
    """q_cdc_apply and q_pruned_scan build scratch tables; a process that
    ran both must leave no ``wod_etl_*`` dir in the temp dir once it
    exits (they used to leak one dir per process / per source dir)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {**os.environ, "TMPDIR": str(tmp), "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _FIXTURE_RUN, repo, sf_dir],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    used = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(used) == str(tmp)  # the fixtures did use TMPDIR
    assert [e for e in os.listdir(tmp) if e.startswith("wod_etl_")] == []


def test_compact_empty_table_is_a_noop(spark, tmp_path):
    """Review r14: compact on a table with zero data files used to fall
    through to spark.read.parquet, which fails schema inference on an
    empty dir — maintenance over an empty table must no-op, not raise."""
    import os

    from weightlifting_wod_etl_spark.operators.compact import compact_parquet

    path = str(tmp_path / "empty")
    os.makedirs(path)
    assert compact_parquet(spark, path) == (0, 0)
    # an explicit clustering request over nothing is equally a no-op
    assert compact_parquet(spark, path, sort_by=["k"]) == (0, 0)
