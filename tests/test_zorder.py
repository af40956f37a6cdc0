"""Z-order layout: Morton key bit-exactness against a Python reference,
and the pruning property the layout exists for — per-file min/max spans
tight in EVERY clustered dimension, not just the first sort column."""

from __future__ import annotations

from tests.conftest import SF_SMOKE

import glob
import os

import pytest
from pyspark.sql import functions as F

from weightlifting_wod_etl_spark.io import load_table, read_table
from weightlifting_wod_etl_spark.operators.versioned import resolve
from weightlifting_wod_etl_spark.operators.zorder import morton_key, zorder_write


def _py_morton(vals, bits):
    key = 0
    for i in range(bits):
        for j, v in enumerate(vals):
            key |= ((v >> i) & 1) << (i * len(vals) + j)
    return key


def test_morton_key_matches_python_reference(spark):
    rows = [(x, y) for x in (0, 1, 5, 255, 1023) for y in (0, 2, 7, 512, 1023)]
    df = spark.createDataFrame(rows, ["x", "y"]).withColumn(
        "z", morton_key(["x", "y"], bits=10)
    )
    for r in df.collect():
        assert r.z == _py_morton((r.x, r.y), 10), (r.x, r.y)


def test_morton_rejects_long_overflow():
    import pytest

    with pytest.raises(ValueError):
        morton_key(["a", "b", "c", "d"], bits=16)


def _file_spans(spark, path, col):
    """(per-file max-min) spans of col across the written parquet files."""
    spans = []
    for f in glob.glob(os.path.join(resolve(path), "part-*.parquet")):
        row = spark.read.parquet(f).agg(
            F.min(col).alias("lo"), F.max(col).alias("hi")
        ).collect()[0]
        spans.append(row.hi - row.lo)
    return spans


def test_zorder_write_tightens_every_dimension(spark, tmp_path):
    # normalize BOTH dims to a full 8-bit range: z-order interleaves bit
    # positions, so a dimension occupying fewer effective bits than the
    # other contributes nothing at the top of the key and barely clusters
    # (the operator docstring's normalization requirement — this test
    # originally tripped exactly that with a 10-bit vs ~8-bit pair)
    src = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select(
            (F.col("l_orderkey") % 256).cast("long").alias("a"),
            F.floor((F.col("l_partkey") % 200) * 256 / 200).cast("long").alias("b"),
        )
    )
    zpath = str(tmp_path / "zordered")
    lpath = str(tmp_path / "linear")
    zorder_write(src, zpath, ["a", "b"], bits=8, num_files=16)
    # contrast layout: single-column sort (classic linear clustering)
    (
        src.repartitionByRange(16, "a")
        .sortWithinPartitions("a")
        .write.mode("overwrite")
        .parquet(lpath)
    )
    # the linear layout is tight on a but spans ~the whole domain on b;
    # the z-order layout must be materially tight on BOTH dimensions.
    # Spans are judged relative to each column's MEASURED global span
    # (at sf0.001 partkey only occupies ~200 of the 1024 bucket values).
    g = src.agg(
        (F.max("a") - F.min("a")).alias("ga"), (F.max("b") - F.min("b")).alias("gb")
    ).collect()[0]
    z_a, z_b = _file_spans(spark, zpath, "a"), _file_spans(spark, zpath, "b")
    l_b = _file_spans(spark, lpath, "b")
    avg = lambda xs: sum(xs) / len(xs)  # noqa: E731
    assert avg(l_b) > 0.8 * g.gb  # linear: b unclustered
    assert avg(z_a) < 0.5 * g.ga  # z-order: a clustered
    assert avg(z_b) < 0.5 * g.gb  # z-order: b clustered TOO
    # row counts survive the relayout
    assert read_table(spark, zpath).count() == src.count()


def test_zorder_layout_is_deterministic(spark, tmp_path):
    """Two writes of the same frame — with unrelated jobs run in between,
    the exact condition that drifted repartitionByRange's sampled bounds —
    must produce bit-identical per-file (min, max) spans."""
    src = load_table(spark, SF_SMOKE, "lineitem").select(
        (F.col("l_orderkey") % 256).cast("long").alias("a"),
        F.floor((F.col("l_partkey") % 200) * 256 / 200).cast("long").alias("b"),
    )

    def spans(path):
        out = []
        for f in sorted(glob.glob(os.path.join(resolve(path), "part-*.parquet"))):
            r = spark.read.parquet(f).agg(
                F.min("a"), F.max("a"), F.min("b"), F.max("b")
            ).collect()[0]
            out.append(tuple(r))
        return sorted(out)

    p1, p2 = str(tmp_path / "z1"), str(tmp_path / "z2")
    zorder_write(src, p1, ["a", "b"], bits=8, num_files=16)
    # churn the session so RDD ids / shuffle ids move between the writes
    spark.range(10_000).groupBy((F.col("id") % 7).alias("g")).count().collect()
    zorder_write(src, p2, ["a", "b"], bits=8, num_files=16)
    s1, s2 = spans(p1), spans(p2)
    assert len(s1) == 16 and s1 == s2


def test_zorder_recluster_detects_concurrent_commit(spark, tmp_path):
    """Review r11: zorder_write was the only versioned committer without
    the resolve->begin_commit staleness guard — re-clustering a live
    table could silently discard another writer's committed version.
    With data_dir passed (the documented live-recluster pattern), a
    commit landing between the read and the re-cluster must raise
    ConcurrentCommitError, and the interloper's data must survive."""
    from pyspark.sql import functions as F

    from weightlifting_wod_etl_spark.io import read_table
    from weightlifting_wod_etl_spark.operators.merge import merge_into
    from weightlifting_wod_etl_spark.operators.versioned import (
        ConcurrentCommitError,
        resolve,
    )
    from weightlifting_wod_etl_spark.operators.zorder import zorder_write

    path = str(tmp_path / "race")
    src = spark.range(64).select(
        (F.col("id") % 16).alias("a"), (F.col("id") % 8).alias("b"),
        F.col("id").alias("k"),
    )
    zorder_write(src, path, ["a", "b"], bits=4, num_files=2)

    # T1 reads the live table and remembers its base version dir
    base_dir = resolve(path)
    relayout = read_table(spark, path)

    # T2 commits an update in the resolve->begin window
    upd = spark.createDataFrame([(0, 0, 999)], "a long, b long, k long")
    merge_into(spark, path, upd, ["a", "b"])

    with pytest.raises(ConcurrentCommitError):
        zorder_write(relayout, path, ["a", "b"], bits=4, num_files=2,
                     data_dir=base_dir)
    # interloper's change survives; lock released for a clean retry
    assert read_table(spark, path).filter("k = 999").count() == 1
    fresh_dir = resolve(path)
    zorder_write(read_table(spark, path), path, ["a", "b"], bits=4,
                 num_files=2, data_dir=fresh_dir)
    assert read_table(spark, path).filter("k = 999").count() == 1


def test_zorder_write_rejects_reserved_zkey_column(spark, tmp_path):
    """Review r11: a user column named __zkey was silently overwritten by
    the routing key and then dropped from the committed table."""
    from weightlifting_wod_etl_spark.operators.zorder import zorder_write

    df = spark.range(4).selectExpr("id AS a", "id AS __zkey")
    with pytest.raises(ValueError, match="__zkey"):
        zorder_write(df, str(tmp_path / "zk"), ["a"], bits=4, num_files=2)
