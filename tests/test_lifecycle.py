"""Capstone: one table through the whole storage lifecycle — incremental
upsert, atomic versioning, time travel, clustering compaction with a
persisted skipping index, pruned reads, and right-to-be-forgotten
deletion — every layer composing on the same path."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


from pyspark.sql import functions as F

from weightlifting_wod_etl_spark.io import dir_stats, read_pruned, read_table
from weightlifting_wod_etl_spark.operators.compact import compact_parquet
from weightlifting_wod_etl_spark.operators.merge import delete_keys
from weightlifting_wod_etl_spark.operators.skipping import load_stats_index
from weightlifting_wod_etl_spark.operators.versioned import (
    current_version,
    resolve,
    table_history,
)
from weightlifting_wod_etl_spark.sinks import kv_upsert_parquet


def _daily(spark, lo, hi, version):
    from weightlifting_wod_etl_spark.io import load_table

    e = load_table(spark, SF_SMOKE, "events")
    return (
        e.select(F.to_date("ts").alias("day"), "user_id", "value")
        .groupBy("day", "user_id")
        .agg(
            F.round(F.sum("value"), 2).alias("total"),
            F.lit(version).alias("version"),
        )
        .filter((F.col("day") >= lo) & (F.col("day") <= hi))
    )


def test_full_table_lifecycle(spark, tmp_path):
    path = str(tmp_path / "daily_totals")
    days = sorted(
        r.day
        for r in _daily(spark, "1900-01-01", "2999-01-01", 0)
        .select("day").distinct().collect()
    )
    assert len(days) >= 4
    d0, d1, d2 = days[0], days[1], days[2]

    # 1) first increment → version 1
    kv_upsert_parquet(
        _daily(spark, d0, d1, 1), path,
        key_cols=["day", "user_id"], order_cols=["version"],
    )
    assert current_version(path) == 1
    v1_d0 = {
        (r.day, r.user_id): r.total
        for r in read_table(spark, path).filter(F.col("day") == d0).collect()
    }

    # 2) second increment: re-delivers d1 at higher version, adds d2 → v2
    kv_upsert_parquet(
        _daily(spark, d1, d2, 2), path,
        key_cols=["day", "user_id"], order_cols=["version"],
    )
    assert current_version(path) == 2
    now = read_table(spark, path)
    assert {r.version for r in now.filter(F.col("day") == d1).collect()} == {2}
    assert {r.version for r in now.filter(F.col("day") == d0).collect()} == {1}

    # 3) time travel: v1 still shows the pre-merge table
    v1 = read_table(spark, path, version=1)
    assert {str(r.day) for r in v1.select("day").distinct().collect()} == {
        str(d0), str(d1)
    }
    assert [e["version"] for e in table_history(path)] == [1, 2]

    # 4) clustering compaction: fragment (a small-files version, committed
    #    through the same protocol), then rewrite sorted-by-day with the
    #    skipping index committed atomically alongside
    from weightlifting_wod_etl_spark.operators.versioned import (
        begin_commit,
        finish_commit,
    )

    frag = read_table(spark, path).repartition(16).localCheckpoint()
    staging, v = begin_commit(path)
    frag.write.parquet(staging)
    finish_commit(path, v)
    data_dir = resolve(path)
    n_files, total = dir_stats(data_dir)
    assert n_files == 16
    b, a = compact_parquet(
        spark, path, target_file_bytes=max(1, total // 4),
        sort_by=["day"], stats_cols=["day"],
    )
    assert a < b
    assert load_stats_index(resolve(path)) is not None

    # 5) pruned range read over the clustered layout == filtered full read
    pruned = read_pruned(spark, path, "day", d0, d1)
    want = read_table(spark, path).filter(
        (F.col("day") >= F.lit(d0)) & (F.col("day") <= F.lit(d1))
    )
    got_rows = sorted(map(tuple, pruned.collect()))
    assert got_rows == sorted(map(tuple, want.collect()))
    assert got_rows, "pruned range read returned nothing — vacuous compare"

    # 6) right-to-be-forgotten: drop every d0 row, everything else intact
    before_others = (
        read_table(spark, path).filter(F.col("day") != d0).count()
    )
    keys = read_table(spark, path).filter(F.col("day") == d0).select(
        "day", "user_id"
    )
    n = delete_keys(spark, path, keys, on=["day", "user_id"])
    assert n == len(v1_d0) > 0
    final = read_table(spark, path)
    assert final.filter(F.col("day") == d0).count() == 0
    assert final.count() == before_others
