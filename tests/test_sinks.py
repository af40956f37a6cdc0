"""Sink delivery-guarantee tests: idempotent JSONL, kv upsert."""

from __future__ import annotations

from tests.conftest import SF_SMOKE

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from weightlifting_wod_etl_spark.io import read_table
from weightlifting_wod_etl_spark.operators.versioned import resolve


@pytest.fixture()
def tmp(request):
    d = tempfile.mkdtemp(prefix="wod_sinks_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_jsonl_idempotent_rerun_writes_zero(spark, tmp):
    from weightlifting_wod_etl_spark.operators.dedup import idempotency_key
    from weightlifting_wod_etl_spark.sinks import write_jsonl_idempotent

    df = spark.range(10).select(
        F.col("id"), idempotency_key("put", F.col("id").cast("string")).alias("idem_key")
    )
    out, ledger = os.path.join(tmp, "out"), os.path.join(tmp, "ledger")
    assert write_jsonl_idempotent(df, out, ledger) == 10
    assert write_jsonl_idempotent(df, out, ledger) == 0  # replay skipped
    # partial overlap: 5 old + 5 new → only new written
    df2 = spark.range(5, 15).select(
        F.col("id"), idempotency_key("put", F.col("id").cast("string")).alias("idem_key")
    )
    assert write_jsonl_idempotent(df2, out, ledger) == 5
    assert spark.read.json(out).count() == 15


def test_jsonl_fail_open_on_corrupt_ledger(spark, tmp):
    from weightlifting_wod_etl_spark.operators.dedup import idempotency_key
    from weightlifting_wod_etl_spark.sinks import write_jsonl_idempotent

    df = spark.range(3).select(
        F.col("id"), idempotency_key("put", F.col("id").cast("string")).alias("idem_key")
    )
    out, ledger = os.path.join(tmp, "out"), os.path.join(tmp, "ledger")
    os.makedirs(ledger)
    with open(os.path.join(ledger, "garbage.parquet"), "w") as f:
        f.write("not parquet")
    # reference §2.3-7: infra failure must NOT block the write
    assert write_jsonl_idempotent(df, out, ledger) == 3


def test_kv_upsert_last_writer_wins(spark, tmp):
    from weightlifting_wod_etl_spark.sinks import kv_upsert_parquet

    path = os.path.join(tmp, "kv")
    v1 = spark.createDataFrame(
        [("2021-01-01", "Mon", "old", 1), ("2021-01-02", "Tue", "keep", 1)],
        ["date", "session", "payload", "version"],
    )
    kv_upsert_parquet(v1, path, key_cols=["date", "session"], order_cols=["version"])
    v2 = spark.createDataFrame(
        [("2021-01-01", "Mon", "new", 2)], ["date", "session", "payload", "version"]
    )
    kv_upsert_parquet(v2, path, key_cols=["date", "session"], order_cols=["version"])
    rows = {(r.date, r.session): r.payload for r in read_table(spark, path).collect()}
    assert rows == {("2021-01-01", "Mon"): "new", ("2021-01-02", "Tue"): "keep"}


def test_weekly_rollup_path(spark, tmp):
    from weightlifting_wod_etl_spark.sinks import weekly_rollup_path

    df = spark.createDataFrame(
        [("2021-01-03",), ("2021-01-08",)], ["date"]
    )
    assert weekly_rollup_path(df, tmp).endswith("weekly/2021-01-03__2021-01-08--records.json")


def test_csv_round_trip_explicit_schema(spark, tmp):
    from weightlifting_wod_etl_spark.io import load_table, read_csv, write_csv

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = f"{tmp}/orders_csv"
    write_csv(orders, path)
    back = read_csv(spark, path, orders.schema)
    assert back.schema == orders.schema  # no inference drift
    a = {(r.o_orderkey, r.o_orderstatus, round(r.o_totalprice, 2)) for r in orders.collect()}
    b = {(r.o_orderkey, r.o_orderstatus, round(r.o_totalprice, 2)) for r in back.collect()}
    assert a == b


def test_orc_round_trip(spark, tmp):
    """ORC sink/source — second columnar format beside parquet, same
    predicate-pushdown path (native Spark, no extra packages)."""
    from weightlifting_wod_etl_spark.io import load_table

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = f"{tmp}/orders_orc"
    orders.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.schema == orders.schema
    assert back.count() == orders.count()
    a = {(r.o_orderkey, round(r.o_totalprice, 2)) for r in orders.collect()}
    b = {(r.o_orderkey, round(r.o_totalprice, 2)) for r in back.collect()}
    assert a == b
    # pushdown reaches the ORC reader too
    plan = (
        back.filter("o_totalprice > 100000")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "o_totalprice" in plan.split("PushedFilters")[1][:200]


def test_binary_file_source_feeds_multimodal(spark, tmp):
    """binaryFile source → multimodal feature extraction: the real media
    ingestion path (one row per file: path, length, binary content)."""
    import os

    from pyspark.sql import functions as F

    from weightlifting_wod_etl_spark.operators.multimodal import extract_features

    media_dir = f"{tmp}/media"
    os.makedirs(media_dir, exist_ok=True)
    blobs = {f"img_{i}.bin": bytes([i]) * (100 + i) for i in range(5)}
    for name, payload in blobs.items():
        with open(os.path.join(media_dir, name), "wb") as f:
            f.write(payload)

    files = (
        spark.read.format("binaryFile")
        .load(media_dir)
        .select(
            F.regexp_extract(F.col("path"), r"img_(\d+)\.bin", 1)
            .cast("long")
            .alias("media_id"),
            F.col("content").alias("payload"),
            "length",
        )
    )
    feats = extract_features(files)
    rows = {r.media_id: r.n_bytes for r in feats.collect()}
    assert rows == {i: 100 + i for i in range(5)}


def test_kv_upsert_partitioned_rewrites_only_touched_partitions(spark, tmp):
    """Dynamic-partition upsert contract: an increment touching one date
    must leave every other date partition's files byte-identical on disk
    (same file set, same mtimes) while merging LWW winners in the touched
    one."""
    import os as _os

    from weightlifting_wod_etl_spark.sinks import kv_upsert_parquet

    path = _os.path.join(tmp, "kv_part")
    v1 = spark.createDataFrame(
        [
            ("2021-01-03", "am", 1, "a"),
            ("2021-01-04", "am", 1, "b"),
            ("2021-01-05", "am", 1, "c"),
        ],
        ["date", "session", "version", "payload"],
    )
    kv_upsert_parquet(
        v1, path, key_cols=["date", "session"], order_cols=["version"],
        partition_by=["date"],
    )

    def files(day):
        d = _os.path.join(resolve(path), f"date={day}")
        return sorted(
            (f, _os.path.getmtime(_os.path.join(d, f)))
            for f in _os.listdir(d)
            if f.endswith(".parquet")
        )

    before_04, before_05 = files("2021-01-04"), files("2021-01-05")
    v2 = spark.createDataFrame(
        [("2021-01-03", "am", 2, "a2"), ("2021-01-03", "pm", 1, "x")],
        ["date", "session", "version", "payload"],
    )
    kv_upsert_parquet(
        v2, path, key_cols=["date", "session"], order_cols=["version"],
        partition_by=["date"],
    )
    # untouched partitions: identical file sets and mtimes
    assert files("2021-01-04") == before_04
    assert files("2021-01-05") == before_05
    # touched partition merged last-writer-wins, new key appended
    got = {
        (str(r.date), r.session): (r.version, r.payload)  # partition col is
        for r in read_table(spark, path).collect()  # type-inferred to DATE
    }
    assert got == {
        ("2021-01-03", "am"): (2, "a2"),
        ("2021-01-03", "pm"): (1, "x"),
        ("2021-01-04", "am"): (1, "b"),
        ("2021-01-05", "am"): (1, "c"),
    }


@pytest.mark.parametrize(
    "first, second",
    [(None, ["p"]), (["p"], None), (["p"], ["q"])],
    ids=["flat_to_p", "p_to_flat", "p_to_q"],
)
def test_kv_upsert_layout_change_rewrites_into_requested_layout(
    spark, tmp, first, second
):
    """An upsert whose ``partition_by`` differs from the table's on-disk
    partition columns rewrites the whole table into the requested layout:
    the table stays readable, holds the last-writer-wins rows, and its
    partition columns are the requested ones. (p → q used to commit a
    version holding both p=* and q=* dirs, and every later read raised
    CONFLICTING_PARTITION_COLUMN_NAMES.)"""
    from weightlifting_wod_etl_spark.io import partition_columns
    from weightlifting_wod_etl_spark.sinks import kv_upsert_parquet

    path = os.path.join(tmp, "kv_layout")
    schema = "k long, p long, q long, ver long, v string"
    b1 = [(1, 0, 0, 1, "a"), (2, 1, 1, 1, "b"), (3, 1, 0, 1, "c")]
    b2 = [(1, 0, 0, 2, "a2"), (2, 1, 1, 0, "stale"), (4, 0, 1, 1, "d")]
    model = {}
    for rows, layout in ((b1, first), (b2, second)):
        kv_upsert_parquet(
            spark.createDataFrame(rows, schema), path, key_cols=["k"],
            order_cols=["ver"], partition_by=layout,
        )
        for k, *rest in rows:
            if k not in model or rest[2] > model[k][2]:
                model[k] = tuple(rest)
    got = {r.k: (r.p, r.q, r.ver, r.v) for r in read_table(spark, path).collect()}
    assert got == model
    assert partition_columns(resolve(path)) == (second or [])


def test_kv_upsert_survivor_ignores_input_layout(spark, tmp):
    """Rows that tie on every order column still leave one survivor per
    key that does not depend on how the batch is partitioned or ordered:
    the other non-key columns break the tie, descending. (Ordering by
    ``order_cols`` alone picked a different survivor set per layout.)"""
    from weightlifting_wod_etl_spark.sinks import kv_upsert_parquet

    rows = [(k, 1, f"v{k}_{i}") for k in range(20) for i in range(4)]
    layouts = [(1, False), (4, False), (3, False), (1, True), (4, True)]
    got = []
    for i, (n, reverse) in enumerate(layouts):
        df = spark.createDataFrame(
            rows[::-1] if reverse else rows, "k long, ver long, v string"
        ).repartition(n)
        path = os.path.join(tmp, f"kv_tie_{i}")
        kv_upsert_parquet(df, path, key_cols=["k"], order_cols=["ver"])
        got.append(sorted(tuple(r) for r in read_table(spark, path).collect()))
    assert all(g == got[0] for g in got)
    assert got[0] == [(k, 1, f"v{k}_3") for k in range(20)]


def test_xml_round_trip_explicit_schema(spark, tmp):
    """XML source/sink (Spark 4 native) — the XML interchange path (RSS /
    WXR exports in the reference's WordPress world), explicit schema."""
    from weightlifting_wod_etl_spark.io import load_table, read_xml, write_xml

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = f"{tmp}/orders_xml"
    write_xml(orders, path, row_tag="order")
    back = read_xml(spark, path, orders.schema, row_tag="order")
    assert back.schema == orders.schema
    a = {(r.o_orderkey, r.o_orderstatus, round(r.o_totalprice, 2)) for r in orders.collect()}
    b = {(r.o_orderkey, r.o_orderstatus, round(r.o_totalprice, 2)) for r in back.collect()}
    assert a == b


def test_jsonl_idempotent_in_batch_duplicates_and_null_keys(spark, tmp):
    """Review r11 + r12 advice: (a) the same key twice in ONE batch wrote
    twice (the anti-join only suppressed prior runs); (b) a NULL key never
    matched the equi anti-join, so every rerun re-appended the row
    forever; (c) the r11 treat-all-NULLs-as-one-key fix silently DROPPED
    distinct NULL-key payloads — data loss, not idempotency. Contract
    now: one write per key per batch; a NULL key falls back to a
    content-hash key, so DISTINCT payloads each write once and
    content-identical replays still suppress."""
    import os

    from weightlifting_wod_etl_spark.sinks import write_jsonl_idempotent

    path = os.path.join(tmp, "nulldup_out")
    ledger = os.path.join(tmp, "nulldup_ledger")
    batch = spark.createDataFrame(
        [("k1", "a"), ("k1", "b"), (None, "n1"), (None, "n2"), (None, "n2")],
        "idem_key string, payload string",
    )
    n1 = write_jsonl_idempotent(batch, path, ledger)
    # k1 collapsed to one winner; NULL-key n1 and n2 are DISTINCT content
    # (each written once); the duplicate n2 collapses by content hash
    assert n1 == 3
    rows = {r.payload for r in spark.read.json(path).collect()}
    assert rows == {"a", "n1", "n2"}  # asc full-column order: min payload wins

    # replay: zero fresh rows, including every NULL-key one
    n2 = write_jsonl_idempotent(batch, path, ledger)
    assert n2 == 0
    assert spark.read.json(path).count() == 3
    # ledger holds exactly three entries (k1 + two content hashes)
    assert spark.read.parquet(ledger).count() == 3


def test_kv_upsert_default_preserves_existing_stats_index(spark, tmp):
    """Review r11: the full-rewrite branch silently DROPPED a persisted
    skipping index when stats_cols was not re-passed — read_pruned then
    degraded to live footer scans (compact.py already pinned this
    invariant; the sink's branch missed it)."""
    import os

    from weightlifting_wod_etl_spark.operators.skipping import load_stats_index
    from weightlifting_wod_etl_spark.operators.versioned import resolve
    from weightlifting_wod_etl_spark.sinks import kv_upsert_parquet

    path = os.path.join(tmp, "kvidx")
    base = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-02", "b")],
        "k long, date string, v string",
    )
    kv_upsert_parquet(base, path, key_cols=["k"], order_cols=["date"],
                      stats_cols=["k"])
    assert load_stats_index(resolve(path))  # index present

    upd = spark.createDataFrame([(1, "2024-01-03", "c")],
                                "k long, date string, v string")
    kv_upsert_parquet(upd, path, key_cols=["k"], order_cols=["date"])  # default
    idx = load_stats_index(resolve(path))
    assert idx, "default upsert dropped the persisted skipping index"


def test_weekly_rollup_path_empty_batch_raises(spark, tmp):
    """Review r11: an empty (or all-NULL-date) batch silently minted
    'weekly/None__None--records.json'."""
    import pytest

    from weightlifting_wod_etl_spark.sinks import weekly_rollup_path

    empty = spark.createDataFrame([], "date string, x long")
    with pytest.raises(ValueError, match="no non-NULL"):
        weekly_rollup_path(empty, tmp)


def test_jsonl_idempotent_preserves_existing_ledger_key_type(spark, tmp):
    """The ledger holds string (sha256 hex) keys only. A pre-existing
    ledger with integral keys is refused with ValueError BEFORE anything
    is written: appending string keys into it would leave a mixed-schema
    ledger no later run can read."""
    import os

    import pytest

    from weightlifting_wod_etl_spark.sinks import write_jsonl_idempotent

    batch = spark.createDataFrame(
        [(1, "a"), (None, "n1"), (None, "n2")],
        "idem_key long, payload string",
    )
    for ltype in ("long", "int"):
        path = os.path.join(tmp, f"{ltype}_out")
        ledger = os.path.join(tmp, f"{ltype}_ledger")
        spark.createDataFrame([(7,)], f"idem_key {ltype}").write.parquet(ledger)
        with pytest.raises(ValueError, match="only string"):
            write_jsonl_idempotent(batch, path, ledger)
        assert not os.path.exists(path)  # nothing written
        lt = spark.read.parquet(ledger)
        assert lt.dtypes == [("idem_key", "bigint" if ltype == "long" else "int")]
        assert lt.count() == 1


def test_jsonl_idempotent_casts_wider_keys_to_ledger_type(spark, tmp):
    """Integral batch keys of any width are cast to the ledger's string
    type on the way in: a fresh ledger is string-typed, a replay
    suppresses, and an INT-keyed batch carrying the same key values as
    an earlier LONG-keyed one matches the same ledger entries instead of
    widening or splitting the ledger's schema."""
    import os

    from weightlifting_wod_etl_spark.sinks import write_jsonl_idempotent

    path = os.path.join(tmp, "wide_out")
    ledger = os.path.join(tmp, "wide_ledger")
    wide = spark.createDataFrame(
        [(1, "a"), (2**40, "big"), (None, "n1")],
        "idem_key long, payload string",
    )
    assert write_jsonl_idempotent(wide, path, ledger) == 3
    assert write_jsonl_idempotent(wide, path, ledger) == 0  # replayable
    assert spark.read.parquet(ledger).dtypes == [("idem_key", "string")]

    narrow = spark.createDataFrame(
        [(1, "a"), (3, "c")], "idem_key int, payload string"
    )
    assert write_jsonl_idempotent(narrow, path, ledger) == 1  # only key 3
    lt = spark.read.parquet(ledger)
    assert lt.dtypes == [("idem_key", "string")]
    assert sorted(r.idem_key for r in lt.collect() if len(r.idem_key) < 64) == [
        "1", "1099511627776", "3",
    ]




@pytest.mark.parametrize(
    "rewrites", [False, True], ids=["upserts", "upserts_merge_compact"]
)
def test_kv_upsert_partition_values_match_dict_model(spark, tmp, rewrites):
    """Partition values round-trip exactly through repeated upserts into
    a string-partitioned table: integer-looking strings ('007'), NULL,
    values that need path escaping (space, '/', '%') and partitions new to
    the table. Reading the table back used to infer 'p' as int from
    'p=007'/'p=010', and the rewrite minted p=7/p=10 beside them: four
    rows for two keys. With ``rewrites``, a ``merge_into`` (one insert
    into p=007) and a ``compact_parquet(sort_by=["k"])`` run after every
    upsert: both used to read the table the same inferring way."""
    from weightlifting_wod_etl_spark.operators.compact import compact_parquet
    from weightlifting_wod_etl_spark.operators.merge import merge_into
    from weightlifting_wod_etl_spark.sinks import kv_upsert_parquet

    path = os.path.join(tmp, "kv_pvals")
    schema = "k long, p string, ver long, v string"
    rounds = [
        [(1, "007", 1, "a"), (2, "010", 1, "b"), (3, None, 1, "c")],
        # same keys again (the int-like dirs are read back) + a new partition
        [(1, "007", 2, "a2"), (2, "010", 2, "b2"), (3, None, 2, "c2"),
         (4, "042", 1, "d")],
        [(5, "a b", 1, "e"), (6, "x/y", 1, "f"), (7, "50%", 1, "g")],
        [(5, "a b", 2, "e2"), (6, "x/y", 0, "stale"), (7, "50%", 2, "g2"),
         (3, None, 1, "old"), (8, "new part", 1, "h")],
    ]
    model = {}
    for rows in rounds:
        kv_upsert_parquet(
            spark.createDataFrame(rows, schema), path, key_cols=["k", "p"],
            order_cols=["ver"], partition_by=["p"],
        )
        for k, p, ver, v in rows:
            if (k, p) not in model or ver > model[(k, p)][0]:
                model[(k, p)] = (ver, v)
        if rewrites:
            row = (100 + len(model), "007", 1, "merged")
            merge_into(spark, path, spark.createDataFrame([row], schema), on=["k"])
            model[row[:2]] = row[2:]
            compact_parquet(spark, path, sort_by=["k"])
        got = [
            ((r.k, r.p), (r.ver, r.v))
            for r in spark.read.schema(schema).parquet(resolve(path)).collect()
        ]
        assert len(got) == len(model)  # no duplicate keys
        assert dict(got) == model
    assert not {"p=7", "p=10", "p=42"} & set(os.listdir(resolve(path)))


def test_jsonl_idempotent_job_count_and_empty_replay(spark, tmp):
    """A batch against an existing ledger runs exactly four Spark jobs:
    two adaptive query stages (the in-batch dedup's shuffle and the
    ledger side of the anti-join), the JSON write, which also observes
    the written-row count, and the ledger append. Reading the ledger
    starts no schema-inference job, and there is no separate count()
    job. A full replay then adds no ledger file and no JSON part file."""
    from weightlifting_wod_etl_spark.sinks import write_jsonl_idempotent

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("idem_key")
        )

    out, ledger = os.path.join(tmp, "out"), os.path.join(tmp, "ledger")
    assert write_jsonl_idempotent(batch(0, 10), out, ledger) == 10
    sc = spark.sparkContext
    group = "test-jsonl-idempotent-jobs"
    sc.setJobGroup(group, group)
    try:
        assert write_jsonl_idempotent(batch(5, 15), out, ledger) == 5
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # the store fills async
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4

    ledger_before, out_before = os.listdir(ledger), os.listdir(out)
    assert write_jsonl_idempotent(batch(0, 15), out, ledger) == 0
    assert sorted(os.listdir(ledger)) == sorted(ledger_before)
    assert sorted(os.listdir(out)) == sorted(out_before)
    assert spark.read.json(out).count() == 15
