"""The benchmark's own tests: run with ``python3 -m pytest wodbench -q``
from the repository root."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
from spans import Tracer  # noqa: E402


def _ingest_inputs(seed: int):
    plan = gen.IngestPlan(seed, 40)
    return [p.row() for p in plan.backfill], [[p.row() for p in plan.next_batch()] for _ in range(5)]


def test_generator_is_deterministic_per_seed():
    assert _ingest_inputs(3) == _ingest_inputs(3)
    assert _ingest_inputs(3) != _ingest_inputs(4)
    assert gen.cdc_batch(3, 5, 1000, 200, 50) == gen.cdc_batch(3, 5, 1000, 200, 50)
    assert gen.cdc_batch(3, 5, 1000, 200, 50) != gen.cdc_batch(4, 5, 1000, 200, 50)
    assert gen.cdc_base(3, 100) == gen.cdc_base(3, 100)
    a, b = gen.star_tables(3, 0.001), gen.star_tables(3, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(gen.star_tables(4, 0.001)["lineitem"])


def test_trickle_batches_mix_new_edited_and_unchanged_posts():
    plan = gen.IngestPlan(5, 60)
    known = dict(plan.current)
    new = edited = unchanged = 0
    for _ in range(20):
        for p in plan.next_batch():
            if p.post_id not in known:
                new += 1
            elif p.records() != known[p.post_id].records():
                edited += 1
            else:
                unchanged += 1
            known[p.post_id] = p
    assert new and edited and unchanged


def test_cdc_replay_keeps_last_by_seq_and_drops_null_keys():
    table = {2: ("O", 1.0, 1), 4: ("F", 2.0, 2)}
    batch = [
        (2, "U", 1, "P", 3.0, 3),
        (2, "D", 2, None, None, None),  # later seq wins: deleted
        (4, "U", 5, "O", 4.0, 4),
        (4, "U", 5, "P", 5.0, 5),  # same seq: status DESC picks 'P'
        (6, "D", 6, None, None, None),  # delete of an absent key
        (7, "I", 7, "O", 6.0, 6),
        (None, "U", 8, "O", 7.0, 7),  # unaddressable
    ]
    stats = checks.cdc_replay(table, batch)
    assert table == {4: ("P", 5.0, 5), 7: ("O", 6.0, 6)}
    assert stats == {"matched": 1, "inserted": 1, "deleted": 1}


def test_a_dropped_output_row_is_flagged():
    plan = gen.IngestPlan(6, 30)
    expected = [r for p in plan.current.values() for r in p.records()]
    assert checks.row_diff(expected, list(reversed(expected))) == 0
    assert checks.row_diff(expected, expected[1:]) == 1
    cols = list(gen.RECORD_COLS)
    assert checks.result_digest(cols, expected) != checks.result_digest(cols, expected[:-1])
    assert checks.result_digest(cols, expected) == checks.result_digest(cols[::-1], [r[::-1] for r in expected])


def test_latency_samples_leave_out_batches_taken_under_steal():
    from types import SimpleNamespace

    from workloads import Workload

    wl = Workload(SimpleNamespace(spark=None, tracer=None, work=""))
    for s, steal in ((2.0, 0.0), (2.1, 0.004), (2.0, 0.009), (2.1, 0.0)):
        wl.sample(s, False, steal)
    assert wl.latency_samples() == wl.op_s  # a quiet host: every sample
    wl = Workload(SimpleNamespace(spark=None, tracer=None, work=""))
    for s, steal in ((2.5, 0.03), (2.0, 0.002), (2.6, 0.04), (2.1, 0.02), (2.4, 0.05)):
        wl.sample(s, False, steal)
    assert wl.latency_samples() == [2.0, 2.1]  # the two with the least steal


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from weightlifting_wod_etl_spark.session import get_spark

    s = get_spark(
        app_name="wodbench-tests", cpus=2, shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "1g", "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh"))},
    )
    yield s
    s.stop()


def test_tracer_reads_nonzero_counters_for_one_span(spark):
    tracer = Tracer(True)
    tracer.bind(spark)
    with tracer.span("outer") as outer:
        with tracer.span("inner") as inner_span:
            spark.range(0, 200_000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    inner = tracer.counters(inner_span)
    for k in ("s", "jobs", "tasks", "cpu_ms", "shuffle_bytes", "max_task_share"):
        assert inner[k] > 0, k
    assert inner_span.parent == outer.id
    assert tracer.counters(outer)["jobs"] == inner["jobs"]  # a parent includes what it caused
    off = Tracer(False)
    with off.span("x") as sp:
        assert sp is None
    assert not off.spans


def test_generated_posts_plan_matches_the_pipeline(spark, tmp_path):
    """The expected records come from the generator's plan; the pipeline
    must produce exactly them from the generated html."""
    from weightlifting_wod_etl_spark.plans.wod_pipeline import wod_pipeline

    plan = gen.IngestPlan(7, 25)
    path = str(tmp_path / "posts.parquet")
    gen.write_posts(plan.backfill, path)
    got = [tuple(r) for r in wod_pipeline(spark.read.parquet(path)).select(*gen.RECORD_COLS).collect()]
    expected = [r for p in plan.current.values() for r in p.records()]
    assert checks.row_diff(expected, got) == 0


def test_manifest_names_match_the_runner():
    import json

    import run
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        manifest = json.load(f)
    assert {w["name"] for w in manifest["workloads"]} <= set(workloads.WORKLOADS)
    assert [m["name"] for m in manifest["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in manifest["per_layer"]] == list(run.PER_LAYER_NAMES)
