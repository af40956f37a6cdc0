"""Process pins for the external driver contract.

Two invariants that have bitten before:

1. The driver's session is not ours and may carry a hostile timezone;
   the registry wrapper must re-pin UTC on every invocation or every
   date/timestamp query silently shifts (the round-3 driver failure).
2. ``tune_for_session`` gives a session the engine did not build the same
   runtime conf ``get_spark`` builds in (one table, ``RUNTIME_CONF``).
3. bench.py's one-line stdout contract: the external driver parses only the
   last 2000 chars of its output, so the summary line must fit and must
   survive a failing query.
"""

from __future__ import annotations

import json
import os


def test_hostile_session_timezone_is_repinned(spark, sf_dir):
    """Driver pattern: conf may be hostile BEFORE queries() is called;
    the wrapper must pin UTC so results match a clean-UTC run."""
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    def run(name):
        return sorted(map(tuple, QUERIES[name](spark, sf_dir).collect()))

    names = ["q_window_dedup", "q_tumbling_window", "q_date_extract"]
    baseline = {n: run(n) for n in names}
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        hostile = {n: run(n) for n in names}
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    for n in names:
        assert hostile[n] == baseline[n], f"{n} shifted under hostile TZ"


def test_tune_for_session_sets_what_get_spark_sets(spark):
    from weightlifting_wod_etl_spark.session import RUNTIME_CONF, tune_for_session

    vanilla = spark.newSession()
    for k in RUNTIME_CONF:
        vanilla.conf.unset(k)
    assert {k: vanilla.conf.get(k) for k in RUNTIME_CONF} != RUNTIME_CONF
    tune_for_session(vanilla)
    assert {k: vanilla.conf.get(k) for k in RUNTIME_CONF} == {
        k: spark.conf.get(k) for k in RUNTIME_CONF
    } == RUNTIME_CONF


def test_bench_main_prints_contract_line_and_writes_detail(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    """bench.py's contract, end to end in-process at sf0.01: one JSON
    line under 2000 chars carrying the summary keys, a broken query
    captured as an error instead of killing the run, and the full
    per-query payload (min-of-N and cold timings) written to
    BENCH_DETAIL_r01.json — round 1 because no BENCH_r*.json exists in
    the redirected repo dir."""
    import bench
    from weightlifting_wod_etl_spark import session
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    def boom(spark, sf_dir):
        raise RuntimeError("planted failure")

    monkeypatch.setitem(QUERIES, "q_bench_boom", boom)
    good = ["q_tpch_q6", "q_semi_join"]
    monkeypatch.setattr(bench, "HEADLINE", [*good, "q_bench_boom"])
    monkeypatch.setattr(bench, "REPO_DIR", str(tmp_path))
    # reuse the test session as is: get_spark on a live session would
    # overwrite its runtime conf (shuffle partitions) for later tests
    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    monkeypatch.setenv(
        "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(sf_dir), "sf0.01")
    )
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "2")

    try:
        bench.main()
    finally:
        spark.sparkContext.setLogLevel("WARN")  # main() quiets it to ERROR

    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line) < 2000
    out = json.loads(line)
    assert set(out) == {
        "metric", "value", "unit", "sf", "n_queries", "n_errors",
        "queries", "vs_prev_geomean", "vs_prev_worst5", "errors", "detail",
    }
    assert (out["sf"], out["n_queries"], out["n_errors"]) == (0.01, 2, 1)
    assert "planted failure" in out["errors"]["q_bench_boom"]
    assert out["vs_prev_geomean"] is None  # no prior round on disk
    assert out["detail"] == "BENCH_DETAIL_r01.json"
    detail = json.loads((tmp_path / "BENCH_DETAIL_r01.json").read_text())
    assert set(detail["queries"]) == set(detail["cold"]) == set(good)
    assert all(detail["cold"][q] >= detail["queries"][q] > 0 for q in good)
    assert "q_bench_boom" in detail["errors"]


def test_bench_vs_prev_reads_latest_prior_round_at_same_sf(
    tmp_path, monkeypatch
):
    """vs_prev compares against the LATEST prior round recorded at the
    same sf — not the best timing folded over every round, which turned
    one fast sample into a standing baseline. Same-round and other-sf
    details are ignored."""
    import bench

    def detail(rnd, sf, sec):
        (tmp_path / f"BENCH_DETAIL_r{rnd:02d}.json").write_text(
            json.dumps({"sf": sf, "queries": {"q_a": sec}})
        )

    monkeypatch.setattr(bench, "REPO_DIR", str(tmp_path))
    (tmp_path / "BENCH_r07.json").write_text("{}")  # current round = 8
    detail(5, 0.1, 0.5)  # faster, but older
    detail(6, 0.1, 2.0)
    detail(7, 0.01, 9.0)  # latest, but another sf
    detail(8, 0.1, 0.1)  # this round's own earlier run
    assert bench._latest_prior_timings(0.1) == {"q_a": 2.0}
    assert bench._latest_prior_timings(1.0) == {}


def test_bench_headline_names_registered_queries_once():
    """bench.main only warns on stderr and skips a HEADLINE name that is
    not registered, so a retired or renamed query would silently drop out
    of the sweep; a duplicate would be timed twice."""
    import bench
    from weightlifting_wod_etl_spark.queries_registry import QUERIES

    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert set(bench.HEADLINE) <= set(QUERIES)
