"""Every registered query must match its DuckDB oracle at sf0.001.

This is the correctness gate for all registered queries (the external
driver runs the same comparison at sf0.01) — run it before every commit.
"""

from __future__ import annotations

import pytest

from tests.parity import assert_frames_match


def _registry():
    from weightlifting_wod_etl_spark import queries_registry

    return queries_registry


def _query_names():
    return sorted(_registry().QUERIES)


def _check_approx_distinct(spark_pdf, duck):
    """HLL estimates are engine-specific so no hash oracle — but the
    default rsd is 0.05, so the estimate must sit within a generous 3x
    of that band around the exact distinct count (and n_events exact)."""
    exact_users, exact_events = duck.execute(
        "SELECT count(DISTINCT user_id), count(*) FROM events"
    ).fetchone()
    assert len(spark_pdf) == 1
    row = spark_pdf.iloc[0]
    assert int(row["n_events"]) == exact_events
    approx = int(row["approx_users"])
    assert abs(approx - exact_users) <= max(3, 0.15 * exact_users), (
        approx,
        exact_users,
    )


_ROWS_ONLY_CHECKS = {
    "q_approx_distinct": _check_approx_distinct,
}


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_oracle(spark, duck, sf_dir, name):
    reg = _registry()
    sdf = reg.QUERIES[name](spark, sf_dir)
    spark_pdf = sdf.toPandas()
    if name not in reg.ORACLES:
        # Non-SQL-expressible ops get no hash oracle, but they must NOT
        # degrade to an unfalsifiable smoke test: each gets a value-level
        # bound computed from an exact DuckDB aggregate.
        checker = _ROWS_ONLY_CHECKS.get(name)
        assert checker is not None, (
            f"{name} has no oracle and no rows-only value check — add one "
            "to _ROWS_ONLY_CHECKS so the query stays falsifiable"
        )
        checker(spark_pdf, duck)
        return
    duck_pdf = duck.execute(reg.ORACLES[name]).fetchdf()
    assert_frames_match(spark_pdf, duck_pdf, name)


def test_registry_is_consistent():
    reg = _registry()
    assert set(reg.ORACLES) <= set(reg.QUERIES)
    assert all(callable(fn) for fn in reg.QUERIES.values())
    # the declared non-SQL-expressible set is exactly the oracle-less set
    assert set(reg.QUERIES) - set(reg.ORACLES) == {"q_approx_distinct"}


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert df.columns == [
        "user_id",
        "session_id",
        "session_start",
        "session_end",
        "n_events",
        "sum_value",
    ]
    assert len(rows) > 0
