"""Central declaration layer: named queries + their DuckDB oracle SQL.

Every operator from SURVEY.md §2 (plus the M6 large-scale extensions) gets a
named entry here; the driver runs the Spark callable and the oracle SQL
side-by-side at sf=0.01 and hash-compares the results.

Determinism rules applied to every query (SURVEY.md §7.4):
  - aggregate / computed columns are aliased identically in Spark and SQL;
  - float outputs are rounded before comparison;
  - any ordering relied upon is a TOTAL order (explicit tie-breakers);
  - timestamps compared at micro/millisecond precision via formatting, so
    parquet ns-vs-us physical precision cannot flip a hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Register a (spark, sf_dir) -> DataFrame callable and its oracle SQL.

    ``oracle=None`` marks a genuinely non-SQL-expressible op — the driver
    then records a weaker rows-only check (SURVEY.md §7.3).
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Pin timezone/AQE even when the driver session isn't ours —
            # date/timestamp rendering must not depend on host TZ.
            from .session import tune_for_session

            tune_for_session(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        # a silent overwrite would drop the earlier query from driver and
        # bench coverage — and could pair a stale oracle with a new
        # callable if the re-registration passes oracle=None
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Import for registration side effects — each module registers its queries.
from .queries import (  # noqa: E402,F401
    aggregates,
    analytics_ext,
    cdc_interval,
    core,
    curation_ext,
    dates_clean,
    events_analytics,
    functions_surface,
    joins_dedup,
    llm_ops,
    relational_ext,
    sampling,
    sketches,
    text_mining,
    text_sessionize,
    timeseries,
    tpch_ext,
    wod_e2e,
)

