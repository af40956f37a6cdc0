"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

Implementation lives in ``weightlifting_wod_etl_spark/``; this module is
the thin declaration layer mapping SURVEY.md §2 operators to named queries
and their ANSI-SQL oracles.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from weightlifting_wod_etl_spark import queries_registry  # noqa: E402
from weightlifting_wod_etl_spark.plans.flagship import sessionize_events  # noqa: E402
from weightlifting_wod_etl_spark.session import tune_for_session  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    tune_for_session(spark)
    return sessionize_events(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return queries_registry.QUERIES


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query."""
    return queries_registry.ORACLES
