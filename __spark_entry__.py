"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``lab5_lakehouse_etl_spark`` package; this
module just re-exports the declared-query registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lab5_lakehouse_etl_spark import queries as Q  # noqa: E402
from lab5_lakehouse_etl_spark.queries import aggregates  # noqa: E402  (flagship)

Q.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the TPC-H Q1-shaped
    grouped aggregation (scan → pushed filter → partial agg → final agg)."""
    return aggregates.q_agg_groupby(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered so
    the driver's 50-query correctness window covers never-verified
    queries first, then the least recently verified ones (see
    Q.ordered_queries)."""
    return Q.ordered_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB twin SQL for every SQL-expressible declared query."""
    return dict(Q.ORACLES)
