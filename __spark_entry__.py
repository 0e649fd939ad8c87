"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual inventory lives in ``etl_lealone_spark/workloads/`` — one
module per operator family from SURVEY.md §2 plus the BASELINE.json
extension operators (dedup / similarity / text analysis).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_lealone_spark import workloads as _workloads


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: revenue per nation
    (5-way join + broadcast dims + decimal-exact aggregation)."""
    from etl_lealone_spark.workloads.core_sql import join_inner_agg

    return join_inner_agg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _workloads.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query; every query has one."""
    return _workloads.oracle_sql()
