"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship rolling-trend query at sf0.001;
``queries()`` / ``oracle_sql()`` expose the registry from
``nl_railtraffic_etl_pipeline_spark.plans.registry`` in registry order:
the six reference analytics queries, the ``daily_stats`` roll-up, the run
report, the latest-wins upsert and the pipeline lake round-trip.  Every
gate carries a DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from nl_railtraffic_etl_pipeline_spark.plans.registry import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (Q1 rolling trend) on /root/testdata/sf0.001."""
    return QUERIES["rail_q1_rolling_trend"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
