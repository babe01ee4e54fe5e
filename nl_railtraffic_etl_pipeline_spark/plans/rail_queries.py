"""The reference's six analytics queries, Q1-Q6, over given DataFrames.

Each function runs its query's template from ``plans/sql_queries.py``, the
one definition of the query, as ``spark.sql(template, disruptions=df)``.
Spark binds each frame to a temporary view for that one call and drops the
view once the text is analysed, so nothing global is registered and the
result is an ordinary lazy DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import sql_queries as sq

__all__ = [
    "rolling_trend",
    "station_severity",
    "day_over_day",
    "peak_hours",
    "complex_analytics",
    "overlapping_disruptions",
]


def rolling_trend(disruptions: DataFrame) -> DataFrame:
    """Q1 — 30-day trend with a 7-row rolling sum/avg per type."""
    return disruptions.sparkSession.sql(sq.ROLLING_TREND_QUERY, disruptions=disruptions)


def station_severity(disruptions: DataFrame, stations: DataFrame) -> DataFrame:
    """Q2 — station severity percentile ranking, joined to the stations."""
    return disruptions.sparkSession.sql(
        sq.STATION_SEVERITY_QUERY, disruptions=disruptions, stations=stations
    )


def day_over_day(disruptions: DataFrame) -> DataFrame:
    """Q3 — day-over-day deltas with LAG/LEAD and safe division."""
    return disruptions.sparkSession.sql(sq.DAY_OVER_DAY_QUERY, disruptions=disruptions)


def peak_hours(disruptions: DataFrame) -> DataFrame:
    """Q4 — the 20 peak (hour, weekday) buckets with the ranking trio."""
    return disruptions.sparkSession.sql(sq.PEAK_HOUR_QUERY, disruptions=disruptions)


def complex_analytics(disruptions: DataFrame) -> DataFrame:
    """Q5 — executive dashboard: rolling totals, worst station, cancel rate."""
    return disruptions.sparkSession.sql(
        sq.COMPLEX_ANALYTICS_QUERY, disruptions=disruptions
    )


def overlapping_disruptions(disruptions: DataFrame) -> DataFrame:
    """Q6 — the 50 longest overlaps of recent disruptions with any other."""
    return disruptions.sparkSession.sql(
        sq.OVERLAPPING_DISRUPTIONS_QUERY, disruptions=disruptions
    )
