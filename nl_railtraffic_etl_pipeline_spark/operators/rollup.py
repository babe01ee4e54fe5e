"""Daily roll-up builders: the ``daily_stats`` table and the run report.

``daily_stats`` is declared in the reference schema (schema.sql:48-57) but
never populated (0 rows in data/nl_rail.db) — SURVEY §2.6 A9 calls for the
obvious builder.  The run report mirrors ``ETLPipeline._generate_report``
(pipeline.py:304-342).

Mode-style picks (most_affected_station, peak_hour) are
``mode(..., deterministic=True)`` aggregates, which break ties towards the
lowest value — deterministic at any parallelism.  Both outputs are one
aggregation each: ``daily_stats`` is one ``groupBy`` over the exploded
station rows (one shuffle, no join), and the report is a list of
conditional aggregates with no filter, so the pipeline can observe it on
the clean-zone write instead of scanning the zone again.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.compat import exact_avg, hour_bucket


def build_daily_stats(
    disruptions: DataFrame, run_ts: _dt.datetime | None = None
) -> DataFrame:
    """Roll ``disruptions`` up to one row per DATE(start_time).

    Columns per schema.sql:48-57; most_affected_station is the modal station
    among that day's ``affected_stations`` elements (ties -> lexicographically
    first code; a day with no station lists gets NULL), peak_hour the modal
    hour (ties -> earliest hour: the zero-padded 'HH' bucket orders
    lexically as numerically).

    One aggregation over one scan: each disruption is exploded into one row
    per station element, as the reference's ``json_each`` unnest
    (aggregators.py:73-77) does — ``''`` yields one ``''`` element, ``',X'``
    yields ``''`` and ``'X'`` — and ``posexplode_outer`` keeps a NULL list
    as one row with a NULL position and station.  The per-disruption
    aggregates (count, cancellations, average, peak hour) read only each
    disruption's first row (position NULL or 0); the maximum and the modal
    station read every row, since repeats cannot move a maximum and a
    ``mode`` skips NULL stations.
    """
    run_ts = run_ts or _dt.datetime.now(_dt.timezone.utc)
    rows = disruptions.filter(F.col("start_time").isNotNull()).select(
        F.to_date("start_time").alias("date"),
        "type",
        "duration_minutes",
        "start_time",
        F.posexplode_outer(F.split("affected_stations", ",")).alias("pos", "station"),
    )
    first = F.col("pos").isNull() | (F.col("pos") == 0)
    return rows.groupBy("date").agg(
        F.count(F.when(first, 1)).cast("int").alias("total_disruptions"),
        F.sum(F.when(first & (F.col("type") == "cancellation"), 1).otherwise(0))
        .cast("int")
        .alias("total_cancellations"),
        exact_avg(F.when(first, F.col("duration_minutes"))).alias("avg_duration_minutes"),
        F.max("duration_minutes").cast("int").alias("max_duration_minutes"),
        F.mode("station", deterministic=True).alias("most_affected_station"),
        F.mode(F.when(first, hour_bucket(F.col("start_time"))), deterministic=True)
        .cast("int")
        .alias("peak_hour"),
        F.lit(run_ts).alias("calculated_at"),
    )


def report_metrics(as_of=None) -> list[Column]:
    """The run report's six aggregates (pipeline.py:318-330) over the rows
    whose ``created_at`` falls on ``as_of`` (the current date when None).

    Each aggregate applies the day condition itself, so the list works as
    ``observe`` metrics on any action over the whole table.  On a day with
    no rows the count is 0 and every other value NULL, as the filtered
    aggregate the reference runs gives.
    """
    today = F.to_date("created_at") == (
        F.current_date() if as_of is None else F.lit(as_of)
    )

    def of_type(kind: str) -> Column:
        return F.sum(F.when(today & (F.col("type") == kind), 1).when(today, 0))

    return [
        F.count(F.when(today, 1)).alias("total_records"),
        of_type("disruption").alias("disruptions"),
        of_type("maintenance").alias("maintenance"),
        of_type("calamity").alias("calamities"),
        F.round(exact_avg(F.when(today, F.col("duration_minutes"))), 1).alias(
            "avg_duration_minutes"
        ),
        F.max(F.when(today, F.col("impact_level"))).alias("max_impact_level"),
    ]


def run_report(disruptions: DataFrame, as_of_date=None) -> DataFrame:
    """The pipeline's end-of-run aggregate as a one-row frame:
    ``report_metrics`` over ``disruptions``."""
    return disruptions.agg(*report_metrics(as_of_date))
