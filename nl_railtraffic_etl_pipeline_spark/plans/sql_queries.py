"""The reference's six analytics queries, Q1-Q6, as Spark-SQL text.

This module is the one definition of each query.  The reference ships
each as a SQL string run against the warehouse
(``src/transformation/aggregators.py:20-325``); here each is a template
whose table references are ``{disruptions}`` and ``{stations}``.  It is
run two ways:

- ``SQL_QUERIES[name]``: the template rendered over the warehouse view
  names, for a bare ``spark.sql(...)`` after ``register_warehouse_views``;
- ``plans/rail_queries.py``: the template run over given DataFrames with
  ``spark.sql(template, disruptions=df)``.

Dialect translation notes (SQLite -> Spark SQL):

- ``date('now', '-30 days')`` -> as-of anchoring from the data's
  ``MAX(start_time)`` (scalar subquery; reproducible runs, SURVEY §7.3.3).
- ``AVG(double)`` -> DECIMAL(24,6)-quantized exact average (order-exact at
  any parallelism; see ``functions/compat.exact_avg``).
- ``STRFTIME('%w'/'%H')`` -> ``DAYOFWEEK(ts)-1`` / ``DATE_FORMAT(ts,'HH')``.
- ``julianday`` minute deltas -> ``UNIX_TIMESTAMP`` epoch subtraction.
- ``json_each`` CSV unnest -> ``LATERAL VIEW EXPLODE(SPLIT(...))``.
- ``SUM(x) FILTER (WHERE ...) OVER (...)`` (Q5) -> ``SUM(CASE ...) OVER``:
  Spark has no FILTER on window functions (SURVEY §7.3.1).
- Q6's interval theta self-join -> time-bucket equi-join with the
  first-shared-bucket dedup guard (see ``_BUCKET_SECS``).
- Window/LIMIT orderings gain explicit tiebreaks wherever the reference's
  order is ambiguous under ties: the reference leaves tie order to SQLite,
  and no two engines reproduce it.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import SparkSession

__all__ = [
    "ROLLING_TREND_QUERY",
    "STATION_SEVERITY_QUERY",
    "DAY_OVER_DAY_QUERY",
    "PEAK_HOUR_QUERY",
    "COMPLEX_ANALYTICS_QUERY",
    "OVERLAPPING_DISRUPTIONS_QUERY",
    "SQL_QUERIES",
    "register_warehouse_views",
]

#: exact_avg(x) in SQL — DECIMAL-quantized, order-independent mean.
_EXACT_AVG = (
    "CAST(SUM(CAST({x} AS DECIMAL(24,6))) AS DOUBLE) / COUNT({x})"
)

#: Data-derived "now" (the reference's date('now') under as-of semantics).
_AS_OF = "(SELECT MAX(start_time) FROM {disruptions})"

#: The reference's 7-day frames: rows-based, not range-based (SURVEY §7.3.9).
_ROLLING = "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW"


# Q1 — ROLLING_TREND_QUERY (aggregators.py:20-57)
ROLLING_TREND_QUERY = f"""
WITH daily_counts AS (
    SELECT TO_DATE(start_time) AS disruption_date,
           type,
           COUNT(*) AS incident_count,
           {_EXACT_AVG.format(x='duration_minutes')} AS _avg_dur
    FROM {{disruptions}}
    WHERE start_time >= DATE_SUB(TO_DATE({_AS_OF}), 30)
    GROUP BY 1, 2
)
SELECT
    disruption_date,
    type,
    incident_count,
    ROUND(_avg_dur, 1) AS avg_duration_minutes,
    SUM(incident_count) OVER (
        PARTITION BY type ORDER BY disruption_date {_ROLLING}
    ) AS rolling_7day_total,
    ROUND(AVG(incident_count) OVER (
        PARTITION BY type ORDER BY disruption_date {_ROLLING}
    ), 2) AS rolling_7day_avg
FROM daily_counts
ORDER BY disruption_date DESC, incident_count DESC
"""


# Q2 — STATION_SEVERITY_QUERY (aggregators.py:65-120)
STATION_SEVERITY_QUERY = f"""
WITH unnested AS (
    SELECT d.disruption_id, d.impact_level, d.duration_minutes,
           TRIM(s.code) AS station_code
    FROM {{disruptions}} d
    LATERAL VIEW EXPLODE(SPLIT(d.affected_stations, ',')) s AS code
    WHERE d.affected_stations IS NOT NULL
),
station_aggregates AS (
    SELECT station_code,
           COUNT(DISTINCT disruption_id) AS total_disruptions,
           {_EXACT_AVG.format(x='duration_minutes')} AS _avg_dur,
           AVG(impact_level) AS _avg_impact,
           MAX(impact_level) AS max_impact_level
    FROM unnested
    GROUP BY station_code
)
SELECT /*+ BROADCAST(st) */
    sa.station_code,
    st.station_name,
    sa.total_disruptions,
    ROUND(sa._avg_dur, 1) AS avg_duration_minutes,
    ROUND(sa._avg_impact, 2) AS avg_impact_level,
    ROUND(PERCENT_RANK() OVER (ORDER BY sa.total_disruptions), 3)
        AS disruption_percentile,
    DENSE_RANK() OVER (ORDER BY sa.total_disruptions DESC) AS severity_rank,
    CASE
        WHEN PERCENT_RANK() OVER (ORDER BY sa.total_disruptions) > 0.9
            THEN 'HIGH RISK'
        WHEN PERCENT_RANK() OVER (ORDER BY sa.total_disruptions) > 0.7
            THEN 'MEDIUM RISK'
        ELSE 'LOW RISK'
    END AS risk_category
FROM station_aggregates sa
LEFT JOIN {{stations}} st ON sa.station_code = st.station_code
ORDER BY sa.total_disruptions DESC, sa.station_code
"""


# Q3 — DAY_OVER_DAY_QUERY (aggregators.py:128-174)
DAY_OVER_DAY_QUERY = f"""
WITH daily_summary AS (
    SELECT TO_DATE(start_time) AS disruption_date,
           COUNT(*) AS total_disruptions,
           SUM(CASE WHEN type = 'calamity' THEN 1 ELSE 0 END) AS calamities,
           SUM(CASE WHEN type = 'maintenance' THEN 1 ELSE 0 END) AS maintenance,
           SUM(CASE WHEN type = 'disruption' THEN 1 ELSE 0 END) AS disruptions,
           ROUND({_EXACT_AVG.format(x='duration_minutes')}, 1) AS avg_duration,
           MAX(impact_level) AS max_impact
    FROM {{disruptions}}
    GROUP BY 1
)
SELECT
    disruption_date,
    total_disruptions,
    avg_duration,
    max_impact,
    LAG(total_disruptions, 1) OVER (ORDER BY disruption_date) AS prev_day_total,
    LEAD(total_disruptions, 1) OVER (ORDER BY disruption_date) AS next_day_total,
    total_disruptions - LAG(total_disruptions, 1) OVER (ORDER BY disruption_date)
        AS dod_delta,
    ROUND(100.0D * (total_disruptions
                   - LAG(total_disruptions, 1) OVER (ORDER BY disruption_date))
          / NULLIF(LAG(total_disruptions, 1) OVER (ORDER BY disruption_date), 0),
          1) AS dod_pct_change,
    SUM(total_disruptions) OVER (ORDER BY disruption_date {_ROLLING})
        AS rolling_7day
FROM daily_summary
ORDER BY disruption_date DESC
"""


# Q4 — PEAK_HOUR_QUERY (aggregators.py:182-218)
PEAK_HOUR_QUERY = f"""
WITH hourly_stats AS (
    SELECT DATE_FORMAT(start_time, 'HH') AS hour_of_day,
           CAST(DAYOFWEEK(start_time) - 1 AS STRING) AS day_of_week,
           COUNT(*) AS disruption_count,
           ROUND({_EXACT_AVG.format(x='duration_minutes')}, 1) AS avg_duration,
           ROUND(AVG(impact_level), 2) AS avg_impact
    FROM {{disruptions}}
    WHERE start_time IS NOT NULL
    GROUP BY 1, 2
)
SELECT
    CASE day_of_week
        WHEN '0' THEN 'Sunday'   WHEN '1' THEN 'Monday'
        WHEN '2' THEN 'Tuesday'  WHEN '3' THEN 'Wednesday'
        WHEN '4' THEN 'Thursday' WHEN '5' THEN 'Friday'
        WHEN '6' THEN 'Saturday'
    END AS day_name,
    CONCAT(hour_of_day, ':00') AS hour_label,
    disruption_count,
    avg_duration,
    avg_impact,
    ROW_NUMBER() OVER (
        ORDER BY disruption_count DESC, day_of_week, hour_of_day
    ) AS row_num,
    RANK() OVER (ORDER BY disruption_count DESC) AS rank_with_gaps,
    DENSE_RANK() OVER (ORDER BY disruption_count DESC) AS dense_rank
FROM hourly_stats
ORDER BY disruption_count DESC, row_num
LIMIT 20
"""


_JD_MIN = "(UNIX_TIMESTAMP(end_time) - UNIX_TIMESTAMP(start_time)) / 60.0D"

# Q5 — COMPLEX_ANALYTICS_QUERY (aggregators.py:227-290)
COMPLEX_ANALYTICS_QUERY = f"""
WITH metrics AS (
    SELECT TO_DATE(start_time) AS disruption_date,
           type,
           COUNT(*) AS incident_count,
           {_EXACT_AVG.format(x=_JD_MIN)} AS _avg_dur
    FROM {{disruptions}}
    WHERE start_time >= DATE_SUB(TO_DATE({_AS_OF}), 30)
    GROUP BY 1, 2
),
with_roll AS (
    SELECT *,
           SUM(incident_count) OVER (
               ORDER BY disruption_date, type {_ROLLING}
           ) AS rolling_7day_total
    FROM metrics
),
station_counts AS (
    SELECT TRIM(s.code) AS station_code, COUNT(*) AS disruption_count
    FROM {{disruptions}} d
    LATERAL VIEW EXPLODE(SPLIT(d.affected_stations, ',')) s AS code
    WHERE d.affected_stations IS NOT NULL
    GROUP BY 1
),
worst AS (
    SELECT FIRST(station_code) AS worst_station
    FROM (
        SELECT station_code, disruption_count
        FROM (
            SELECT station_code, disruption_count,
                   PERCENT_RANK() OVER (ORDER BY disruption_count) AS sp
            FROM station_counts
        )
        WHERE sp > 0.9
        ORDER BY disruption_count DESC, station_code
        LIMIT 1
    )
)
SELECT
    m.disruption_date,
    m.type,
    m.incident_count,
    ROUND(m._avg_dur, 2) AS avg_duration,
    m.rolling_7day_total,
    w.worst_station,
    ROUND(100.0D
          * SUM(CASE WHEN m.type = 'cancellation' THEN m.incident_count END)
            OVER (PARTITION BY m.disruption_date)
          / NULLIF(SUM(m.incident_count) OVER (PARTITION BY m.disruption_date),
                   0),
          2) AS cancellation_rate_pct
FROM with_roll m CROSS JOIN worst w
ORDER BY m.disruption_date DESC, m.incident_count DESC
"""


#: Q6 bucket width.  The reference's plain theta join
#: (``a.start < b.end AND a.end > b.start``) plans as a nested-loop cross
#: product.  Each interval is exploded into the 6 h buckets it spans, and
#: pairs equi-join on the bucket with the exact overlap predicates as
#: residual filters.  A pair sharing several buckets is kept only in its
#: first shared one, so the result equals the theta join for any width.
_BUCKET_SECS = 6 * 60 * 60

# Q6 — OVERLAPPING_DISRUPTIONS_QUERY (aggregators.py:298-325).  A NULL
# end_time never satisfies the overlap predicates, so those rows are dropped
# up front; the 7-day recency filter applies to side A only, as in the
# reference (aggregators.py:322).
OVERLAPPING_DISRUPTIONS_QUERY = f"""
WITH base AS (
    SELECT disruption_id, type, start_time, end_time,
           {_AS_OF} AS _as_of
    FROM {{disruptions}}
    WHERE end_time IS NOT NULL
),
bucketed AS (
    SELECT *,
           EXPLODE(SEQUENCE(
               FLOOR(UNIX_TIMESTAMP(start_time) / {_BUCKET_SECS}),
               FLOOR(UNIX_TIMESTAMP(end_time) / {_BUCKET_SECS})
           )) AS bucket
    FROM base
)
SELECT
    a.disruption_id AS disruption_a,
    b.disruption_id AS disruption_b,
    a.type AS type_a,
    b.type AS type_b,
    a.start_time AS a_start,
    a.end_time AS a_end,
    b.start_time AS b_start,
    b.end_time AS b_end,
    CAST((UNIX_TIMESTAMP(LEAST(a.end_time, b.end_time))
          - UNIX_TIMESTAMP(GREATEST(a.start_time, b.start_time))) / 60.0D
         AS INT) AS overlap_minutes
FROM bucketed a
JOIN bucketed b
  ON a.bucket = b.bucket
 AND a.disruption_id < b.disruption_id
 AND a.start_time < b.end_time
 AND a.end_time > b.start_time
 AND a.bucket = GREATEST(
         FLOOR(UNIX_TIMESTAMP(a.start_time) / {_BUCKET_SECS}),
         FLOOR(UNIX_TIMESTAMP(b.start_time) / {_BUCKET_SECS}))
WHERE a.start_time >= DATE_SUB(TO_DATE(a._as_of), 7)
ORDER BY overlap_minutes DESC, disruption_a, disruption_b
LIMIT 50
"""


#: name -> SQL text over the views ``register_warehouse_views`` publishes.
SQL_QUERIES: dict[str, str] = {
    name: template.format(disruptions="disruptions", stations="stations")
    for name, template in {
        "rail_q1_rolling_trend": ROLLING_TREND_QUERY,
        "rail_q2_station_severity": STATION_SEVERITY_QUERY,
        "rail_q3_day_over_day": DAY_OVER_DAY_QUERY,
        "rail_q4_peak_hours": PEAK_HOUR_QUERY,
        "rail_q5_complex_analytics": COMPLEX_ANALYTICS_QUERY,
        "rail_q6_overlapping": OVERLAPPING_DISRUPTIONS_QUERY,
    }.items()
}


def register_warehouse_views(
    spark: SparkSession,
    sf_dir: str | None = None,
    lake_path: str | None = None,
    run_ts: _dt.datetime | None = None,
) -> None:
    """Publish the warehouse tables as temp views for the SQL surface.

    Two sources, mirroring the reference's one warehouse two ways in:
    - ``lake_path``: a ``SparkETLPipeline`` lake — reads the materialized
      ``disruptions`` / ``stations`` / ``daily_stats`` parquet zones.
    - ``sf_dir``: the synthetic-testdata derivation (what the correctness
      gate queries run on) — derives ``disruptions``/``stations`` and
      builds ``daily_stats`` on the fly.
    """
    if (sf_dir is None) == (lake_path is None):
        raise ValueError("pass exactly one of sf_dir / lake_path")
    if lake_path is not None:
        lake = lake_path.rstrip("/")
        for name in ("disruptions", "stations", "daily_stats"):
            spark.read.parquet(f"{lake}/{name}").createOrReplaceTempView(name)
        return

    from ..operators.rollup import build_daily_stats
    from .testdata import disruptions_df, stations_df

    dis = disruptions_df(spark, sf_dir)
    dis.createOrReplaceTempView("disruptions")
    stations_df(spark, sf_dir).createOrReplaceTempView("stations")
    build_daily_stats(dis, run_ts).createOrReplaceTempView("daily_stats")
