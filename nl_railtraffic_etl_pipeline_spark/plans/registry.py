"""Driver-facing query registry: Spark plan builders + DuckDB oracle SQL.

Ten gates, each with a DuckDB oracle over the same parquet tables: the six
reference analytics queries (``rail_q1``-``rail_q6``), the pipeline's
``daily_stats`` roll-up and run report, the latest-wins upsert, and a full
``SparkETLPipeline`` lake round-trip.  The correctness check compares row
count, schema, and an order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- DuckDB aggregate result types are cast to Spark's (SUM/COUNT of integers ->
  BIGINT, rank functions -> INTEGER; DuckDB widens to HUGEINT otherwise);
- double->int casts use trunc() in DuckDB (it rounds on cast; Spark and
  SQLite truncate);
- any ordering that feeds row_number or a LIMIT has an explicit total-order
  tiebreak on both sides (tie order inside an engine is not portable);
- ROUND over a raw double diverges on half boundaries: Spark rounds the
  SHORTEST DECIMAL REPR half-up (BigDecimal.valueOf), DuckDB the exact
  binary expansion — a value printing as x.xxxx5 can round differently.
  When the rounded double is not already quantized (a ratio, a product of
  ratios, an interpolated percentile), the oracle must bridge through
  ``CAST(CAST(x AS VARCHAR) AS DECIMAL(38,20))`` before ROUND; rounds over
  decimal-exact aggregates (``functions/compat.exact_avg``) are already
  safe.
- DuckDB numeric literals with a decimal point (``127.0``) are DECIMAL,
  not DOUBLE: ``FLOAT / 127.0`` runs in float32 and diverges from Spark's
  float/double promotion.  Cast both operands —
  ``CAST(x AS DOUBLE) / CAST(127 AS DOUBLE)`` — wherever a float column
  meets a literal.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.rollup import build_daily_stats, run_report
from ..operators.upsert import upsert_latest_wins
from ..pipeline import SEED_STATIONS, SparkETLPipeline
from . import rail_queries as rq
from .testdata import (
    TYPE_MAP,
    disruptions_df,
    load_table,
    rail_oracle_prelude,
    stations_df,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Rail-domain analytics (reference aggregators.py Q1-Q6) over the derived
# disruptions/stations tables — see plans/testdata.py for the derivation.
# ---------------------------------------------------------------------------

_ROLLING_FRAME = "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW"


@query(
    "rail_q1_rolling_trend",
    rail_oracle_prelude()
    + f""",
daily_counts AS (
    SELECT CAST(start_time AS DATE) AS disruption_date,
           type,
           COUNT(*) AS incident_count,
           (CAST(SUM(CAST(duration_minutes AS DECIMAL(24,6))) AS DOUBLE) / COUNT(duration_minutes)) AS avg_dur
    FROM disruptions
    WHERE start_time >= (SELECT CAST(max(start_time) AS DATE) - INTERVAL 30 DAY
                         FROM disruptions)
    GROUP BY 1, 2
)
SELECT
    disruption_date,
    type,
    incident_count,
    ROUND(avg_dur, 1) AS avg_duration_minutes,
    CAST(SUM(incident_count) OVER (
        PARTITION BY type ORDER BY disruption_date {_ROLLING_FRAME}
    ) AS BIGINT) AS rolling_7day_total,
    ROUND(AVG(incident_count) OVER (
        PARTITION BY type ORDER BY disruption_date {_ROLLING_FRAME}
    ), 2) AS rolling_7day_avg
FROM daily_counts
""",
)
def _q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rq.rolling_trend(disruptions_df(spark, sf_dir))


@query(
    "rail_q2_station_severity",
    rail_oracle_prelude(with_stations=True)
    + """,
unnested AS (
    SELECT d.disruption_id, d.impact_level, d.duration_minutes,
           TRIM(s.code) AS station_code
    FROM disruptions d,
         unnest(string_split(d.affected_stations, ',')) AS s(code)
    WHERE d.affected_stations IS NOT NULL
),
station_aggregates AS (
    SELECT station_code,
           COUNT(DISTINCT disruption_id) AS total_disruptions,
           (CAST(SUM(CAST(duration_minutes AS DECIMAL(24,6))) AS DOUBLE) / COUNT(duration_minutes)) AS avg_dur,
           AVG(impact_level) AS avg_impact,
           MAX(impact_level) AS max_impact_level
    FROM unnested
    GROUP BY station_code
)
SELECT
    sa.station_code,
    st.station_name,
    sa.total_disruptions,
    ROUND(sa.avg_dur, 1) AS avg_duration_minutes,
    ROUND(sa.avg_impact, 2) AS avg_impact_level,
    ROUND(PERCENT_RANK() OVER (ORDER BY sa.total_disruptions), 3)
        AS disruption_percentile,
    CAST(DENSE_RANK() OVER (ORDER BY sa.total_disruptions DESC) AS INTEGER)
        AS severity_rank,
    CASE
        WHEN PERCENT_RANK() OVER (ORDER BY sa.total_disruptions) > 0.9
            THEN 'HIGH RISK'
        WHEN PERCENT_RANK() OVER (ORDER BY sa.total_disruptions) > 0.7
            THEN 'MEDIUM RISK'
        ELSE 'LOW RISK'
    END AS risk_category
FROM station_aggregates sa
LEFT JOIN stations st ON sa.station_code = st.station_code
""",
)
def _q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rq.station_severity(
        disruptions_df(spark, sf_dir), stations_df(spark, sf_dir)
    )


@query(
    "rail_q3_day_over_day",
    rail_oracle_prelude()
    + f""",
daily_summary AS (
    SELECT CAST(start_time AS DATE) AS disruption_date,
           COUNT(*) AS total_disruptions,
           CAST(SUM(CASE WHEN type = 'calamity' THEN 1 ELSE 0 END) AS BIGINT)
               AS calamities,
           CAST(SUM(CASE WHEN type = 'maintenance' THEN 1 ELSE 0 END) AS BIGINT)
               AS maintenance,
           CAST(SUM(CASE WHEN type = 'disruption' THEN 1 ELSE 0 END) AS BIGINT)
               AS disruptions,
           ROUND((CAST(SUM(CAST(duration_minutes AS DECIMAL(24,6))) AS DOUBLE) / COUNT(duration_minutes)), 1) AS avg_duration,
           MAX(impact_level) AS max_impact
    FROM disruptions
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
    ROUND(100.0 * (total_disruptions
                   - LAG(total_disruptions, 1) OVER (ORDER BY disruption_date))
          / NULLIF(LAG(total_disruptions, 1) OVER (ORDER BY disruption_date), 0),
          1) AS dod_pct_change,
    CAST(SUM(total_disruptions) OVER (ORDER BY disruption_date {_ROLLING_FRAME})
         AS BIGINT) AS rolling_7day
FROM daily_summary
""",
)
def _q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rq.day_over_day(disruptions_df(spark, sf_dir))


@query(
    "rail_q4_peak_hours",
    rail_oracle_prelude()
    + """,
hourly_stats AS (
    SELECT strftime(start_time, '%H') AS hour_of_day,
           CAST(dayofweek(start_time) AS VARCHAR) AS day_of_week,
           COUNT(*) AS disruption_count,
           ROUND((CAST(SUM(CAST(duration_minutes AS DECIMAL(24,6))) AS DOUBLE) / COUNT(duration_minutes)), 1) AS avg_duration,
           ROUND(AVG(impact_level), 2) AS avg_impact
    FROM disruptions
    WHERE start_time IS NOT NULL
    GROUP BY 1, 2
)
SELECT * FROM (
    SELECT
        CASE day_of_week
            WHEN '0' THEN 'Sunday'   WHEN '1' THEN 'Monday'
            WHEN '2' THEN 'Tuesday'  WHEN '3' THEN 'Wednesday'
            WHEN '4' THEN 'Thursday' WHEN '5' THEN 'Friday'
            WHEN '6' THEN 'Saturday'
        END AS day_name,
        hour_of_day || ':00' AS hour_label,
        disruption_count,
        avg_duration,
        avg_impact,
        CAST(ROW_NUMBER() OVER (
            ORDER BY disruption_count DESC, day_of_week, hour_of_day
        ) AS INTEGER) AS row_num,
        CAST(RANK() OVER (ORDER BY disruption_count DESC) AS INTEGER)
            AS rank_with_gaps,
        CAST(DENSE_RANK() OVER (ORDER BY disruption_count DESC) AS INTEGER)
            AS dense_rank
    FROM hourly_stats
)
ORDER BY disruption_count DESC, row_num
LIMIT 20
""",
)
def _q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rq.peak_hours(disruptions_df(spark, sf_dir))


@query(
    "rail_q5_complex_analytics",
    rail_oracle_prelude()
    + f""",
disruption_metrics AS (
    SELECT CAST(start_time AS DATE) AS disruption_date,
           type,
           COUNT(*) AS incident_count,
           CAST(SUM(CAST((date_part('epoch', end_time)
                          - date_part('epoch', start_time)) / 60.0
                     AS DECIMAL(24,6))) AS DOUBLE)
               / COUNT((date_part('epoch', end_time)
                        - date_part('epoch', start_time)) / 60.0) AS avg_dur,
           CAST(SUM(COUNT(*)) OVER (
               ORDER BY CAST(start_time AS DATE), type {_ROLLING_FRAME}
           ) AS BIGINT) AS rolling_7day_total
    FROM disruptions
    WHERE start_time >= (SELECT CAST(max(start_time) AS DATE) - INTERVAL 30 DAY
                         FROM disruptions)
    GROUP BY 1, 2
),
station_impact AS (
    SELECT station_code,
           COUNT(*) AS disruption_count,
           PERCENT_RANK() OVER (ORDER BY COUNT(*)) AS severity_percentile
    FROM (
        SELECT TRIM(s.code) AS station_code
        FROM disruptions d,
             unnest(string_split(d.affected_stations, ',')) AS s(code)
        WHERE d.affected_stations IS NOT NULL
    )
    GROUP BY station_code
)
SELECT
    dm.disruption_date,
    dm.type,
    dm.incident_count,
    ROUND(dm.avg_dur, 2) AS avg_duration,
    dm.rolling_7day_total,
    (SELECT si.station_code FROM station_impact si
     WHERE si.severity_percentile > 0.9
     ORDER BY si.disruption_count DESC, si.station_code LIMIT 1) AS worst_station,
    ROUND(100.0
          * SUM(CASE WHEN dm.type = 'cancellation'
                     THEN dm.incident_count END)
            OVER (PARTITION BY dm.disruption_date)
          / NULLIF(SUM(dm.incident_count)
                   OVER (PARTITION BY dm.disruption_date), 0),
          2) AS cancellation_rate_pct
FROM disruption_metrics dm
""",
)
def _q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rq.complex_analytics(disruptions_df(spark, sf_dir))


@query(
    "rail_q6_overlapping",
    rail_oracle_prelude()
    + """
SELECT * FROM (
    SELECT
        a.disruption_id AS disruption_a,
        b.disruption_id AS disruption_b,
        a.type AS type_a,
        b.type AS type_b,
        a.start_time AS a_start,
        a.end_time AS a_end,
        b.start_time AS b_start,
        b.end_time AS b_end,
        CAST(trunc((date_part('epoch', LEAST(a.end_time, b.end_time))
                    - date_part('epoch', GREATEST(a.start_time, b.start_time)))
                   / 60.0) AS INTEGER) AS overlap_minutes
    FROM disruptions a
    JOIN disruptions b
      ON a.disruption_id < b.disruption_id
     AND a.start_time < b.end_time
     AND a.end_time > b.start_time
    WHERE a.start_time >= (SELECT CAST(max(start_time) AS DATE) - INTERVAL 7 DAY
                           FROM disruptions)
)
ORDER BY overlap_minutes DESC, disruption_a, disruption_b
LIMIT 50
""",
)
def _q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rq.overlapping_disruptions(disruptions_df(spark, sf_dir))


# ---------------------------------------------------------------------------
# daily_stats roll-up (SURVEY §2.6 A9) over the derived disruptions table
# ---------------------------------------------------------------------------
@query(
    "rail_daily_stats",
    rail_oracle_prelude()
    + """,
base AS (
    SELECT CAST(start_time AS DATE) AS date, *
    FROM disruptions WHERE start_time IS NOT NULL
),
core AS (
    SELECT date,
           CAST(COUNT(*) AS INTEGER) AS total_disruptions,
           CAST(SUM(CASE WHEN type = 'cancellation' THEN 1 ELSE 0 END)
                AS INTEGER) AS total_cancellations,
           ROUND((CAST(SUM(CAST(duration_minutes AS DECIMAL(24,6))) AS DOUBLE) / COUNT(duration_minutes)), 3) AS avg_duration_minutes,
           CAST(trunc(MAX(duration_minutes)) AS INTEGER) AS max_duration_minutes
    FROM base GROUP BY date
),
station_counts AS (
    SELECT date, TRIM(s.code) AS value, COUNT(*) AS cnt
    FROM base, unnest(string_split(affected_stations, ',')) AS s(code)
    WHERE affected_stations IS NOT NULL
    GROUP BY date, value
),
smode AS (
    SELECT date, value AS most_affected_station FROM (
        SELECT date, value,
               ROW_NUMBER() OVER (PARTITION BY date ORDER BY cnt DESC, value)
                   AS rn
        FROM station_counts
    ) WHERE rn = 1
),
hour_counts AS (
    SELECT date, CAST(strftime(start_time, '%H') AS INTEGER) AS value,
           COUNT(*) AS cnt
    FROM base GROUP BY date, value
),
hmode AS (
    SELECT date, value AS peak_hour FROM (
        SELECT date, value,
               ROW_NUMBER() OVER (PARTITION BY date ORDER BY cnt DESC, value)
                   AS rn
        FROM hour_counts
    ) WHERE rn = 1
)
SELECT core.date, total_disruptions, total_cancellations,
       avg_duration_minutes, max_duration_minutes,
       most_affected_station, peak_hour
FROM core
LEFT JOIN smode ON core.date = smode.date
LEFT JOIN hmode ON core.date = hmode.date
""",
)
def _daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = build_daily_stats(disruptions_df(spark, sf_dir))
    return out.drop("calculated_at").withColumn(
        "avg_duration_minutes", F.round("avg_duration_minutes", 3)
    )


# ---------------------------------------------------------------------------
# Run report (A7 / pipeline.py:318-330): one-row "today" aggregate.  The
# derived disruptions table has no created_at; the report day is anchored on
# start_time with as-of = max(start_time) date (registry determinism rules).
# ---------------------------------------------------------------------------
@query(
    "rail_report",
    rail_oracle_prelude()
    + """
SELECT COUNT(*) AS total_records,
       CAST(SUM(CASE WHEN type = 'disruption' THEN 1 ELSE 0 END) AS BIGINT)
           AS disruptions,
       CAST(SUM(CASE WHEN type = 'maintenance' THEN 1 ELSE 0 END) AS BIGINT)
           AS maintenance,
       CAST(SUM(CASE WHEN type = 'calamity' THEN 1 ELSE 0 END) AS BIGINT)
           AS calamities,
       ROUND((CAST(SUM(CAST(duration_minutes AS DECIMAL(24,6))) AS DOUBLE) / COUNT(duration_minutes)), 1) AS avg_duration_minutes,
       MAX(impact_level) AS max_impact_level
FROM disruptions
WHERE CAST(start_time AS DATE) =
      (SELECT CAST(max(start_time) AS DATE) FROM disruptions)
""",
)
def _report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = disruptions_df(spark, sf_dir)
    as_of = d.agg(F.max(F.to_date("start_time"))).first()[0]
    return run_report(d.withColumn("created_at", F.col("start_time")), as_of)


# ---------------------------------------------------------------------------
# Upsert semantics as a query (S7/J4): latest-wins merge of two event slices
# ---------------------------------------------------------------------------
@query(
    "etl_upsert_latest_wins",
    """
WITH existing AS (
    SELECT event_id, event_type, value, ts FROM events WHERE event_id % 2 = 0
),
batch AS (
    SELECT event_id, event_type, value * 2 AS value, ts
    FROM events WHERE event_id % 3 = 0
),
tagged AS (
    SELECT *, 0 AS prio FROM existing
    UNION ALL
    SELECT *, 1 AS prio FROM batch
)
SELECT event_id, event_type, value, ts FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_id ORDER BY prio DESC, ts DESC
    ) AS rn FROM tagged
) WHERE rn = 1
""",
)
def _upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=True).select(
        "event_id", "event_type", "value", "ts"
    )
    existing = ev.filter(F.col("event_id") % 2 == 0)
    batch = ev.filter(F.col("event_id") % 3 == 0).withColumn(
        "value", F.col("value") * 2
    )
    return upsert_latest_wins(existing, batch, ["event_id"], "ts")


# ---------------------------------------------------------------------------
# Lake round-trip: ``pipeline.run -> parquet lake -> read-back``.  A raw
# NS-shaped JSON payload goes through ``SparkETLPipeline.run`` (extract
# DataSource -> 6-step cleaner -> zone upserts -> atomic swap) TWICE — a
# stale partial batch, then the complete batch a day later — and the gate
# returns the cleaned ``disruptions`` zone read back from parquet.
#
# The payload is built deterministically from the ``events`` table (one
# record per ``event_id % 16 == 1`` row), with every field chosen so each
# cleaner rule has a closed-form SQL mirror:
#
#     id       = event_id                 (string)
#     type     = the derivation's event_type mapping (canonical lowercase)
#     title    = 'Disruption <id>'        (>= 5 chars -> survives the trim
#                                          rule; no [A-Z]{2,5} run -> the
#                                          regex station fallback stays off)
#     start    = ts truncated to seconds, ISO with +0000 offset
#     end      = start + floor(value*60) s, or ABSENT for event_id % 5 == 0
#                and for NULL values -> the cleaner imputes run_ts + 2h
#     section.stations[].uicCode = seed station code by user_id % 6
#
# Round 1 loads the ``event_id % 32 == 1`` half with titles prefixed
# 'STALE ' at run_ts1; round 2 loads every record at run_ts2.  Latest-wins
# upsert must therefore REPLACE every round-1 row (same keys, newer
# ``updated_at``): a surviving STALE title or run_ts1 stamp is a hash
# mismatch.  The oracle replays the whole construction + cleaning in SQL.
# The lake lives under /tmp (wiped per invocation), never under the repo
# or the test data.
# ---------------------------------------------------------------------------

#: Seed station codes in ``SEED_STATIONS`` order.
_CODES = [row[0] for row in SEED_STATIONS]

_RUN1 = _dt.datetime(2030, 1, 1, 0, 0, 0, tzinfo=_dt.timezone.utc)
_RUN2 = _dt.datetime(2030, 1, 2, 0, 0, 0, tzinfo=_dt.timezone.utc)

_IMPUTED_END = "TIMESTAMP '2030-01-02 02:00:00'"
_STAMP2 = "TIMESTAMP '2030-01-02 00:00:00'"

_CODE_CASE = "CASE (user_id % 6) " + " ".join(
    f"WHEN {i} THEN '{c}'" for i, c in enumerate(_CODES)
) + " END"

_TYPE_CASE = (
    "CASE event_type "
    + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in TYPE_MAP.items())
    + " ELSE lower(event_type) END"
)

#: Hard cap on the synthetic REST payload the roundtrip harness builds.
#: The payload is driver-collected BY NATURE (it simulates the reference's
#: API fetch writing a JSON file), so it must stay O(1) in SF: lowest
#: ``_PAYLOAD_CAP`` qualifying event_ids (unique key -> total order,
#: identical on both engines).  Not binding below ~sf0.5; binding above.
_PAYLOAD_CAP = 2048

_LAKE_ORACLE = f"""
WITH src AS (
    SELECT event_id, event_type, ts, value, user_id
    FROM events WHERE event_id % 16 = 1
    ORDER BY event_id LIMIT {_PAYLOAD_CAP}
),
built AS (
    SELECT
        CAST(event_id AS VARCHAR) AS disruption_id,
        {_TYPE_CASE} AS type,
        'Disruption ' || CAST(event_id AS VARCHAR) AS title,
        'Event ' || CAST(event_id AS VARCHAR) || ' of type ' || event_type
            AS description,
        date_trunc('second', ts) AS start_time,
        CASE WHEN event_id % 5 = 0 OR value IS NULL
             THEN {_IMPUTED_END}
             ELSE date_trunc('second', ts)
                  + to_seconds(CAST(floor(value * 60) AS BIGINT)) END
            AS end_time,
        CASE WHEN event_id % 5 = 0 OR value IS NULL
             THEN (date_part('epoch', {_IMPUTED_END})
                   - date_part('epoch', date_trunc('second', ts))) / 60.0
             WHEN floor(value * 60) < 0 THEN NULL
             ELSE CAST(floor(value * 60) AS BIGINT) / 60.0 END
            AS duration_minutes,
        {_CODE_CASE} AS affected_stations
    FROM src
)
SELECT
    disruption_id, type, title, description, start_time, end_time,
    duration_minutes,
    CAST(CASE WHEN type = 'calamity' THEN 5
              WHEN contains(type, 'cancel') THEN 5
              WHEN type = 'maintenance' THEN
                   CASE WHEN COALESCE(duration_minutes, 0) > 240
                        THEN 4 ELSE 3 END
              WHEN type = 'disruption' THEN
                   CASE WHEN COALESCE(duration_minutes, 0) > 120 THEN 4
                        WHEN COALESCE(duration_minutes, 0) > 60 THEN 3
                        ELSE 2 END
              ELSE 2 END AS INTEGER) AS impact_level,
    affected_stations,
    FALSE AS is_resolved,
    {_STAMP2} AS created_at,
    {_STAMP2} AS updated_at
FROM built
"""


def _records(spark: SparkSession, sf_dir: str) -> list[dict]:
    rows = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "ts", "value", "user_id")
        .filter("event_id % 16 = 1")
        .orderBy("event_id")
        .limit(_PAYLOAD_CAP)
        .collect()
    )
    out = []
    for r in sorted(rows, key=lambda r: r["event_id"]):
        eid, ts = r["event_id"], r["ts"].replace(microsecond=0)
        rec = {
            "id": str(eid),
            "type": TYPE_MAP.get(r["event_type"], r["event_type"]),
            "title": f"Disruption {eid}",
            "description": f"Event {eid} of type {r['event_type']}",
            "start": ts.strftime("%Y-%m-%dT%H:%M:%S+0000"),
            "section": {
                "stations": [{"uicCode": _CODES[r["user_id"] % 6]}]
            },
        }
        if eid % 5 != 0 and r["value"] is not None:
            end = ts + _dt.timedelta(seconds=math.floor(r["value"] * 60))
            rec["end"] = end.strftime("%Y-%m-%dT%H:%M:%S+0000")
        out.append(rec)
    return out


@query("rail_lake_roundtrip", _LAKE_ORACLE)
def _lake_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pid-scoped so concurrent same-SF runs never race rmtree vs read
    lake = (
        f"/tmp/spark_graft_lake_gate_{os.getpid()}/"
        f"{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(lake, ignore_errors=True)
    os.makedirs(lake, exist_ok=True)

    records = _records(spark, sf_dir)
    stale = [
        {**rec, "title": "STALE " + rec["title"]}
        for rec in records
        if int(rec["id"]) % 32 == 1
    ]
    p1, p2 = f"{lake}/payload_stale.json", f"{lake}/payload_full.json"
    with open(p1, "w", encoding="utf-8") as fh:
        json.dump(stale, fh, ensure_ascii=False)
    with open(p2, "w", encoding="utf-8") as fh:
        json.dump(records, fh, ensure_ascii=False)

    pipe = SparkETLPipeline(spark, f"{lake}/warehouse")
    pipe.run(p1, _RUN1, artifacts=False)
    pipe.run(p2, _RUN2, artifacts=False)
    return spark.read.parquet(f"{lake}/warehouse/disruptions")
