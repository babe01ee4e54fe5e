"""Loaders and domain derivations over the driver's synthetic tables.

The correctness gate runs every declared query on Spark AND on a DuckDB
oracle over the same parquet tables (``/root/testdata/sf*/``), so the rail
domain of the reference (``disruptions`` / ``stations``) is derived
DETERMINISTICALLY from the synthetic ``events`` and ``nation`` tables.  The
derivation is defined twice — once as a DataFrame-API builder (Spark side),
once as an ANSI-SQL CTE fragment (DuckDB side) — and unit tests assert the
two agree.

Derivation contract (mirrors the reference's cleaned ``disruptions`` table,
``/root/reference/src/storage/schema.sql:15-35``):

    disruption_id     = event_id as string
    type              = event_type mapped {error->calamity, view->maintenance,
                        click->disruption, purchase->cancellation,
                        signup->disruption}
    start_time        = ts
    end_time          = ts + round(value*60) seconds, NULL when event_id%5=0
                        (the ~20%% "ongoing" path of the reference)
    duration_minutes  = round(value*60)/60.0 double, NULL with end_time
    affected_stations = sorted, de-duplicated CSV of 1-2 synthetic station
                        codes 'S00'..'S39', NULL when event_id%7=0
    impact_level      = the reference's impact rules
                        (/root/reference/src/transformation/cleaners.py:133-171)
    is_resolved       = end_time is not null

Station dimension (mirrors ``schema.sql:38-45``): codes 'S00'..'S24' from
``nation`` — CSV codes S25..S39 intentionally have no dim row, exercising the
left-join null path of the reference's station enrichment
(``aggregators.py:118``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import impact_level_col

#: Runtime session confs the loaders depend on — set defensively so the
#: registry works under ANY SparkSession (the driver passes its own, which
#: need not come from session.get_spark):
#: - nanosAsLong: events.parquet stores TIMESTAMP(NANOS); a bare session
#:   fails the read with PARQUET_TYPE_ILLEGAL otherwise.
#: - UTC timezone: timestamp<->date semantics must match the DuckDB oracle.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # Naive parquet timestamp[us] (isAdjustedToUTC=false) should surface as
    # session-tz TIMESTAMP directly: the NTZ->TIMESTAMP cast that inference
    # would force is a measured ~2x tax on every events scan (per-value zone
    # conversion outside the vectorized path), while the direct read is
    # verbatim micros — identical values under the pinned UTC session.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_CONFS.items():
        try:
            current = spark.conf.get(k)
        except Exception:
            current = None
        if current != v:
            spark.conf.set(k, v)


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Map the testdata's parquet timestamp encodings onto session-tz TIMESTAMP.

    Two generations of driver data exist:
    - TIMESTAMP(NANOS) (no Spark type): surfaced as bigint nanos under
      spark.sql.legacy.parquet.nanosAsLong; integer-divide to micros —
      truncation, bit-identical to DuckDB's ns->us narrowing.
    - timestamp[us] without UTC adjustment: Spark infers TIMESTAMP_NTZ, but
      every temporal function here (unix_micros, date_trunc vs the oracle,
      window()) speaks TIMESTAMP.  The session is pinned UTC, so the cast
      relabels the same wall-clock instant — matching DuckDB, which reads
      the column as its (naive) TIMESTAMP.
    """
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


#: Lazy scan-PLAN memo, keyed on applicationId — NOT result caching: a
#: DataFrame is an unexecuted plan, so every action on it still reads the
#: parquet inputs from scratch.  What it avoids is the driver-side cost of
#: re-resolving the same scan per query call (footer/schema read + relation
#: resolution + the ``_spread`` partition probe: measured 90-130 ms per
#: ``spark.read.parquet`` on a 4-core box).  Same pattern and key as
#: _DISRUPTIONS_CACHE
#: below; a stopped-and-recreated session gets fresh entries.
#:
#: STATIC-INPUT ASSUMPTION (ADVICE r11): the memo pins the file listing
#: and schema observed at first load, so it is only valid for immutable
#: inputs — which the driver's testdata tables are by contract.  Code
#: that rewrites or appends to a table under ``sf_dir`` mid-application
#: must NOT read it through ``load_table`` (zone/lake paths correctly
#: bypass this memo and re-resolve per read); tests that regenerate
#: testdata in place should ``_SCAN_CACHE.clear()`` first.  The cache is
#: bounded in practice by |tables| x |SF dirs| x 2 per application.
_SCAN_CACHE: dict[tuple[str, str, str, bool], DataFrame] = {}


def _spread(df: DataFrame) -> DataFrame:
    """Repartition tiny inputs up to the session's default parallelism.

    Small parquet files arrive as one input split, which would serialize
    every downstream stage; at real scale the input already has
    >= defaultParallelism partitions and this is a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    ensure_session_confs(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name, spread)
    df = _SCAN_CACHE.get(key)
    if df is None:
        df = normalize_timestamps(
            spark.read.parquet(f"{sf_dir}/{name}.parquet")
        )
        if spread:
            df = _spread(df)
        _SCAN_CACHE[key] = df
    return df


# ---------------------------------------------------------------------------
# Spark-side derivation (DataFrame API — the idiomatic engine path)
# ---------------------------------------------------------------------------

TYPE_MAP = {
    "error": "calamity",
    "view": "maintenance",
    "click": "disruption",
    "purchase": "cancellation",
    "signup": "disruption",
}


def _station_code(expr):
    return F.concat(F.lit("S"), F.lpad(expr.cast("string"), 2, "0"))


def derive_disruptions(ev: DataFrame) -> DataFrame:
    """Pure events → disruptions derivation (map-side expressions only)."""
    type_col = F.coalesce(
        F.element_at(
            F.create_map(*[F.lit(x) for kv in TYPE_MAP.items() for x in kv]),
            F.col("event_type"),
        ),
        F.col("event_type"),
    )
    dur_secs = F.round(F.col("value") * 60).cast("bigint")
    ongoing = F.col("event_id") % 5 == 0
    codes = F.when(
        F.col("event_id") % 3 == 0,
        F.array(
            _station_code(F.col("user_id") % 40),
            _station_code((F.col("user_id") + F.col("event_id")) % 40),
        ),
    ).otherwise(F.array(_station_code(F.col("user_id") % 40)))

    df = ev.select(
        F.col("event_id").cast("string").alias("disruption_id"),
        type_col.alias("type"),
        F.col("ts").alias("start_time"),
        F.when(ongoing, F.lit(None).cast("timestamp"))
        .otherwise(F.timestamp_add("SECOND", dur_secs, F.col("ts")))
        .alias("end_time"),
        F.when(ongoing, F.lit(None).cast("double"))
        .otherwise(dur_secs / F.lit(60.0))
        .alias("duration_minutes"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.array_join(F.array_sort(F.array_distinct(codes)), ","))
        .alias("affected_stations"),
    )
    return df.withColumn(
        "impact_level",
        impact_level_col(F.col("type"), F.col("duration_minutes")),
    ).withColumn("is_resolved", F.col("end_time").isNotNull())


# The materialized derivation is a warehouse *table* (the reference persists
# `disruptions` in its DB — schema.sql:15-35), so it is computed once per
# Spark application per sf_dir, not once per query call.  Keyed on
# applicationId: a stopped-and-recreated session gets a fresh entry.
_DISRUPTIONS_CACHE: dict[tuple[str, str], DataFrame] = {}


def disruptions_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``disruptions`` warehouse table (events derivation, materialized)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _DISRUPTIONS_CACHE.get(key)
    if cached is not None:
        return cached

    # Prune to the derivation's inputs BEFORE spreading: the repartition
    # exchange then carries 5 narrow columns instead of the whole scan.
    ev = _spread(
        load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "ts", "value", "user_id"
        )
    )
    # Materialized: every rail query consumes the derivation 1-3 times
    # (aggregation branches, window branches, self-joins); computing the
    # 600k-row expression pipeline once per application beats recomputing it
    # per consumer branch and per query.  Eager on purpose: a lazy
    # checkpoint hit by several join branches of the SAME action is
    # recomputed by each branch.
    df = derive_disruptions(ev).localCheckpoint(eager=True)
    _DISRUPTIONS_CACHE[key] = df
    return df


def stations_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the 25-row ``stations`` dimension from ``nation``.

    Full reference column set (schema.sql:38-45): country defaults 'NL',
    coordinates are a deterministic function of the key (synthetic stand-in
    for the seed's real coordinates), last_updated a fixed stamp — all
    mirrored by STATIONS_CTE so oracles may join any column.
    """
    key = F.col("n_nationkey")
    return load_table(spark, sf_dir, "nation").select(
        _station_code(key).alias("station_code"),
        F.col("n_name").alias("station_name"),
        F.lit("NL").alias("country"),
        (F.lit(50.0) + key * 0.1).alias("latitude"),
        (F.lit(3.0) + key * 0.1).alias("longitude"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("last_updated"),
    )


# ---------------------------------------------------------------------------
# DuckDB-side derivation (ANSI SQL CTE fragments for the oracle)
# ---------------------------------------------------------------------------

# Inner SELECT before impact_level (duration is referenced by the impact rules).
_DISRUPTIONS_BASE_SQL = """
    SELECT
        CAST(event_id AS VARCHAR) AS disruption_id,
        CASE event_type
            WHEN 'error'    THEN 'calamity'
            WHEN 'view'     THEN 'maintenance'
            WHEN 'click'    THEN 'disruption'
            WHEN 'purchase' THEN 'cancellation'
            WHEN 'signup'   THEN 'disruption'
            ELSE event_type END AS type,
        ts AS start_time,
        CASE WHEN event_id % 5 = 0 THEN NULL
             ELSE ts + to_seconds(CAST(round(value * 60) AS BIGINT)) END AS end_time,
        CASE WHEN event_id % 5 = 0 THEN NULL
             ELSE CAST(round(value * 60) AS BIGINT) / 60.0 END AS duration_minutes,
        CASE WHEN event_id % 7 = 0 THEN NULL
             ELSE array_to_string(list_sort(list_distinct(
                 CASE WHEN event_id % 3 = 0
                      THEN ['S' || lpad(CAST(user_id % 40 AS VARCHAR), 2, '0'),
                            'S' || lpad(CAST((user_id + event_id) % 40 AS VARCHAR), 2, '0')]
                      ELSE ['S' || lpad(CAST(user_id % 40 AS VARCHAR), 2, '0')] END
             )), ',') END AS affected_stations
    FROM events
"""

DISRUPTIONS_CTE = f"""
disruptions AS (
    SELECT
        disruption_id, type, start_time, end_time, duration_minutes,
        affected_stations,
        CAST(LEAST(GREATEST(
            CASE
                WHEN type = 'calamity' THEN 5
                WHEN type LIKE '%cancel%' THEN 5
                WHEN type = 'maintenance' THEN
                    CASE WHEN COALESCE(duration_minutes, 0) > 240 THEN 4 ELSE 3 END
                WHEN type = 'disruption' THEN
                    CASE WHEN COALESCE(duration_minutes, 0) > 120 THEN 4
                         WHEN COALESCE(duration_minutes, 0) > 60 THEN 3
                         ELSE 2 END
                ELSE 2
            END, 1), 5) AS INTEGER) AS impact_level,
        end_time IS NOT NULL AS is_resolved
    FROM ({_DISRUPTIONS_BASE_SQL})
)
"""

STATIONS_CTE = """
stations AS (
    SELECT 'S' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS station_code,
           n_name AS station_name,
           'NL' AS country,
           50.0 + n_nationkey * 0.1 AS latitude,
           3.0 + n_nationkey * 0.1 AS longitude,
           TIMESTAMP '2024-01-01 00:00:00' AS last_updated
    FROM nation
)
"""


def rail_oracle_prelude(*, with_stations: bool = False) -> str:
    """``WITH ...`` prelude deriving the rail tables for a DuckDB oracle query."""
    ctes = [DISRUPTIONS_CTE.strip()]
    if with_stations:
        ctes.append(STATIONS_CTE.strip())
    return "WITH " + ",\n".join(ctes)
