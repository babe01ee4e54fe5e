"""Behavioral-analytics gate queries over the synthetic ``events`` stream:
ordered funnel conversion, weekly cohort retention, and the empirical
event-transition (Markov) matrix.

Same engine class as the reference's rail analytics (aggregators.py Q1-Q6)
— windowed/joined aggregation over an event log — applied to the
user-behavior questions an events table exists to answer.  Oracles
replicate the exact semantics (strict event ordering, Monday-truncated
weeks, total-order tiebreaks) in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

from ..functions.behavior import cohort_retention, event_transitions, funnel
from .registry import query

_FUNNEL_STAGES = ("view", "click", "purchase")


FUNNEL_ORACLE_SQL = """
WITH s1 AS (
    SELECT user_id, MIN(ts) AS entry FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, MIN(e.ts) AS entry
    FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.entry
    WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, MIN(e.ts) AS entry
    FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.entry
    WHERE e.event_type = 'purchase' GROUP BY e.user_id
),
counts AS (
    SELECT 1 AS stage, 'view' AS stage_name, COUNT(*) AS users FROM s1
    UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
    UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3
)
SELECT stage, stage_name, users,
       ROUND(100.0 * users
             / NULLIF((SELECT users FROM counts WHERE stage = 1), 0), 2)
           AS conversion_pct
FROM counts
"""


@query("events_funnel", FUNNEL_ORACLE_SQL)
def _funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view -> click -> purchase funnel.

    A user converts to a stage only with an event strictly after their
    earliest entry into the previous stage (reference-class ordered
    semantics, not 'did both ever').
    """
    return funnel(
        load_table(spark, sf_dir, "events", spread=True), _FUNNEL_STAGES
    )


@query(
    "events_retention",
    """
WITH first AS (
    SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT e.user_id,
           CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
           CAST(datediff('day',
                         CAST(date_trunc('week', f.first_ts) AS DATE),
                         CAST(date_trunc('week', e.ts) AS DATE)) / 7
                AS INTEGER) AS week_offset
    FROM events e JOIN first f ON e.user_id = f.user_id
),
sizes AS (
    SELECT CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
           COUNT(*) AS cohort_size
    FROM first GROUP BY 1
)
SELECT a.cohort_week, a.week_offset, COUNT(*) AS active_users,
       ROUND(100.0 * COUNT(*) / s.cohort_size, 2) AS retention_pct
FROM activity a JOIN sizes s ON a.cohort_week = s.cohort_week
GROUP BY a.cohort_week, a.week_offset, s.cohort_size
""",
)
def _retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (Monday-truncated ISO weeks)."""
    return cohort_retention(load_table(spark, sf_dir, "events", spread=True))


@query(
    "events_transitions",
    """
WITH seq AS (
    SELECT event_type AS src,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS dst
    FROM events
),
pairs AS (
    SELECT src, dst, COUNT(*) AS n_transitions
    FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
)
SELECT src, dst, n_transitions,
       ROUND(100.0 * n_transitions
             / SUM(n_transitions) OVER (PARTITION BY src), 2) AS share_pct
FROM pairs
""",
)
def _transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive event-type bigrams — the empirical Markov
    transition matrix of the stream (ts, event_id total order)."""
    return event_transitions(
        load_table(spark, sf_dir, "events", spread=True)
    )


@query(
    "events_sliding_value",
    """
WITH base AS (
    SELECT user_id, event_id, ts, value,
           CAST(CAST(value AS VARCHAR) AS DECIMAL(24,10)) AS dvalue,
           date_part('epoch', ts) AS sec
    FROM events WHERE user_id % 50 = 0
)
SELECT user_id, event_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_events_1h,
       ROUND(CAST(SUM(dvalue) OVER w AS DOUBLE), 4) AS sum_value_1h
FROM base
WINDOW w AS (
    PARTITION BY user_id ORDER BY sec
    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
)
""",
)
def _sliding_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 1-hour sliding aggregate — a RANGE (time-interval) window
    frame, not a row frame.  The decimal summand goes through the double's
    shortest-roundtrip string so the sliding sums are bit-identical
    cross-engine regardless of each engine's window-aggregation tree
    (DuckDB segment-trees its sliding frames; decimal addition commutes,
    double addition does not).  The user filter keeps the gate small;
    the plan is one user-keyed shuffle at any scale.
    """
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events", spread=True)
        .filter(F.col("user_id") % 50 == 0)
        .select(
            "user_id",
            "event_id",
            F.col("value").cast("string").cast("decimal(24,10)").alias("_dv"),
            F.unix_micros("ts").alias("_us"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.expr("_us div 1000000"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_events_1h"),
        F.round(F.sum("_dv").over(w).cast("double"), 4).alias("sum_value_1h"),
    )


_PIVOT_TYPES = ("view", "click", "purchase", "signup", "error")


@query(
    "events_daily_pivot",
    """
SELECT CAST(ts AS DATE) AS day,
"""
    + ",\n".join(
        f"       CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS {t}_events"
        for t in _PIVOT_TYPES
    )
    + """
FROM events GROUP BY day
""",
)
def _daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format daily activity: `pivot` over a FIXED type list (stable
    schema — an unpinned pivot would launch a distinct-scan job and make
    the schema data-dependent).  Compiles to one partial-agg shuffle,
    exactly like the CASE-sum formulation."""
    ev = load_table(spark, sf_dir, "events", spread=True)
    out = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", list(_PIVOT_TYPES))
        .count()
    )
    return out.select(
        "day",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"{t}_events")
            for t in _PIVOT_TYPES
        ],
    )


@query(
    "events_value_outliers",
    """
WITH bounds AS (
    SELECT event_type,
           quantile_cont(value, 0.25) AS q1,
           quantile_cont(value, 0.75) AS q3
    FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, ROUND(e.value, 4) AS value
FROM events e JOIN bounds b ON e.event_type = b.event_type
WHERE ROUND(e.value, 6) < ROUND(b.q1 - 1.5 * (b.q3 - b.q1), 6)
   OR ROUND(e.value, 6) > ROUND(b.q3 + 1.5 * (b.q3 - b.q1), 6)
""",
)
def _value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outliers per event type: exact grouped quartiles ->
    metadata-scale bounds frame broadcast back -> map-side filter.  The
    grouped twin of corpus_quality_trim's two-pass shape; fences compared
    at 6-decimal rounding so the flagged set is last-ulp-proof."""
    ev = load_table(spark, sf_dir, "events", spread=True)
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", 0.25).alias("q1"),
        F.percentile("value", 0.75).alias("q3"),
    )
    lo = F.round(F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")), 6)
    hi = F.round(F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")), 6)
    rv = F.round("value", 6)
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .filter((rv < lo) | (rv > hi))
        .select("event_id", "event_type", F.round("value", 4).alias("value"))
    )


_HIST_BINS = 20


@query(
    "events_value_histogram",
    f"""
WITH bounds AS (
    SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
),
binned AS (
    SELECT CAST(LEAST(trunc((e.value - b.lo) / ((b.hi - b.lo) / {_HIST_BINS})),
                      {_HIST_BINS - 1}) AS INTEGER) AS bin,
           b.lo, b.hi
    FROM events e, bounds b
)
SELECT bin,
       ROUND(lo + bin * ((hi - lo) / {_HIST_BINS}), 4) AS bin_lo,
       COUNT(*) AS n_events
FROM binned GROUP BY bin, lo, hi
""",
)
def _value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram: exact min/max (1-row broadcast) -> map-side
    bin assignment -> bins-sized aggregation.  The standard two-pass
    distributed histogram; the max value folds into the top bin.  Bin
    arithmetic is the same IEEE double expression on both engines, fed by
    identical lo/hi, so bin boundaries agree bitwise."""
    ev = load_table(spark, sf_dir, "events", spread=True)
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / _HIST_BINS
    bin_ = F.least(
        F.floor((F.col("value") - F.col("lo")) / width),
        F.lit(_HIST_BINS - 1),
    ).cast("int")
    return (
        ev.crossJoin(F.broadcast(bounds))
        .select(bin_.alias("bin"), "lo", "hi")
        .groupBy("bin", "lo", "hi")
        .agg(F.count("*").alias("n_events"))
        .select(
            "bin",
            F.round(F.col("lo") + F.col("bin") * width, 4).alias("bin_lo"),
            "n_events",
        )
    )


@query(
    "events_daily_gapfill",
    """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(24,10)))
                      AS DOUBLE) / COUNT(value), 4) AS avg_value
    FROM events GROUP BY 1
),
punched AS (SELECT * FROM daily WHERE date_part('day', day) % 5 != 0),
bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM punched),
spine AS (
    SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
        AS day
    FROM bounds
)
SELECT s.day,
       COALESCE(p.n_events, 0) AS n_events,
       p.n_events IS NULL AS is_gap,
       last_value(p.avg_value IGNORE NULLS) OVER (
           ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS avg_value_filled
FROM spine s LEFT JOIN punched p ON s.day = p.day
""",
)
def _daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling + LOCF imputation: the time-series repair
    operator (restore missing partitions as explicit zero/filled rows).
    Every-5th-day rows are punched out of the daily aggregate to create
    real gaps; the spine (sequence over the 1-row bounds broadcast)
    restores them, counts coalesce to 0, and the last-seen average
    carries forward via last(ignoreNulls).  The LOCF window is global but
    runs on the POST-AGGREGATION frame (days, metadata-scale) — never the
    event stream."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events", spread=True)
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("string").cast("decimal(24,10)"))
            .cast("double")
            / F.count("value"),
            4,
        ).alias("avg_value"),
    )
    punched = daily.filter(F.dayofmonth("day") % 5 != 0)
    bounds = punched.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(punched, "day", "left")
        .select(
            "day",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.col("n_events").isNull().alias("is_gap"),
            F.last("avg_value", ignorenulls=True)
            .over(w)
            .alias("avg_value_filled"),
        )
    )


@query(
    "events_type_quantiles",
    """
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.75), 6) AS p75,
       ROUND(quantile_cont(value, 0.9), 6) AS p90
FROM events GROUP BY event_type
""",
)
def _type_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED exact quantiles (the per-key companion of the global
    agg_value_quantiles gate): sort-based `percentile` inside a keyed
    aggregation — one shuffle on the group key, interpolation bit-matched
    to DuckDB's quantile_cont."""
    ev = load_table(spark, sf_dir, "events", spread=True)
    return ev.groupBy("event_type").agg(
        *[
            F.round(F.percentile("value", q), 6).alias(f"p{int(q*100)}")
            for q in (0.25, 0.5, 0.75, 0.9)
        ]
    )


@query(
    "events_attribution_credits",
    """
WITH conv AS (
    SELECT user_id AS u, event_id AS conversion_id, ts AS conversion_ts
    FROM events WHERE event_type = 'purchase'
),
touch AS (
    SELECT user_id AS u, event_id AS touch_id, ts AS touch_ts
    FROM events WHERE event_type IN ('click', 'view')
),
paired AS (
    SELECT c.conversion_id, c.conversion_ts, c.u, t.touch_id, t.touch_ts
    FROM conv c JOIN touch t ON c.u = t.u
    WHERE t.touch_ts <= c.conversion_ts
      AND t.touch_ts > c.conversion_ts - INTERVAL 24 HOUR
)
SELECT conversion_id, conversion_ts, u AS user_id, touch_id, touch_ts,
       CAST(COUNT(*) OVER w AS INTEGER) AS n_touches,
       CAST(CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY conversion_id ORDER BY touch_ts, touch_id
            ) = 1 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS credit_first,
       CAST(CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY conversion_id
                ORDER BY touch_ts DESC, touch_id DESC
            ) = 1 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS credit_last,
       CAST(1.0 AS DOUBLE) / COUNT(*) OVER w AS credit_linear
FROM paired
WINDOW w AS (PARTITION BY conversion_id)
""",
)
def _events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch multi-touch attribution (behavior.attribute_conversions):
    first/last/linear credit over the 24 h pre-conversion touch window —
    user-keyed pairing join, per-conversion rank windows, linear credit
    as one IEEE division of exact integers."""
    from ..functions.behavior import attribute_conversions

    ev = load_table(spark, sf_dir, "events", spread=True)
    return attribute_conversions(ev)


@query(
    "events_ewma",
    """
WITH ordered AS (
    SELECT user_id,
           list(struct_pack(ts := ts, id := event_id,
                            v := CAST(value AS DOUBLE))
                ORDER BY ts, event_id) AS l
    FROM events WHERE value IS NOT NULL GROUP BY user_id
),
pos AS (
    SELECT user_id, l,
           unnest([{'p': i, 'id': l[i].id, 'ts': l[i].ts, 'v': l[i].v}
                   for i in range(1, len(l) + 1)]) AS u
    FROM ordered
)
SELECT user_id, u.id AS event_id, u.ts AS ts, u.v AS value,
       list_reduce(list_transform(l[1:u.p], x -> x.v),
                   (a, b) -> (a + b) / 2) AS ewma
FROM pos
""",
)
def _events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running EWMA, alpha = 1/2 (stats.ewma_halving): halving
    is exact in IEEE binary, so the sequential fold is bit-identical on
    both engines — the oracle replays the recurrence per position."""
    from ..functions.stats import ewma_halving

    ev = load_table(spark, sf_dir, "events", spread=True)
    return ewma_halving(ev)


#: Deliberately NON-DYADIC: the general-alpha fold's determinism claim is
#: that a fixed sequence of correctly-rounded IEEE ops with identically
#: bound constants replays bit-identically on ANY engine — per-step
#: exactness (halving) was never required.  repr() round-trips the exact
#: doubles into both engines' CAST('<repr>' AS DOUBLE).
_EWMA_ALPHA = 0.3
_EWMA_A_LIT = f"CAST('{_EWMA_ALPHA!r}' AS DOUBLE)"
_EWMA_OMA_LIT = f"CAST('{1.0 - _EWMA_ALPHA!r}' AS DOUBLE)"


@query(
    "events_ewma_alpha",
    f"""
WITH ordered AS (
    SELECT user_id,
           list(struct_pack(ts := ts, id := event_id,
                            v := CAST(value AS DOUBLE))
                ORDER BY ts, event_id) AS l
    FROM events WHERE value IS NOT NULL GROUP BY user_id
),
pos AS (
    SELECT user_id, l,
           unnest([{{'p': i, 'id': l[i].id, 'ts': l[i].ts, 'v': l[i].v}}
                   for i in range(1, len(l) + 1)]) AS u
    FROM ordered
)
SELECT user_id, u.id AS event_id, u.ts AS ts, u.v AS value,
       list_reduce(list_transform(l[1:u.p], x -> x.v),
                   (a, b) -> a * {_EWMA_OMA_LIT} + b * {_EWMA_A_LIT})
           AS ewma
FROM pos
""",
)
def _events_ewma_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-alpha EWMA (stats.ewma, alpha = 0.3): the oracle replays
    the exact s*(1-a) + v*a token sequence, proving the cross-engine
    bit-identity contract holds beyond the dyadic special case."""
    from ..functions.stats import ewma

    ev = load_table(spark, sf_dir, "events", spread=True)
    return ewma(ev, alpha=_EWMA_ALPHA)


@query(
    "events_quantile_buckets",
    """
WITH edges AS (
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 6) AS e0,
           ROUND(quantile_cont(value, 0.5), 6) AS e1,
           ROUND(quantile_cont(value, 0.75), 6) AS e2
    FROM events GROUP BY event_type
)
SELECT e.event_type, e.event_id, e.value,
       CASE WHEN e.value IS NULL THEN NULL
            ELSE CAST(len(list_filter([d.e0, d.e1, d.e2],
                                      x -> e.value >= x)) AS INTEGER)
       END AS bucket
FROM events e JOIN edges d USING (event_type)
""",
)
def _quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment quantile discretizer (stats.quantile_bucketize): every
    event bucketed between its OWN event_type's exact quartile edges —
    one edges aggregation broadcast back, map-side array-scan assignment,
    ties-up boundary on 6-decimal-rounded edges shared with the oracle."""
    from ..functions.stats import quantile_bucketize

    ev = load_table(spark, sf_dir, "events", spread=True)
    return quantile_bucketize(
        ev, "value", n_buckets=4, id_col="event_id",
        group_cols=["event_type"],
    )


@query(
    "events_daily_unpivot",
    """
WITH wide AS (
    SELECT CAST(ts AS DATE) AS day,
"""
    + ",\n".join(
        f"           CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS {t}_events"
        for t in _PIVOT_TYPES
    )
    + """
    FROM events GROUP BY day
)
"""
    + "\nUNION ALL\n".join(
        f"SELECT day, '{t}_events' AS metric, {t}_events AS n_events FROM wide"
        for t in _PIVOT_TYPES
    ),
)
def _daily_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`unpivot` (melt): the wide daily pivot back to long form — the
    reshape inverse of events_daily_pivot, one Expand over the wide frame
    (no join, no extra shuffle beyond the pivot's own aggregation)."""
    wide = _daily_pivot(spark, sf_dir)
    return wide.unpivot(
        "day",
        [f"{t}_events" for t in _PIVOT_TYPES],
        "metric",
        "n_events",
    )


# ---------------------------------------------------------------------------
# Trailing-baseline anomaly detection (behavior.trailing_anomalies): value
# > 3x the user's previous-10-events mean, >= 5 priors required.  The
# decision is multiplied out in decimal (value*n > 3*sum) so it is exact
# on both engines; only the DISPLAY mean divides (bridged ROUND).
# ---------------------------------------------------------------------------
from .oracle_util import round_sql as _round_sql  # noqa: E402
from ..functions.behavior import trailing_anomalies  # noqa: E402


@query(
    "events_trailing_anomalies",
    f"""
WITH base AS (
    SELECT user_id, event_id, value, ts,
           CAST(CAST(value AS VARCHAR) AS DECIMAL(24,10)) AS dv
    FROM events
),
wins AS (
    SELECT user_id, event_id, value, dv,
           COUNT(dv) OVER w AS n,
           SUM(dv) OVER w AS s
    FROM base
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING
    )
)
SELECT user_id, event_id, value,
       {_round_sql('CAST(s AS DOUBLE) / n', 4)} AS trailing_mean,
       CAST(n AS INTEGER) AS n_prior
FROM wins
WHERE n >= 5 AND dv * n > 3 * s
""",
)
def _trailing_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return trailing_anomalies(
        load_table(spark, sf_dir, "events", spread=True)
    )


# ---------------------------------------------------------------------------
# Statistical moments family (functions/stats.py): exact-decimal sums ->
# one double cast -> fixed IEEE chain (+ correctly-rounded sqrt), so
# mean/std/z/r/slope hash-match the oracle bit-for-bit — the thing
# built-in stddev/corr (partition-order float sums) cannot do.
# ---------------------------------------------------------------------------
from ..functions import stats  # noqa: E402

_DECV = "CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6))"


@query(
    "events_type_moments",
    f"""
WITH agg AS (
    SELECT event_type,
           CAST(COUNT(value) AS BIGINT) AS n,
           CAST(SUM({_DECV}) AS DOUBLE) AS s,
           CAST(SUM({_DECV} * {_DECV}) AS DOUBLE) AS ss
    FROM events GROUP BY event_type
)
SELECT event_type, n,
       {_round_sql('s / n', 6)} AS mean,
       {_round_sql(
           'CASE WHEN n > 1 THEN '
           'sqrt(greatest((ss - (s * s) / n) / (n - 1), 0.0)) END', 6
       )} AS std
FROM agg
""",
)
def _events_type_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=True)
    m = stats.group_moments(ev, "value", ["event_type"])
    return m.select(
        "event_type",
        "n",
        F.round("mean", 6).alias("mean"),
        F.round("std", 6).alias("std"),
    )


@query(
    "events_zscore_extremes",
    f"""
WITH agg AS (
    SELECT event_type,
           CAST(COUNT(value) AS BIGINT) AS n,
           CAST(SUM({_DECV}) AS DOUBLE) AS s,
           CAST(SUM({_DECV} * {_DECV}) AS DOUBLE) AS ss
    FROM events GROUP BY event_type
),
m AS (
    SELECT event_type, s / n AS mean,
           CASE WHEN n > 1 THEN
               sqrt(greatest((ss - (s * s) / n) / (n - 1), 0.0)) END AS std
    FROM agg
)
SELECT e.event_id, e.event_type, e.value,
       {_round_sql('(e.value - m.mean) / m.std', 4)} AS z
FROM events e JOIN m USING (event_type)
WHERE m.std > 0 AND abs((e.value - m.mean) / m.std) > 1.5
""",
)
def _events_zscore_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=True)
    z = stats.zscore(ev, "value", ["event_type"])
    return z.filter(F.abs(F.col("z")) > 1.5).select(
        "event_id", "event_type", "value", F.round("z", 4).alias("z")
    )


_DECH = "CAST(CAST(hour(ts) AS VARCHAR) AS DECIMAL(18,6))"


@query(
    "events_hour_value_corr",
    f"""
WITH agg AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({_DECH}) AS DOUBLE) AS sx,
           CAST(SUM({_DECV}) AS DOUBLE) AS sy,
           CAST(SUM({_DECH} * {_DECH}) AS DOUBLE) AS sxx,
           CAST(SUM({_DECV} * {_DECV}) AS DOUBLE) AS syy,
           CAST(SUM({_DECH} * {_DECV}) AS DOUBLE) AS sxy
    FROM events GROUP BY event_type
)
SELECT event_type, n,
       {_round_sql(
           'CASE WHEN greatest(n * sxx - sx * sx, 0.0) > 0 '
           'AND greatest(n * syy - sy * sy, 0.0) > 0 THEN '
           '(n * sxy - sx * sy) / (sqrt(greatest(n * sxx - sx * sx, 0.0))'
           ' * sqrt(greatest(n * syy - sy * sy, 0.0))) END', 6
       )} AS r
FROM agg
""",
)
def _events_hour_value_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=True).withColumn(
        "hour_of_day", F.hour("ts")
    )
    c = stats.pearson_corr(ev, "hour_of_day", "value", ["event_type"])
    return c.select("event_type", "n", F.round("r", 6).alias("r"))


@query(
    "events_daily_trend",
    f"""
WITH daily AS (
    SELECT event_type,
           CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_no,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type, day_no
),
agg AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(day_no) AS BIGINT) AS sx,
           CAST(SUM(n_events) AS BIGINT) AS sy,
           CAST(SUM(day_no * day_no) AS BIGINT) AS sxx,
           CAST(SUM(day_no * n_events) AS BIGINT) AS sxy
    FROM daily GROUP BY event_type
),
fit AS (
    SELECT event_type, n,
           CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
               CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
           sx, sy
    FROM agg
)
SELECT event_type, n,
       {_round_sql('slope', 6)} AS slope,
       {_round_sql(
           '(CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n', 6
       )} AS intercept
FROM fit
""",
)
def _events_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=True)
    daily = ev.groupBy(
        "event_type", F.unix_date(F.to_date("ts")).alias("day_no")
    ).agg(F.count("*").alias("n_events"))
    fit = stats.ols_fit(daily, "day_no", "n_events", ["event_type"])
    return fit.select(
        "event_type",
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# OHLC bars: the time-series downsample every market/telemetry pipeline
# runs — per user x hour: first value (open), max (high), min (low),
# last value (close), count.  The scale-correct plan is ONE hash
# aggregate with partial-aggregating min_by/max_by on a (ts, event_id)
# struct tiebreak — no per-key sort, no window, whale-proof because
# partials combine map-side.  The oracle replays first/last with
# row_number windows — a different algorithm that must agree, including
# on ts ties (event_id breaks them totally).
# ---------------------------------------------------------------------------
@query(
    "events_ohlc_bars",
    """
WITH ranked AS (
    SELECT user_id, date_trunc('hour', ts) AS hour, value,
           row_number() OVER (
               PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts, event_id) AS rn_a,
           row_number() OVER (
               PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
)
SELECT user_id, hour,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open_val,
       MAX(value) AS high_val,
       MIN(value) AS low_val,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close_val,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM ranked
GROUP BY user_id, hour
""",
)
def _ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.behavior import ohlc_bars

    ev = (
        load_table(spark, sf_dir, "events", spread=True)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .withColumn("hour", F.date_trunc("hour", "ts"))
    )
    return ohlc_bars(ev, ["user_id", "hour"])


# ---------------------------------------------------------------------------
# Exact weighted median per group — the importance-weighted quantile a
# sampling/reweighting pipeline needs (weights here derived
# deterministically from event_id so both engines see the same table).
# Definition: the smallest (value, id) row whose running weight reaches
# half the group total, compared as 2*cumsum >= total in exact integers
# (no division, no float ranks).  Plan: ONE group-keyed shuffle carries
# both windows (running sum + group total over the same sort), then the
# qualifying-row pick is a lexicographic MIN(struct) aggregate — no
# second sort, no self-join.  The oracle replays with a row_number pick,
# a different qualifying-row mechanism that must agree.
# ---------------------------------------------------------------------------
@query(
    "events_weighted_median",
    """
WITH b AS (
    SELECT event_type, value, event_id, (event_id % 7) + 1 AS wt
    FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
),
c AS (
    SELECT *,
           SUM(wt) OVER (PARTITION BY event_type ORDER BY value, event_id
                         ROWS UNBOUNDED PRECEDING) AS cw,
           SUM(wt) OVER (PARTITION BY event_type) AS tw
    FROM b
),
q AS (SELECT event_type, value, event_id, tw FROM c WHERE 2 * cw >= tw)
SELECT event_type, value AS weighted_median,
       CAST(tw AS BIGINT) AS total_weight
FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type
                                 ORDER BY value, event_id) AS rn
    FROM q
) WHERE rn = 1
""",
)
def _weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events", spread=True)
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            "value",
            "event_id",
            ((F.col("event_id") % 7) + 1).alias("wt"),
        )
    )
    return stats.weighted_median(ev, ["event_type"])


# ---------------------------------------------------------------------------
# Gini concentration per group — the inequality/imbalance diagnostic a
# data-mixing pipeline runs per domain/source (is 1% of the corpus
# carrying 90% of the tokens?).  Classic rank formula
# G = (2*sum(i*x_(i)) - (n+1)*sum(x)) / (n*sum(x)) over ascending-sorted
# values; numerator and denominator are EXACT (decimal value image,
# bigint ranks), so the only float op is one cast-and-divide at the end
# — bit-identical cross-engine per the moments-family contract.  Plan:
# ONE event_type-keyed shuffle carries the rank window and the final
# aggregate (same key, ENSURE_REQUIREMENTS reuses the exchange).
# ---------------------------------------------------------------------------
@query(
    "events_gini_concentration",
    """
WITH b AS (
    SELECT event_type,
           CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)) AS dv, event_id
    FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
),
r AS (
    SELECT event_type, dv,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY dv, event_id) AS i
    FROM b
)
SELECT event_type,
       COUNT(*) AS n,
       ROUND(CAST(SUM(dv) AS DOUBLE), 6) AS total_value,
       CASE WHEN SUM(dv) > 0 THEN
           ROUND(CAST(2 * SUM(i * dv) - (COUNT(*) + 1) * SUM(dv) AS DOUBLE)
                 / CAST(COUNT(*) * SUM(dv) AS DOUBLE), 9)
       END AS gini
FROM r GROUP BY event_type
""",
)
def _gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events", spread=True)
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", "value", "event_id")
    )
    return stats.gini_concentration(ev, ["event_type"])


# ---------------------------------------------------------------------------
# CUSUM change-point per group — where did this metric's level shift?
# The textbook statistic argmax_i |cumsum_i - i*mean| involves a float
# mean; multiplying through by n makes it EXACT:
# dev_i = |n*cumsum_i - i*total| (decimal x bigint), and the argmax over
# exact decimals is unambiguous.  Plan: ONE event_type-keyed shuffle
# carries the running-sum window, the rank window, both group totals,
# and the final aggregate; the argmax is a lexicographic MAX(struct)
# with -i breaking deviation ties toward the EARLIEST index — the
# oracle replays the pick with a row_number window (deviation DESC,
# i ASC), a different mechanism that must agree.
# ---------------------------------------------------------------------------
@query(
    "events_changepoint_cusum",
    """
WITH b AS (
    SELECT event_type,
           CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)) AS dv, ts, event_id
    FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
),
c AS (
    SELECT event_type, event_id,
           SUM(dv) OVER (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS cum,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS i,
           SUM(dv) OVER (PARTITION BY event_type) AS total,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM b
),
d AS (
    SELECT event_type, i, event_id, n,
           ABS(n * cum - i * total) AS dev
    FROM c
)
SELECT event_type, i AS change_idx, event_id AS change_event_id,
       ROUND(CAST(dev AS DOUBLE), 6) AS max_deviation, n
FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type
                                 ORDER BY dev DESC, i) AS rn
    FROM d
) WHERE rn = 1
""",
)
def _changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events", spread=True)
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", "value", "ts", "event_id")
    )
    return stats.cusum_changepoint(ev, ["event_type"])


# ---------------------------------------------------------------------------
# Cohort LTV matrix — the value-weighted twin of events_retention: per
# (first-seen cohort week x weeks-since) cell, exact event-value sums
# plus the cumulative LTV curve along each cohort row.  Spark derives
# first-seen with a MIN window over ONE user-keyed shuffle (no join);
# the oracle replays it as groupBy + join — different mechanisms that
# must agree.  The cumulative window runs on the POST-AGGREGATION frame
# (cohort x offset cells, metadata-scale), never the event stream; week
# offsets are exact because both endpoints are week-truncated (datediff
# is always a multiple of 7).
# ---------------------------------------------------------------------------
@query(
    "events_cohort_ltv",
    """
WITH first AS (
    SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
),
flat AS (
    SELECT CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
           CAST(datediff('day',
                         CAST(date_trunc('week', f.first_ts) AS DATE),
                         CAST(date_trunc('week', e.ts) AS DATE)) / 7
                AS INTEGER) AS week_offset,
           CAST(CAST(e.value AS VARCHAR) AS DECIMAL(18,6)) AS dv
    FROM events e JOIN first f ON e.user_id = f.user_id
    WHERE e.value IS NOT NULL
),
cell AS (
    SELECT cohort_week, week_offset,
           SUM(dv) AS wk, COUNT(*) AS n_events
    FROM flat GROUP BY 1, 2
)
SELECT cohort_week, week_offset, n_events,
       ROUND(CAST(wk AS DOUBLE), 6) AS week_value,
       ROUND(CAST(SUM(wk) OVER (
           PARTITION BY cohort_week ORDER BY week_offset
           ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS cumulative_value
FROM cell
""",
)
def _cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.behavior import cohort_value_matrix

    return cohort_value_matrix(
        load_table(spark, sf_dir, "events", spread=True)
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (time order vs value order) per event_type —
# the monotonic-trend strength test.  Both sides carry the event_id
# tiebreak so ranks are exact permutations and the d-squared shortcut
# rho = 1 - 6*sum(d^2)/(n*(n^2-1)) is exact integers until ONE float
# division.  See functions/stats.py::spearman_rank_corr.
# ---------------------------------------------------------------------------
@query(
    "events_spearman_trend",
    """
WITH b AS (
    SELECT event_type, value, ts, event_id FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
),
r AS (
    SELECT event_type,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS i,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS j
    FROM b
)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM((i - j) * (i - j)) AS BIGINT) AS sum_d2,
       CASE WHEN COUNT(*) > 1 THEN
           ROUND(1.0 - CAST(6 * SUM((i - j) * (i - j)) AS DOUBLE)
                 / CAST(CAST(COUNT(*) AS DECIMAL(38,0))
                        * (CAST(COUNT(*) AS DECIMAL(38,0))
                           * COUNT(*) - 1) AS DOUBLE), 9)
       END AS rho
FROM r GROUP BY event_type
""",
)
def _spearman_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events", spread=True)
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", "value", "ts", "event_id")
    )
    return stats.spearman_rank_corr(ev, ["event_type"])


# ---------------------------------------------------------------------------
# Event-type co-occurrence lift — market-basket affinity over the
# distinct (user, type) frame; exact integer counts, one division.
# See functions/behavior.py::type_cooccurrence_lift.  The oracle
# replays the pair join as a correlated COUNT over grouped type sets —
# a different mechanism that must agree.
# ---------------------------------------------------------------------------
@query(
    "events_cooccurrence_lift",
    """
WITH u AS (
    SELECT DISTINCT user_id, event_type FROM events
    WHERE event_type IS NOT NULL AND user_id IS NOT NULL
),
tc AS (SELECT event_type, COUNT(*) AS n_t FROM u GROUP BY 1),
tot AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM u),
pairs AS (
    SELECT a.event_type AS t1, b.event_type AS t2, COUNT(*) AS n_both
    FROM u a JOIN u b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT p.t1, p.t2, p.n_both,
       ROUND(CAST(p.n_both * t.n_users AS DOUBLE)
             / CAST(c1.n_t * c2.n_t AS DOUBLE), 9) AS lift
FROM pairs p
JOIN tc c1 ON c1.event_type = p.t1
JOIN tc c2 ON c2.event_type = p.t2
CROSS JOIN tot t
""",
)
def _cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.behavior import type_cooccurrence_lift

    return type_cooccurrence_lift(
        load_table(spark, sf_dir, "events", spread=True)
    )


# ---------------------------------------------------------------------------
# A/B test family: the even/odd-user split plays treatment vs control
# per event_type.  Mann-Whitney U over combined id-tiebroken ranks —
# exact integers until the one AUC division; see
# functions/stats.py::mann_whitney_u.
# ---------------------------------------------------------------------------
@query(
    "stats_mann_whitney",
    """
WITH b AS (
    SELECT event_type, user_id % 2 AS side, value, event_id FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
      AND user_id IS NOT NULL
),
r AS (
    SELECT event_type, side,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rk
    FROM b
),
a AS (
    SELECT event_type,
           COUNT(*) FILTER (WHERE side = 0) AS n1,
           COUNT(*) FILTER (WHERE side = 1) AS n2,
           SUM(CASE WHEN side = 0 THEN rk ELSE 0 END) AS r1
    FROM r GROUP BY event_type
)
SELECT event_type, n1, n2,
       CAST(r1 - (n1 * (n1 + 1)) / 2 AS BIGINT) AS u1,
       CASE WHEN n1 > 0 AND n2 > 0 THEN
           ROUND(CAST(r1 - (n1 * (n1 + 1)) / 2 AS DOUBLE)
                 / CAST(n1 * n2 AS DOUBLE), 9)
       END AS auc
FROM a
""",
)
def _mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events", spread=True)
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select(
            "event_type",
            (F.col("user_id") % 2).alias("side"),
            "value",
            "event_id",
        )
    )
    return stats.mann_whitney_u(ev, ["event_type"], "side")


# ---------------------------------------------------------------------------
# Welch's unequal-variance t over the same split — the parametric
# companion; exact decimal sums, one fixed IEEE chain mirrored
# token-for-token in this oracle.  See functions/stats.py::welch_t.
# ---------------------------------------------------------------------------
@query(
    "stats_welch_t",
    """
WITH b AS (
    SELECT event_type, user_id % 2 AS side,
           CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)) AS dv
    FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
      AND user_id IS NOT NULL
),
a AS (
    SELECT event_type,
           COUNT(*) FILTER (WHERE side = 0) AS n1,
           COUNT(*) FILTER (WHERE side = 1) AS n2,
           CAST(SUM(CASE WHEN side = 0 THEN dv
                    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS s1,
           CAST(SUM(CASE WHEN side = 1 THEN dv
                    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS s2,
           CAST(SUM(CASE WHEN side = 0 THEN dv * dv
                    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS ss1,
           CAST(SUM(CASE WHEN side = 1 THEN dv * dv
                    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS ss2
    FROM b GROUP BY event_type
)
SELECT event_type, n1, n2,
       CASE WHEN n1 > 1 AND n2 > 1
                 AND ((ss1 - s1 * s1 / n1) / (n1 - 1) / n1
                      + (ss2 - s2 * s2 / n2) / (n2 - 1) / n2) > 0
            THEN ROUND((s1 / n1 - s2 / n2)
                       / sqrt((ss1 - s1 * s1 / n1) / (n1 - 1) / n1
                              + (ss2 - s2 * s2 / n2) / (n2 - 1) / n2), 9)
       END AS t_stat
FROM a
""",
)
def _welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events", spread=True)
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select(
            "event_type",
            (F.col("user_id") % 2).alias("side"),
            "value",
        )
    )
    return stats.welch_t(ev, ["event_type"], "side")


# ---------------------------------------------------------------------------
# Two-sample KS statistic over the same even/odd-user split — completes
# the A/B trio (location: Mann-Whitney; means: Welch; full CDF shape:
# KS).  Cross-multiplied integer CDF gaps, one closing division.  See
# functions/stats.py::ks_statistic.
# ---------------------------------------------------------------------------
@query(
    "stats_ks_two_sample",
    """
WITH b AS (
    SELECT event_type, user_id % 2 AS side, value, event_id FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
      AND user_id IS NOT NULL
),
c AS (
    SELECT event_type,
           SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) OVER (
               PARTITION BY event_type ORDER BY value, event_id
               ROWS UNBOUNDED PRECEDING) AS c1,
           SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) OVER (
               PARTITION BY event_type ORDER BY value, event_id
               ROWS UNBOUNDED PRECEDING) AS c2,
           SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) OVER (
               PARTITION BY event_type) AS n1,
           SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) OVER (
               PARTITION BY event_type) AS n2
    FROM b
)
SELECT event_type,
       CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
       CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS d_scaled,
       CASE WHEN MAX(n1) > 0 AND MAX(n2) > 0 THEN
           ROUND(CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS DOUBLE)
                 / CAST(MAX(n1) * MAX(n2) AS DOUBLE), 9)
       END AS ks
FROM c GROUP BY event_type
""",
)
def _ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events", spread=True)
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select(
            "event_type",
            (F.col("user_id") % 2).alias("side"),
            "value",
            "event_id",
        )
    )
    return stats.ks_statistic(ev, ["event_type"], "side")


# ---------------------------------------------------------------------------
# Winsorization summary per event_type: exact p05/p95 edges (X20
# percentile contract), map-side clip, exact decimal sum of the
# winsorized values + clip counts.  See functions/stats.py::winsorize.
# ---------------------------------------------------------------------------
@query(
    "events_winsorize",
    """
WITH e AS (
    SELECT event_type,
           ROUND(quantile_cont(value, 0.05), 6) AS lo,
           ROUND(quantile_cont(value, 0.95), 6) AS hi
    FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    GROUP BY event_type
),
w AS (
    SELECT v.event_type,
           ROUND(LEAST(GREATEST(v.value, e.lo), e.hi), 6) AS wv,
           v.value < e.lo AS is_lo, v.value > e.hi AS is_hi
    FROM events v JOIN e ON v.event_type = e.event_type
    WHERE v.value IS NOT NULL
)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CASE WHEN is_lo THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clipped_low,
       CAST(SUM(CASE WHEN is_hi THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clipped_high,
       ROUND(CAST(SUM(CAST(CAST(wv AS VARCHAR) AS DECIMAL(18,6)))
                  AS DOUBLE), 6) AS winsorized_sum
FROM w GROUP BY event_type
""",
)
def _winsorize_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events", spread=True)
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", "value", "event_id")
    )
    w = stats.winsorize(ev, "value", ["event_type"])
    return w.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count_if(F.col("clipped_low")).alias("n_clipped_low"),
        F.count_if(F.col("clipped_high")).alias("n_clipped_high"),
        F.round(
            F.sum(F.col("w_value").cast("string").cast("decimal(18,6)"))
            .cast("double"),
            6,
        ).alias("winsorized_sum"),
    )


# ---------------------------------------------------------------------------
# Trailing 7-row OLS slope per event_type — the local drift detector.
# Exact frame sums (bigint ranks x decimal values), one division per
# row.  See functions/stats.py::rolling_ols_slope.  Filtered to one
# user slice to keep gate output proportionate.
# ---------------------------------------------------------------------------
@query(
    "events_rolling_slope",
    """
WITH b AS (
    SELECT event_type, ts, event_id,
           CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)) AS y
    FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
      AND user_id % 25 = 0
),
r AS (
    SELECT event_type, ts, event_id, y,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS x
    FROM b
),
c AS (
    SELECT event_type, event_id,
           COUNT(*) OVER w AS n,
           SUM(x) OVER w AS sx,
           SUM(y) OVER w AS sy,
           SUM(x * x) OVER w AS sxx,
           SUM(x * y) OVER w AS sxy
    FROM r
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, event_id,
       CASE WHEN n > 1 THEN
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 9)
       END AS slope
FROM c
""",
)
def _rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events", spread=True)
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
            & (F.col("user_id") % 25 == 0)
        )
        .select("event_type", "value", "ts", "event_id")
    )
    return stats.rolling_ols_slope(ev, ["event_type"])


# ---------------------------------------------------------------------------
# Quantile normalization: odd users' values mapped onto the even users'
# empirical quantile function per event_type — distribution matching
# for score calibration.  Rational positions/weights, one closing IEEE
# chain.  See functions/stats.py::quantile_normalize.
# ---------------------------------------------------------------------------
@query(
    "events_quantile_normalize",
    """
WITH b AS (
    SELECT event_type, user_id % 2 AS side, value, event_id FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
      AND user_id IS NOT NULL AND event_id % 7 = 0
),
r AS (
    SELECT event_type, side, value, event_id,
           row_number() OVER (PARTITION BY event_type, side
                              ORDER BY value, event_id) AS rk,
           SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) OVER (
               PARTITION BY event_type) AS n0,
           SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) OVER (
               PARTITION BY event_type) AS n1
    FROM b
),
ref AS (SELECT event_type, rk AS pos, value AS v FROM r WHERE side = 0),
tgt AS (
    SELECT event_type, event_id, value,
           ((rk - 1) * (n0 - 1)) // (n1 - 1) + 1 AS lo_pos,
           LEAST(((rk - 1) * (n0 - 1)) // (n1 - 1) + 2, n0) AS hi_pos,
           CAST(((rk - 1) * (n0 - 1)) % (n1 - 1) AS DOUBLE) AS rem,
           CAST(n1 - 1 AS DOUBLE) AS den
    FROM r WHERE side = 1 AND n0 > 1 AND n1 > 1
)
SELECT t.event_type, t.event_id, t.value,
       ROUND(l.v + (h.v - l.v) * (t.rem / t.den), 9) AS norm_value
FROM tgt t
JOIN ref l ON l.event_type = t.event_type AND l.pos = t.lo_pos
JOIN ref h ON h.event_type = t.event_type AND h.pos = t.hi_pos
""",
)
def _quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events", spread=True)
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
            & (F.col("event_id") % 7 == 0)
        )
        .select(
            "event_type",
            (F.col("user_id") % 2).alias("side"),
            "value",
            "event_id",
        )
    )
    return stats.quantile_normalize(ev, ["event_type"], "side")


# ---------------------------------------------------------------------------
# Longest consecutive-day activity streak per user — the engagement
# metric on the CALENDAR lattice (vs the sessionizer's seconds-gap
# islands): distinct active days, the day-minus-dense_rank island key
# (consecutive days share it), island sizes, per-user max with a
# deterministic earliest-start tiebreak.  All integers; ONE user-keyed
# shuffle carries the distinct, the rank window, and both aggregates.
# ---------------------------------------------------------------------------
@query(
    "events_longest_streak",
    """
WITH d AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    WHERE user_id % 10 = 0
),
i AS (
    SELECT user_id, day,
           day - CAST(dense_rank() OVER (PARTITION BY user_id
                                         ORDER BY day) AS INTEGER)
               AS island
    FROM d
),
runs AS (
    SELECT user_id, island, COUNT(*) AS len, MIN(day) AS streak_start
    FROM i GROUP BY user_id, island
)
SELECT user_id,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       MIN(streak_start) FILTER (
           WHERE len = (SELECT MAX(r2.len) FROM runs r2
                        WHERE r2.user_id = runs.user_id)
       ) AS streak_start,
       CAST(SUM(len) AS BIGINT) AS active_days
FROM runs GROUP BY user_id
""",
)
def _longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.behavior import longest_streak

    return longest_streak(
        load_table(spark, sf_dir, "events", spread=True).filter(
            F.col("user_id") % 10 == 0
        )
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonal index per event_type — the multiplicative
# seasonality profile, evaluated as one IEEE division of exact BIGINT
# cross-products so the hash is engine-stable.  ISO day numbering
# (Spark weekday()+1 == DuckDB isodow).  See
# functions/stats.py::seasonal_dow_index.
# ---------------------------------------------------------------------------
@query(
    "events_seasonal_dow",
    """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
    FROM events WHERE event_type IS NOT NULL
    GROUP BY 1, 2
),
dow AS (
    SELECT event_type, CAST(isodow(day) AS BIGINT) AS iso_dow,
           COUNT(*) AS n_days, CAST(SUM(n) AS BIGINT) AS n_events
    FROM daily GROUP BY 1, 2
)
SELECT event_type, iso_dow, n_days, n_events,
       ROUND(CAST(n_events * SUM(n_days) OVER (PARTITION BY event_type)
                  AS DOUBLE)
             / CAST(n_days * SUM(n_events) OVER (PARTITION BY event_type)
                    AS DOUBLE), 9) AS seasonal_index
FROM dow
""",
)
def _seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import seasonal_dow_index

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull()
    )
    return seasonal_dow_index(ev, ["event_type"])


# ---------------------------------------------------------------------------
# Wilson score interval for the per-type high-value proportion
# (value > 100) — the small-n-safe conversion-rate guardrail.  Exact
# counts; the closing chain (one sqrt — IEEE-correctly-rounded — plus
# fixed +,*,/ over identical operands) is mirrored operand for operand
# in the oracle.  See functions/stats.py::wilson_interval.
# ---------------------------------------------------------------------------
@query(
    "stats_wilson_ci",
    """
WITH g AS (
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT)
               AS k
    FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
    GROUP BY 1
)
SELECT event_type, n, k,
       ROUND(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 9) AS p_hat,
       ROUND((CAST(k AS DOUBLE) + (1.96*1.96)/2
              - 1.96 * sqrt(CAST(k*(n-k) AS DOUBLE) / CAST(n AS DOUBLE)
                            + (1.96*1.96)/4))
             / (CAST(n AS DOUBLE) + 1.96*1.96), 9) AS wilson_low,
       ROUND((CAST(k AS DOUBLE) + (1.96*1.96)/2
              + 1.96 * sqrt(CAST(k*(n-k) AS DOUBLE) / CAST(n AS DOUBLE)
                            + (1.96*1.96)/4))
             / (CAST(n AS DOUBLE) + 1.96*1.96), 9) AS wilson_high
FROM g
""",
)
def _wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import wilson_interval

    ev = (
        load_table(spark, sf_dir, "events", spread=True)
        .filter(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select("event_type", (F.col("value") > 100).alias("success"))
    )
    return wilson_interval(ev, ["event_type"], "success", z=1.96)


# ---------------------------------------------------------------------------
# Daily new-vs-returning user split + cumulative distinct users — the
# growth decomposition.  All exact integers; one user-keyed shuffle,
# the day rollup and running sum on the post-agg day frame.  See
# functions/behavior.py::new_vs_returning.
# ---------------------------------------------------------------------------
@query(
    "events_new_vs_returning",
    """
WITH d AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    WHERE user_id IS NOT NULL
),
s AS (
    SELECT user_id, day,
           day = MIN(day) OVER (PARTITION BY user_id) AS is_new
    FROM d
),
p AS (
    SELECT day, COUNT(*) AS n_active,
           CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
           CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT)
               AS n_returning
    FROM s GROUP BY 1
)
SELECT day, n_active, n_new, n_returning,
       CAST(SUM(n_new) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_users
FROM p
""",
)
def _new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.behavior import new_vs_returning

    return new_vs_returning(
        load_table(spark, sf_dir, "events", spread=True).filter(
            F.col("user_id").isNotNull()
        )
    )


# ---------------------------------------------------------------------------
# Linear interpolation of the per-type daily value series: every-4th
# day punched out, the calendar spine restored, and each gap taking
# the straight line BETWEEN its surrounding observations (vs the
# gapfill gate's LOCF repeat).  Day distances are exact integers; the
# closing chain is one divide + one multiply + one add over identical
# operands.  See functions/temporal.py::interpolate_daily_linear.
# ---------------------------------------------------------------------------
@query(
    "events_interpolate_linear",
    """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           ROUND(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(24,10)))
                      AS DOUBLE), 6) AS day_value
    FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
    GROUP BY 1, 2
),
punched AS (SELECT * FROM daily WHERE date_part('day', day) % 4 != 0),
bounds AS (
    SELECT event_type, MIN(day) AS lo, MAX(day) AS hi FROM punched
    GROUP BY 1
),
spine AS (
    SELECT event_type,
           CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
    FROM bounds
),
j AS (
    SELECT s.event_type, s.day, p.day_value FROM spine s
    LEFT JOIN punched p
      ON s.event_type = p.event_type AND s.day = p.day
),
w AS (
    SELECT event_type, day, day_value,
           last_value(day_value IGNORE NULLS) OVER past AS vp,
           last_value(CASE WHEN day_value IS NOT NULL THEN day END
                      IGNORE NULLS) OVER past AS dp,
           first_value(day_value IGNORE NULLS) OVER fut AS vn,
           first_value(CASE WHEN day_value IS NOT NULL THEN day END
                       IGNORE NULLS) OVER fut AS dn
    FROM j
    WINDOW past AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           fut AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, day, day_value IS NULL AS is_gap,
       ROUND(CASE WHEN day_value IS NOT NULL THEN day_value
                  ELSE vp + (vn - vp)
                       * (CAST(day - dp AS DOUBLE)
                          / CAST(dn - dp AS DOUBLE))
             END, 6) AS filled_value
FROM w
""",
)
def _interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.temporal import interpolate_daily_linear

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.round(
            F.sum(F.col("value").cast("string").cast("decimal(24,10)"))
            .cast("double"),
            6,
        ).alias("day_value")
    )
    punched = daily.filter(F.dayofmonth("day") % 4 != 0)
    return interpolate_daily_linear(punched, ["event_type"])


# ---------------------------------------------------------------------------
# Trailing 7-day rolling Pearson correlation between daily event count
# and daily value sum per event_type — six exact frame sums (bigint /
# decimal), one fixed IEEE closing chain (sqrt is correctly rounded).
# The window runs on the post-aggregation daily frame.  See
# functions/stats.py::rolling_corr.
# ---------------------------------------------------------------------------
@query(
    "events_rolling_corr",
    """
WITH daily AS (
    SELECT event_type,
           CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS y
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL
    GROUP BY 1, 2
),
f AS (
    SELECT event_type, day,
           CAST(COUNT(*) OVER w AS BIGINT) AS n,
           CAST(SUM(x) OVER w AS DOUBLE) AS sx,
           CAST(SUM(y) OVER w AS DOUBLE) AS sy,
           CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx,
           CAST(SUM(CAST(y AS DECIMAL(19,6)) * y) OVER w AS DOUBLE)
               AS syy,
           CAST(SUM(x * y) OVER w AS DOUBLE) AS sxy
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, n,
       ROUND(CASE WHEN GREATEST(n * sxx - sx * sx, 0) > 0
                   AND GREATEST(n * syy - sy * sy, 0) > 0
             THEN (n * sxy - sx * sy)
                  / (sqrt(GREATEST(n * sxx - sx * sx, 0))
                     * sqrt(GREATEST(n * syy - sy * sy, 0)))
             END, 9) AS roll_r
FROM f
""",
)
def _rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import rolling_corr

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count("*").alias("x"),
        F.sum(F.col("value").cast("string").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("y"),
    )
    return rolling_corr(
        daily, ["event_type"], "day", "x", "y", window_rows=7
    )


# ---------------------------------------------------------------------------
# Per-user categorical concentration/diversity: HHI + unbiased Simpson
# over event types — exact BIGINT products, one double division each.
# See functions/stats.py::category_diversity.
# ---------------------------------------------------------------------------
@query(
    "events_user_diversity",
    """
WITH c AS (
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
    FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
),
g AS (
    SELECT user_id,
           CAST(SUM(c) AS BIGINT) AS n,
           COUNT(*) AS k_categories,
           CAST(SUM(c * c) AS BIGINT) AS s2,
           CAST(SUM(c * (c - 1)) AS BIGINT) AS sp
    FROM c GROUP BY 1
)
SELECT user_id, n, k_categories,
       ROUND(CAST(s2 AS DOUBLE) / CAST(n * n AS DOUBLE), 9) AS hhi,
       CASE WHEN n > 1
            THEN ROUND(1.0 - CAST(sp AS DOUBLE)
                             / CAST(n * (n - 1) AS DOUBLE), 9)
       END AS simpson
FROM g
""",
)
def _user_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import category_diversity

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    return category_diversity(ev, ["user_id"], "event_type")


# ---------------------------------------------------------------------------
# Laplace-smoothed Markov transition probabilities over the same pair
# frame as events_transitions — add-one estimator, exact counts, one
# division.  See functions/behavior.py::transition_smoothed.
# ---------------------------------------------------------------------------
@query(
    "events_transitions_smoothed",
    """
WITH seq AS (
    SELECT event_type AS src,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS dst
    FROM events
),
pairs AS (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
),
v AS (SELECT COUNT(DISTINCT event_type) AS vocab FROM events)
SELECT src, dst, n_transitions,
       CAST(SUM(n_transitions) OVER (PARTITION BY src) AS BIGINT)
           AS n_src_total,
       vocab,
       ROUND(CAST(n_transitions + 1 AS DOUBLE)
             / CAST(SUM(n_transitions) OVER (PARTITION BY src) + vocab
                    AS DOUBLE), 9) AS smoothed_prob
FROM pairs, v
""",
)
def _transitions_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.behavior import transition_smoothed

    return transition_smoothed(
        load_table(spark, sf_dir, "events", spread=True)
    )


# ---------------------------------------------------------------------------
# Conversion-window funnel: view -> click -> purchase where each stage
# must land within 4 hours of the previous stage's entry.  Whale-safe
# join-chain plan (partial-aggregating groupBy per stage, shuffle-hash
# joins on user, no per-user window sort).  See
# functions/behavior.py::funnel_windowed.
# ---------------------------------------------------------------------------
@query(
    "events_funnel_windowed",
    """
WITH s1 AS (
    SELECT user_id, MIN(ts) AS entry FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, MIN(e.ts) AS entry
    FROM events e JOIN s1 ON e.user_id = s1.user_id
        AND e.ts > s1.entry AND e.ts <= s1.entry + INTERVAL 4 HOUR
    WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, MIN(e.ts) AS entry
    FROM events e JOIN s2 ON e.user_id = s2.user_id
        AND e.ts > s2.entry AND e.ts <= s2.entry + INTERVAL 4 HOUR
    WHERE e.event_type = 'purchase' GROUP BY e.user_id
),
counts AS (
    SELECT 1 AS stage, 'view' AS stage_name, COUNT(*) AS users FROM s1
    UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
    UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3
)
SELECT stage, stage_name, users,
       ROUND(100.0 * users
             / NULLIF((SELECT users FROM counts WHERE stage = 1), 0), 2)
           AS conversion_pct
FROM counts
""",
)
def _funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.behavior import funnel_windowed

    return funnel_windowed(
        load_table(spark, sf_dir, "events", spread=True),
        _FUNNEL_STAGES,
        max_gap_hours=4,
    )


# ---------------------------------------------------------------------------
# Decile lift / cumulative gains of the value score against the purchase
# label — exact-integer cross-product rates, id-tiebroken NTILE.  The
# global-order window is the documented eval-frame boundary (fact-scale
# bucketing goes through quantile_bucketize).  See
# functions/stats.py::decile_lift.
# ---------------------------------------------------------------------------
@query(
    "ml_score_lift",
    """
WITH ranked AS (
    SELECT NTILE(10) OVER (ORDER BY value DESC, event_id ASC) AS bucket,
           CAST(event_type = 'purchase' AS BIGINT) AS y
    FROM events WHERE value IS NOT NULL
),
per AS (
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS positives
    FROM ranked GROUP BY 1
),
c AS (
    SELECT bucket, n, positives,
           CAST(SUM(positives) OVER (
               ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_positives,
           CAST(SUM(n) OVER () AS BIGINT) AS tn,
           CAST(SUM(positives) OVER () AS BIGINT) AS tp
    FROM per
)
SELECT bucket, n, positives,
       ROUND(CAST(positives AS DOUBLE) / CAST(n AS DOUBLE), 9) AS pos_rate,
       ROUND(CAST(positives * tn AS DOUBLE) / CAST(n * tp AS DOUBLE), 9)
           AS lift,
       cum_positives,
       ROUND(100.0 * CAST(cum_positives AS DOUBLE) / CAST(tp AS DOUBLE), 9)
           AS cum_gain_pct
FROM c
""",
)
def _score_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import decile_lift

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("value").isNotNull()
    )
    labeled = ev.select(
        "value", "event_id", (F.col("event_type") == "purchase").alias("_label")
    )
    return decile_lift(labeled, "value", "_label", "event_id", buckets=10)


# ---------------------------------------------------------------------------
# Seasonal-naive (lag-7) forecast backtest on per-type daily counts:
# WMAPE and bias as single divisions of exact BIGINT sums over the
# post-aggregation daily frame.  See
# functions/stats.py::seasonal_naive_backtest.
# ---------------------------------------------------------------------------
@query(
    "events_forecast_backtest",
    """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
),
l AS (
    SELECT event_type, y AS a,
           LAG(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS f
    FROM daily
),
g AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(a) AS BIGINT) AS sum_actual,
           CAST(SUM(ABS(a - f)) AS BIGINT) AS sum_abs_err,
           CAST(SUM(f) AS BIGINT) AS sf
    FROM l WHERE f IS NOT NULL GROUP BY 1
)
SELECT event_type, n_eval, sum_actual, sum_abs_err,
       CASE WHEN sum_actual <> 0
            THEN ROUND(CAST(sum_abs_err AS DOUBLE)
                       / CAST(sum_actual AS DOUBLE), 9) END AS wmape,
       CASE WHEN sum_actual <> 0
            THEN ROUND(CAST(sf - sum_actual AS DOUBLE)
                       / CAST(sum_actual AS DOUBLE), 9) END AS bias_pct
FROM g
""",
)
def _forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import seasonal_naive_backtest

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("y"))
    return seasonal_naive_backtest(daily, ["event_type"], "day", "y", season=7)


# ---------------------------------------------------------------------------
# Hashing-trick featurization: event_type and hour-of-day hashed through
# the repo-wide md5 contract into 16 buckets, per-user sparse counts +
# exact-decimal value sums.  One map-side explode + one (user, bucket)
# partial-agg shuffle; no vocabulary state.  See
# functions/corpus.py::feature_hash.
# ---------------------------------------------------------------------------
@query(
    "ml_feature_hashing",
    """
WITH f AS (
    SELECT user_id, 'event_type=' || event_type AS feat,
           CAST(value AS DECIMAL(18,6)) AS v
    FROM events WHERE event_type IS NOT NULL
    UNION ALL
    SELECT user_id, 'hour=' || CAST(EXTRACT(hour FROM ts) AS VARCHAR),
           CAST(value AS DECIMAL(18,6))
    FROM events WHERE ts IS NOT NULL
)
SELECT user_id,
       CAST(CAST(('0x' || substr(md5('fh:' || feat), 1, 8)) AS BIGINT) % 16
            AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS feat_count,
       CAST(CAST(SUM(v) AS DECIMAL(18,6)) AS DOUBLE) AS value_sum
FROM f GROUP BY 1, 2
""",
)
def _feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.corpus import feature_hash

    ev = load_table(spark, sf_dir, "events", spread=True).withColumn(
        "hour", F.hour("ts").cast("string")
    )
    return feature_hash(
        ev, "user_id", ["event_type", "hour"], n_buckets=16,
        value_col="value",
    )


# ---------------------------------------------------------------------------
# Churn-model training frame at a 2024-01-21 cutoff: observation-window
# features and the came-back label from ONE user-keyed conditional
# aggregation — no self-join between the windows.  See
# functions/behavior.py::churn_labels.
# ---------------------------------------------------------------------------
@query(
    "ml_churn_labels",
    """
WITH g AS (
    SELECT user_id,
           CAST(COUNT(*) FILTER (
               ts < TIMESTAMP '2024-01-21 00:00:00') AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (
               ts < TIMESTAMP '2024-01-21 00:00:00'
               AND event_type = 'purchase') AS BIGINT) AS n_purchases,
           CAST(CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-21 00:00:00'
                              THEN CAST(value AS DECIMAL(18,6)) END)
                     AS DECIMAL(18,6)) AS DOUBLE) AS obs_value,
           CAST(COUNT(DISTINCT CASE WHEN ts < TIMESTAMP '2024-01-21 00:00:00'
                                    THEN CAST(ts AS DATE) END)
                AS BIGINT) AS active_days,
           MAX(CASE WHEN ts < TIMESTAMP '2024-01-21 00:00:00'
                    THEN ts END) AS last_obs,
           CAST(COUNT(*) FILTER (
               ts >= TIMESTAMP '2024-01-21 00:00:00') AS BIGINT) AS n_label
    FROM events GROUP BY 1
)
SELECT user_id, n_events, n_purchases, obs_value, active_days,
       CAST((epoch_us(TIMESTAMP '2024-01-21 00:00:00') - epoch_us(last_obs))
            // 3600000000 AS BIGINT) AS recency_hours,
       n_label = 0 AS churned
FROM g WHERE n_events > 0
""",
)
def _churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.behavior import churn_labels

    return churn_labels(
        load_table(spark, sf_dir, "events", spread=True),
        cutoff="2024-01-21 00:00:00",
    )


# ---------------------------------------------------------------------------
# One-pass pairwise Pearson matrix over the daily (count, value-sum,
# distinct-users) metrics: all 6 product sums + 3 sums + n ride a single
# partial-aggregated pass; each coefficient is the fixed IEEE closing
# chain.  See functions/stats.py::corr_matrix.
# ---------------------------------------------------------------------------
@query(
    "stats_corr_matrix",
    """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS y,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS z
    FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    GROUP BY 1
),
g AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS DOUBLE) AS sx,
           CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(SUM(z) AS DOUBLE) AS sz,
           CAST(SUM(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x AS DECIMAL(19,6)) * z) AS DOUBLE) AS sxz,
           CAST(SUM(CAST(y AS DECIMAL(19,6)) * y) AS DOUBLE) AS syy,
           CAST(SUM(CAST(y AS DECIMAL(19,6)) * z) AS DOUBLE) AS syz,
           CAST(SUM(CAST(z AS DECIMAL(19,6)) * z) AS DOUBLE) AS szz
    FROM daily
),
p AS (
    SELECT 'x' AS var_x, 'y' AS var_y, n, sx AS sa, sy AS sb,
           sxx AS saa, syy AS sbb, sxy AS sab FROM g
    UNION ALL
    SELECT 'x', 'z', n, sx, sz, sxx, szz, sxz FROM g
    UNION ALL
    SELECT 'y', 'z', n, sy, sz, syy, szz, syz FROM g
)
SELECT var_x, var_y, n,
       CASE WHEN GREATEST(n * saa - sa * sa, 0) > 0
             AND GREATEST(n * sbb - sb * sb, 0) > 0
            THEN ROUND((n * sab - sa * sb)
                       / (sqrt(GREATEST(n * saa - sa * sa, 0))
                          * sqrt(GREATEST(n * sbb - sb * sb, 0))), 9)
       END AS r
FROM p
""",
)
def _corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import corr_matrix

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("x"),
        F.sum(F.col("value").cast("string").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("y"),
        F.count_distinct("user_id").alias("z"),
    )
    return corr_matrix(daily, ["x", "y", "z"])


# ---------------------------------------------------------------------------
# First-view -> first-purchase delay distribution: earliest-entry
# semantics via the whale-safe join-chain, exact BIGINT hour bucketing,
# cumulative share over the metadata-scale bucket frame.  See
# functions/behavior.py::time_to_convert.
# ---------------------------------------------------------------------------
@query(
    "events_time_to_convert",
    """
WITH s1 AS (
    SELECT user_id, MIN(ts) AS t0 FROM events
    WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
    SELECT e.user_id, MIN(e.ts) AS t1, MIN(s1.t0) AS t0
    FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t0
    WHERE e.event_type = 'purchase' GROUP BY 1
),
per AS (
    SELECT CAST((epoch_us(t1) - epoch_us(t0)) // 3600000000 AS BIGINT)
               AS hours_bucket,
           CAST(COUNT(*) AS BIGINT) AS users
    FROM s2 GROUP BY 1
),
c AS (
    SELECT hours_bucket, users,
           CAST(SUM(users) OVER (
               ORDER BY hours_bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_users,
           CAST(SUM(users) OVER () AS BIGINT) AS total
    FROM per
)
SELECT hours_bucket, users, cum_users,
       ROUND(100.0 * CAST(cum_users AS DOUBLE) / CAST(total AS DOUBLE), 9)
           AS cum_pct
FROM c
""",
)
def _time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.behavior import time_to_convert

    return time_to_convert(
        load_table(spark, sf_dir, "events", spread=True), "view", "purchase"
    )


# ---------------------------------------------------------------------------
# Volume/rate mix-shift decomposition across the Jan-16 split: exact
# conditional aggregates in one pass, Laspeyres-style effects as fixed
# IEEE chains.  See functions/stats.py::period_decomposition.
# ---------------------------------------------------------------------------
@query(
    "events_period_decomposition",
    f"""
WITH g AS (
    SELECT event_type,
           CAST(COUNT(*) FILTER (
               ts < TIMESTAMP '2024-01-16 00:00:00') AS BIGINT) AS c0,
           CAST(COUNT(*) FILTER (
               ts >= TIMESTAMP '2024-01-16 00:00:00') AS BIGINT) AS c1,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                         THEN CAST(value AS DECIMAL(18,6)) END)
                AS DECIMAL(18,6)) AS v0,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                         THEN CAST(value AS DECIMAL(18,6)) END)
                AS DECIMAL(18,6)) AS v1
    FROM events GROUP BY 1
)
SELECT event_type, c0, c1,
       CAST(v0 AS DOUBLE) AS v0,
       CAST(v1 AS DOUBLE) AS v1,
       CAST(CAST(v1 - v0 AS DECIMAL(18,6)) AS DOUBLE) AS total_change,
       CASE WHEN c0 > 0 AND c1 > 0 THEN {{ve}} END AS volume_effect,
       CASE WHEN c0 > 0 AND c1 > 0 THEN {{re}} END AS rate_effect
FROM g
""".format(
        ve=_round_sql(
            "(CAST(c1 AS DOUBLE) - CAST(c0 AS DOUBLE))"
            " * (CAST(v0 AS DOUBLE) / CAST(c0 AS DOUBLE))",
            9,
        ),
        re=_round_sql(
            "CAST(c1 AS DOUBLE)"
            " * (CAST(v1 AS DOUBLE) / CAST(c1 AS DOUBLE)"
            " - CAST(v0 AS DOUBLE) / CAST(c0 AS DOUBLE))",
            9,
        ),
    ),
)
def _period_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import period_decomposition

    return period_decomposition(
        load_table(spark, sf_dir, "events", spread=True),
        ["event_type"],
        "ts",
        "value",
        "2024-01-16 00:00:00",
    )


# ---------------------------------------------------------------------------
# Day-of-week-adjusted activity ratio: each day as a share of its own
# dow's normal — exact BIGINT cross-product, one division; the dow
# totals ride a window over the post-agg daily frame.  See
# functions/stats.py::dow_adjusted.
# ---------------------------------------------------------------------------
@query(
    "events_dow_adjusted",
    f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
),
w AS (
    SELECT event_type, day, CAST(isodow(day) AS INTEGER) AS iso_dow, y,
           CAST(COUNT(*) OVER (
               PARTITION BY event_type, isodow(day)) AS BIGINT) AS dow_days,
           CAST(SUM(y) OVER (
               PARTITION BY event_type, isodow(day)) AS BIGINT)
               AS dow_events
    FROM daily
)
SELECT event_type, day, iso_dow, y, dow_days, dow_events,
       {{pct}} AS pct_of_normal
FROM w
""".format(
        pct=_round_sql(
            "CAST(y * dow_days * 100 AS DOUBLE)"
            " / CAST(dow_events AS DOUBLE)",
            9,
        )
    ),
)
def _dow_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import dow_adjusted

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull()
    )
    return dow_adjusted(ev, ["event_type"])


# ---------------------------------------------------------------------------
# DAU / trailing-7d-WAU stickiness: exact trailing distinct users via
# the coverage-explode form (distinct activity days exploded into the 7
# report days each covers) — no sliding-window distinct state.  See
# functions/behavior.py::dau_wau_stickiness.
# ---------------------------------------------------------------------------
@query(
    "events_dau_wau",
    f"""
WITH ud AS (
    SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
dau AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
cov AS (
    SELECT DISTINCT u, d + CAST(i AS INTEGER) AS day
    FROM ud CROSS JOIN generate_series(0, 6) t(i)
),
wau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS wau FROM cov GROUP BY 1)
SELECT dau.day, dau.dau, wau.wau, {{pct}} AS stickiness_pct
FROM dau JOIN wau ON dau.day = wau.day
""".format(
        pct=_round_sql(
            "CAST(dau.dau * 100 AS DOUBLE) / CAST(wau.wau AS DOUBLE)", 9
        )
    ),
)
def _dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.behavior import dau_wau_stickiness

    return dau_wau_stickiness(
        load_table(spark, sf_dir, "events", spread=True), window_days=7
    )


# ---------------------------------------------------------------------------
# Per-type freshness / volume-drift report against the table's own
# high-water mark: exact BIGINT hour lag, trailing-vs-prior 7d volume
# ratio — one 1-row max broadcast + one conditional-agg shuffle.  See
# functions/profile.py::freshness_report.
# ---------------------------------------------------------------------------
@query(
    "dq_freshness",
    f"""
WITH m AS (SELECT MAX(ts) AS mx FROM events),
g AS (
    SELECT event_type,
           MAX(ts) AS last_ts,
           MAX(mx) AS mxg,
           CAST(COUNT(*) FILTER (ts >= mx - INTERVAL 7 DAY) AS BIGINT)
               AS rows_last,
           CAST(COUNT(*) FILTER (
               ts < mx - INTERVAL 7 DAY
               AND ts >= mx - INTERVAL 14 DAY) AS BIGINT) AS rows_prior
    FROM events, m GROUP BY event_type
)
SELECT event_type, last_ts,
       CAST((epoch_us(mxg) - epoch_us(last_ts)) // 3600000000 AS BIGINT)
           AS hours_behind,
       rows_last, rows_prior,
       CASE WHEN rows_prior > 0 THEN {{ratio}} END AS volume_ratio_pct
FROM g
""".format(
        ratio=_round_sql(
            "CAST(rows_last * 100 AS DOUBLE) / CAST(rows_prior AS DOUBLE)",
            9,
        )
    ),
)
def _dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.profile import freshness_report

    return freshness_report(
        load_table(spark, sf_dir, "events", spread=True),
        "event_type",
        window_days=7,
    )


# ---------------------------------------------------------------------------
# Within-session ordered funnel (30-min gap sessions): one user-keyed
# exchange serves the island windows AND the per-session stage windows
# (hash(user) co-locates (user, session)).  See
# functions/behavior.py::session_funnel.
# ---------------------------------------------------------------------------
@query(
    "events_session_funnel",
    """
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts, event_type,
           CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS sid
    FROM ordered
),
e1 AS (
    SELECT user_id, sid, ts, event_type,
           MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id, sid) AS t1
    FROM sess
),
e2 AS (
    SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
              OVER (PARTITION BY user_id, sid) AS t2
    FROM e1
),
e3 AS (
    SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
              OVER (PARTITION BY user_id, sid) AS t3
    FROM e2
),
per AS (
    SELECT user_id, sid,
           MAX(t1 IS NOT NULL) AS f1,
           MAX(t2 IS NOT NULL) AS f2,
           MAX(t3 IS NOT NULL) AS f3
    FROM e3 GROUP BY 1, 2
),
counts AS (
    SELECT 1 AS stage, 'view' AS stage_name,
           CAST(COALESCE(SUM(CASE WHEN f1 THEN 1 END), 0) AS BIGINT)
               AS sessions
    FROM per
    UNION ALL
    SELECT 2, 'click',
           CAST(COALESCE(SUM(CASE WHEN f2 THEN 1 END), 0) AS BIGINT)
    FROM per
    UNION ALL
    SELECT 3, 'purchase',
           CAST(COALESCE(SUM(CASE WHEN f3 THEN 1 END), 0) AS BIGINT)
    FROM per
)
SELECT stage, stage_name, sessions,
       ROUND(100.0 * sessions
             / NULLIF((SELECT sessions FROM counts WHERE stage = 1), 0), 2)
           AS conversion_pct
FROM counts
""",
)
def _session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.behavior import session_funnel

    return session_funnel(
        load_table(spark, sf_dir, "events", spread=True),
        _FUNNEL_STAGES,
        gap_minutes=30,
    )


# ---------------------------------------------------------------------------
# Trailing-24h rate-limit violations: exact half-open RANGE window on
# integer micros, one user-keyed shuffle, violations-only output.  See
# functions/behavior.py::rate_limit_violations.
# ---------------------------------------------------------------------------
@query(
    "events_rate_limit",
    """
WITH c AS (
    SELECT event_id, user_id, ts,
           CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_count
    FROM events
)
SELECT event_id, user_id, ts, trailing_count
FROM c WHERE trailing_count >= 8
""",
)
def _rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.behavior import rate_limit_violations

    return rate_limit_violations(
        load_table(spark, sf_dir, "events", spread=True),
        window_hours=24,
        threshold=8,
    )


# ---------------------------------------------------------------------------
# Embargoed temporal train/test split audit (purged-CV style): exact
# per-split counts + the spanning-users entity-leakage metric.  See
# functions/corpus.py::temporal_split.
# ---------------------------------------------------------------------------
@query(
    "ml_temporal_split",
    """
WITH tagged AS (
    SELECT CASE WHEN ts < TIMESTAMP '2024-01-22 00:00:00' THEN 'train'
                WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' THEN 'test'
           END AS split, *
    FROM events
),
t AS (SELECT * FROM tagged WHERE split IS NOT NULL),
per AS (
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6))
                AS DOUBLE) AS value_sum,
           MIN(ts) AS min_ts,
           MAX(ts) AS max_ts
    FROM t GROUP BY 1
),
sp AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS spanning_users FROM (
        SELECT _u FROM (SELECT DISTINCT split, user_id AS _u FROM t)
        GROUP BY _u HAVING COUNT(*) = 2
    )
)
SELECT per.split, per.n_rows, per.n_users, per.value_sum, per.min_ts,
       per.max_ts, sp.spanning_users
FROM per, sp
""",
)
def _temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.corpus import temporal_split

    return temporal_split(
        load_table(spark, sf_dir, "events", spread=True),
        test_start="2024-01-24 00:00:00",
        embargo_days=2,
        value_col="value",
    )


# ---------------------------------------------------------------------------
# Poisson-bootstrap percentile CI for the per-type mean value — the only
# bootstrap with a 100 TB shape (independent Poisson(1) weights instead
# of coordinated with-replacement draws), fully deterministic on the md5
# contract with exact-integer order-statistic ranks.  See
# functions/stats.py::poisson_bootstrap_ci.
# ---------------------------------------------------------------------------
@query(
    "stats_bootstrap_ci",
    """
WITH base AS (
    SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v, event_id AS id
    FROM events WHERE value IS NOT NULL
),
point AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
               AS mean
    FROM base GROUP BY 1
),
expl AS (
    SELECT event_type, v, id, CAST(b AS INTEGER) AS b
    FROM base CROSS JOIN generate_series(1, 40) t(b)
),
weighted AS (
    SELECT event_type, b, v,
           CASE
             WHEN u < 0.36787944117144233 THEN 0
             WHEN u < 0.7357588823428847 THEN 1
             WHEN u < 0.9196986029286058 THEN 2
             WHEN u < 0.9810118431238463 THEN 3
             WHEN u < 0.9963401531726563 THEN 4
             WHEN u < 0.9994058151824183 THEN 5
             WHEN u < 0.999916758850712 THEN 6
             WHEN u < 0.9999897508033253 THEN 7
             WHEN u < 0.999998874797402 THEN 8
             ELSE 9 END AS w
    FROM (
        SELECT event_type, v, b,
               CAST(CAST(('0x' || substr(md5(
                   'boot:' || CAST(b AS VARCHAR) || ':'
                   || CAST(id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
               / 4294967296.0 AS u
        FROM expl
    )
),
per AS (
    SELECT event_type, b,
           CAST(SUM(w) AS BIGINT) AS n_eff,
           SUM(w * v) AS s
    FROM weighted GROUP BY 1, 2
),
means AS (
    SELECT event_type, b, CAST(s AS DOUBLE) / CAST(n_eff AS DOUBLE) AS m
    FROM per WHERE n_eff > 0
),
ranked AS (
    SELECT event_type, m,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY m, b) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS bv
    FROM means
),
ci AS (
    SELECT event_type,
           MAX(CASE WHEN rn = GREATEST(1, (25 * bv) // 1000)
                    THEN m END) AS ci_low,
           MAX(CASE WHEN rn = LEAST(bv, (975 * bv + 999) // 1000)
                    THEN m END) AS ci_high,
           MAX(bv) AS n_replicates
    FROM ranked GROUP BY 1
)
SELECT p.event_type, p.n, p.mean,
       ROUND(c.ci_low, 9) AS ci_low,
       ROUND(c.ci_high, 9) AS ci_high,
       c.n_replicates
FROM point p JOIN ci c ON p.event_type = c.event_type
""",
)
def _bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import poisson_bootstrap_ci

    return poisson_bootstrap_ci(
        load_table(spark, sf_dir, "events", spread=True),
        ["event_type"],
        "value",
        "event_id",
        replicates=40,
    )


# ---------------------------------------------------------------------------
# Alert debouncing: runs of >= 3 consecutive days strictly above the
# day-of-week normal — the flag is an exact integer cross-multiplied
# comparison (y*dow_days > dow_events; a ratio threshold would need one
# more integer factor, same shape), the runs gaps-and-islands on the
# post-agg daily frame.  See functions/stats.py::flag_runs.
# ---------------------------------------------------------------------------
@query(
    "events_alert_runs",
    """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
),
w AS (
    SELECT event_type, day, y,
           CAST(COUNT(*) OVER (
               PARTITION BY event_type, isodow(day)) AS BIGINT) AS dow_days,
           CAST(SUM(y) OVER (
               PARTITION BY event_type, isodow(day)) AS BIGINT)
               AS dow_events
    FROM daily
),
flagged AS (
    SELECT event_type, day FROM w
    WHERE y * dow_days > dow_events
),
r AS (
    SELECT event_type, day,
           day - CAST(ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY day) AS INTEGER) AS island
    FROM flagged
)
SELECT event_type, MIN(day) AS start_day, MAX(day) AS end_day,
       CAST(COUNT(*) AS BIGINT) AS run_len
FROM r GROUP BY event_type, island
HAVING COUNT(*) >= 3
""",
)
def _alert_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import flag_runs

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("y"))
    from pyspark.sql import Window as _W

    iso = F.when(F.dayofweek("day") == 1, F.lit(7)).otherwise(
        F.dayofweek("day") - 1
    )
    w = _W.partitionBy("event_type", iso)
    flagged = daily.select(
        "event_type",
        "day",
        (
            F.col("y") * F.count("*").over(w) > F.sum("y").over(w)
        ).alias("flag"),
    )
    return flag_runs(flagged, ["event_type"], "day", "flag", min_run=3)


# ---------------------------------------------------------------------------
# Bounded-horizon Dn retention (D1/D3/D7): per first-activity cohort
# day, the share of users active exactly n days later — the product
# KPI form of retention (the cohort-week matrix is events_retention).
# One user-keyed first-day aggregate + day-keyed equi-joins against the
# (user, day) distinct; rates are exact-integer cross products.
# ---------------------------------------------------------------------------
@query(
    "events_dn_retention",
    """
WITH ud AS (
    SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
    FROM events WHERE user_id IS NOT NULL
),
first AS (SELECT u, MIN(d) AS d0 FROM ud GROUP BY 1),
cohort AS (SELECT d0, CAST(COUNT(*) AS BIGINT) AS cohort_size
           FROM first GROUP BY 1),
ret AS (
    SELECT f.d0,
           CAST(COUNT(*) FILTER (a.d = f.d0 + 1) AS BIGINT) AS d1,
           CAST(COUNT(*) FILTER (a.d = f.d0 + 3) AS BIGINT) AS d3,
           CAST(COUNT(*) FILTER (a.d = f.d0 + 7) AS BIGINT) AS d7
    FROM first f JOIN ud a ON f.u = a.u
    GROUP BY 1
)
SELECT c.d0 AS cohort_day, c.cohort_size,
       COALESCE(r.d1, 0) AS d1_users,
       COALESCE(r.d3, 0) AS d3_users,
       COALESCE(r.d7, 0) AS d7_users,
       ROUND(CAST(COALESCE(r.d1, 0) * 100 AS DOUBLE)
             / CAST(c.cohort_size AS DOUBLE), 9) AS d1_pct,
       ROUND(CAST(COALESCE(r.d3, 0) * 100 AS DOUBLE)
             / CAST(c.cohort_size AS DOUBLE), 9) AS d3_pct,
       ROUND(CAST(COALESCE(r.d7, 0) * 100 AS DOUBLE)
             / CAST(c.cohort_size AS DOUBLE), 9) AS d7_pct
FROM cohort c LEFT JOIN ret r ON c.d0 = r.d0
""",
)
def _dn_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("user_id").isNotNull()
    )
    ud = ev.select(
        F.col("user_id").alias("u"), F.to_date("ts").alias("d")
    ).distinct()
    first = ud.groupBy("u").agg(F.min("d").alias("d0"))
    cohort = first.groupBy("d0").agg(F.count("*").alias("cohort_size"))
    joined = first.join(ud, "u")
    ret = joined.groupBy("d0").agg(
        F.count_if(F.col("d") == F.date_add(F.col("d0"), 1)).alias("d1"),
        F.count_if(F.col("d") == F.date_add(F.col("d0"), 3)).alias("d3"),
        F.count_if(F.col("d") == F.date_add(F.col("d0"), 7)).alias("d7"),
    )
    out = cohort.join(ret, "d0", "left")
    def pct(c):
        return F.round(
            (F.coalesce(F.col(c), F.lit(0)) * F.lit(100)).cast("double")
            / F.col("cohort_size").cast("double"),
            9,
        )
    return out.select(
        F.col("d0").alias("cohort_day"),
        "cohort_size",
        F.coalesce(F.col("d1"), F.lit(0).cast("bigint")).alias("d1_users"),
        F.coalesce(F.col("d3"), F.lit(0).cast("bigint")).alias("d3_users"),
        F.coalesce(F.col("d7"), F.lit(0).cast("bigint")).alias("d7_users"),
        pct("d1").alias("d1_pct"),
        pct("d3").alias("d3_pct"),
        pct("d7").alias("d7_pct"),
    )


# ---------------------------------------------------------------------------
# Class-balance report + balanced class weights (sklearn's
# n / (k * n_i) convention) for the event-type label — exact integer
# cross products, one division per class; the imbalance ratio is
# majority/minority over the same exact counts.
# ---------------------------------------------------------------------------
@query(
    "ml_class_weights",
    """
WITH c AS (
    SELECT event_type AS label, CAST(COUNT(*) AS BIGINT) AS n_i
    FROM events WHERE event_type IS NOT NULL GROUP BY 1
),
t AS (
    SELECT CAST(SUM(n_i) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(MAX(n_i) AS BIGINT) AS n_max,
           CAST(MIN(n_i) AS BIGINT) AS n_min
    FROM c
)
SELECT label, n_i,
       ROUND(CAST(n_i * 100 AS DOUBLE) / CAST(n AS DOUBLE), 9) AS share_pct,
       ROUND(CAST(n AS DOUBLE) / CAST(k * n_i AS DOUBLE), 9)
           AS class_weight,
       ROUND(CAST(n_max AS DOUBLE) / CAST(n_min AS DOUBLE), 9)
           AS imbalance_ratio
FROM c, t
""",
)
def _class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull()
    )
    c = ev.groupBy(F.col("event_type").alias("label")).agg(
        F.count("*").alias("n_i")
    )
    t = c.agg(
        F.sum("n_i").alias("n"),
        F.count("*").alias("k"),
        F.max("n_i").alias("n_max"),
        F.min("n_i").alias("n_min"),
    )
    return c.crossJoin(F.broadcast(t)).select(
        "label",
        "n_i",
        F.round(
            (F.col("n_i") * F.lit(100)).cast("double")
            / F.col("n").cast("double"),
            9,
        ).alias("share_pct"),
        F.round(
            F.col("n").cast("double")
            / (F.col("k") * F.col("n_i")).cast("double"),
            9,
        ).alias("class_weight"),
        F.round(
            F.col("n_max").cast("double") / F.col("n_min").cast("double"), 9
        ).alias("imbalance_ratio"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival over user lifetimes: duration = days between a
# user's first and last event, right-censored when the last event falls
# in the final 7 days of the observed window (the user may still be
# active).  Counts/factors exact; the cumulative product is the module's
# one documented transcendental (see functions/stats.py::kaplan_meier
# for the <1e-12 error bound behind the 6-decimal round).
# ---------------------------------------------------------------------------
@query(
    "events_kaplan_meier",
    """
WITH ud AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS dfirst,
           MAX(CAST(ts AS DATE)) AS dlast
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1
),
gl AS (SELECT MAX(dlast) AS gmax FROM ud),
base AS (
    SELECT CAST(date_diff('day', dfirst, dlast) AS BIGINT) AS t,
           CASE WHEN dlast < gmax - 7 THEN 1 ELSE 0 END AS ev
    FROM ud, gl
),
per_t AS (
    SELECT t, CAST(SUM(ev) AS BIGINT) AS d_events,
           CAST(SUM(1 - ev) AS BIGINT) AS c_censored,
           CAST(COUNT(*) AS BIGINT) AS n_t
    FROM base GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n FROM per_t),
risk AS (
    SELECT t, d_events, c_censored,
           n - CAST(COALESCE(SUM(n_t) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
    FROM per_t, tot
),
fac AS (
    SELECT t, n_risk, d_events, c_censored,
           CAST(n_risk - d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
               AS factor_raw,
           CAST(SUM(CASE WHEN n_risk = d_events THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS BIGINT) AS zeros
    FROM risk
)
SELECT t, n_risk, d_events, c_censored,
       {factor_round} AS factor,
       CASE WHEN zeros > 0 THEN 0.0 ELSE
           {survival_round}
       END AS survival
FROM fac
""".format(
        factor_round=_round_sql("factor_raw", 9),
        survival_round=_round_sql(
            "EXP(SUM(LN(CASE WHEN factor_raw > 0 THEN factor_raw END))"
            " OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND CURRENT ROW))",
            6,
        ),
    ),
)
def _kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import kaplan_meier

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    ud = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("_dfirst"),
        F.max(F.to_date("ts")).alias("_dlast"),
    )
    gl = ud.agg(F.max("_dlast").alias("_gmax"))
    base = ud.crossJoin(F.broadcast(gl)).select(
        F.datediff("_dlast", "_dfirst").cast("bigint").alias("duration"),
        (F.col("_dlast") < F.date_sub(F.col("_gmax"), 7))
        .cast("int")
        .alias("event"),
    )
    return kaplan_meier(base, "duration", "event")


# ---------------------------------------------------------------------------
# Theil-Sen robust daily trend per event type: median of all pairwise
# slopes over the (day index, daily count) series.  Quadratic only in
# the BOUNDED time axis (30-365 points), never in the fact table —
# aggregate first, pair second.
# ---------------------------------------------------------------------------
@query(
    "events_theilsen_trend",
    """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1, 2
),
gl AS (SELECT MIN(day) AS d0 FROM daily),
pts AS (
    SELECT event_type,
           CAST(date_diff('day', d0, day) AS BIGINT) AS x, y
    FROM daily, gl
),
pairs AS (
    SELECT a.event_type,
           CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS s
    FROM pts a JOIN pts b
      ON a.event_type = b.event_type AND a.x < b.x
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {slope} AS slope
FROM pairs GROUP BY event_type
""".format(slope=_round_sql("MEDIAN(s)", 9)),
)
def _theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import theil_sen_slope

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("y")
    )
    gl = daily.agg(F.min("day").alias("_d0"))
    pts = daily.crossJoin(F.broadcast(gl)).select(
        "event_type",
        F.datediff("day", "_d0").cast("bigint").alias("x"),
        "y",
    )
    return theil_sen_slope(pts, ["event_type"], "x", "y")


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test per event type (functions/stats.py::runs_test):
# randomness of the above/below-median value sequence in (ts, event_id)
# order.  R, n1, n2 and every moment numerator/denominator are exact
# BIGINTs; z is a fixed four-op IEEE chain (sqrt is correctly rounded).
# ---------------------------------------------------------------------------
@query(
    "events_runs_test",
    """
WITH med AS (
    SELECT event_type, MEDIAN(value) AS m
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1
),
s AS (
    SELECT e.event_type, e.ts, e.event_id,
           CASE WHEN e.value > med.m THEN 1 ELSE 0 END AS sign
    FROM events e JOIN med USING (event_type)
    WHERE e.value IS NOT NULL AND e.ts IS NOT NULL AND e.value <> med.m
),
f AS (
    SELECT event_type, sign,
           CASE WHEN LAG(sign) OVER (
                    PARTITION BY event_type ORDER BY ts, event_id)
                IS DISTINCT FROM sign THEN 1 ELSE 0 END AS new_run
    FROM s
),
a AS (
    SELECT event_type,
           CAST(SUM(sign) AS BIGINT) AS n1,
           CAST(SUM(1 - sign) AS BIGINT) AS n2,
           CAST(SUM(new_run) AS BIGINT) AS runs
    FROM f GROUP BY 1
)
SELECT event_type, n1, n2, runs,
       CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
                 AND 2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)) > 0 THEN
           {z}
       END AS z
FROM a
""".format(
        z=_round_sql(
            "(CAST(runs * (n1 + n2) - 2 * n1 * n2 - (n1 + n2) AS DOUBLE)"
            " / CAST(n1 + n2 AS DOUBLE))"
            " / sqrt(CAST(2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2))"
            " AS DOUBLE)"
            " / CAST((n1 + n2) * (n1 + n2) * (n1 + n2 - 1) AS DOUBLE))",
            9,
        )
    ),
)
def _runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import runs_test

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    return runs_test(ev, ["event_type"], ["ts", "event_id"], "value")


# ---------------------------------------------------------------------------
# Cart abandonment: users whose first click gets no purchase within 24h
# — the timeout-bounded funnel complement (funnel counts conversions;
# this counts the drop-off with its deadline semantics explicit).
# ---------------------------------------------------------------------------
@query(
    "events_abandonment",
    """
WITH clicks AS (
    SELECT user_id AS u, MIN(ts) AS c FROM events
    WHERE event_type = 'click' AND user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1
),
flags AS (
    SELECT cl.u, cl.c,
           MAX(CASE WHEN e.event_type = 'purchase'
                     AND e.ts > cl.c
                     AND e.ts <= cl.c + INTERVAL 24 HOUR
                    THEN 1 ELSE 0 END) AS converted
    FROM clicks cl JOIN events e ON cl.u = e.user_id
    GROUP BY 1, 2
)
SELECT CAST(c AS DATE) AS click_day,
       CAST(COUNT(*) AS BIGINT) AS n_clickers,
       CAST(SUM(1 - converted) AS BIGINT) AS n_abandoned,
       {pct} AS abandon_pct
FROM flags GROUP BY 1
""".format(
        pct=_round_sql(
            "CAST(SUM(1 - converted) * 100 AS DOUBLE)"
            " / CAST(COUNT(*) AS DOUBLE)",
            9,
        )
    ),
)
def _abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.col("user_id").alias("u"))
        .agg(F.min("ts").alias("c"))
    )
    flags = (
        clicks.join(ev, clicks["u"] == ev["user_id"])
        .groupBy("u", "c")
        .agg(
            F.max(
                (
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("c"))
                    & (
                        F.col("ts")
                        <= F.col("c") + F.expr("INTERVAL 24 HOURS")
                    )
                ).cast("int")
            ).alias("converted")
        )
    )
    return flags.groupBy(F.to_date("c").alias("click_day")).agg(
        F.count("*").alias("n_clickers"),
        F.sum(F.lit(1) - F.col("converted")).alias("n_abandoned"),
        F.round(
            (F.sum(F.lit(1) - F.col("converted")) * 100).cast("double")
            / F.count("*").cast("double"),
            9,
        ).alias("abandon_pct"),
    )


# ---------------------------------------------------------------------------
# Peak concurrency (functions/temporal.py::peak_concurrency): sweep-line
# max of simultaneous open 10-minute event intervals per type —
# capacity planning's "how many at once", next to interval_coverage's
# "how long covered".  Half-open ends sort before starts at ties.
# ---------------------------------------------------------------------------
@query(
    "events_peak_concurrency",
    """
WITH deltas AS (
    SELECT event_type, ts AS t, 1 AS delta, event_id FROM events
    WHERE event_type IS NOT NULL AND ts IS NOT NULL
    UNION ALL
    SELECT event_type, ts + INTERVAL 10 MINUTE, -1, event_id FROM events
    WHERE event_type IS NOT NULL AND ts IS NOT NULL
),
c AS (
    SELECT event_type, t,
           CAST(SUM(delta) OVER (
               PARTITION BY event_type ORDER BY t, delta, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cur
    FROM deltas
),
p AS (
    SELECT event_type, t, cur,
           MAX(cur) OVER (PARTITION BY event_type) AS peak
    FROM c
)
SELECT event_type, CAST(peak AS BIGINT) AS peak_concurrency,
       MIN(t) AS first_peak_ts, CAST(COUNT(*) AS BIGINT) AS n_at_peak
FROM p WHERE cur = peak GROUP BY 1, 2
""",
)
def _peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.temporal import peak_concurrency

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    iv = ev.select(
        "event_type",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
        "event_id",
    )
    return peak_concurrency(
        iv, ["event_type"], "s", "e", "event_id"
    )


# ---------------------------------------------------------------------------
# Growth accounting: each active (user, day) classified as new /
# retained / resurrected, plus churned = active yesterday, absent
# today.  The canonical DAU decomposition (new + retained + resurrected
# = DAU).  One user-keyed lag window over the distinct activity frame;
# churn attributes to the day AFTER the lapsed activity.
# ---------------------------------------------------------------------------
GROWTH_ORACLE_SQL = """
WITH ud AS (
    SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
marked AS (
    SELECT u, d,
           LAG(d) OVER (PARTITION BY u ORDER BY d) AS prev_d
    FROM ud
),
classed AS (
    SELECT d,
           CASE WHEN prev_d IS NULL THEN 'new'
                WHEN d - prev_d = 1 THEN 'retained'
                ELSE 'resurrected' END AS klass
    FROM marked
),
actives AS (
    SELECT d,
           CAST(COUNT(*) AS BIGINT) AS dau,
           CAST(SUM(CASE WHEN klass = 'new' THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN klass = 'retained' THEN 1 ELSE 0 END)
                AS BIGINT) AS retained,
           CAST(SUM(CASE WHEN klass = 'resurrected' THEN 1 ELSE 0 END)
                AS BIGINT) AS resurrected
    FROM classed GROUP BY 1
),
churn AS (
    SELECT a.d + 1 AS d, CAST(COUNT(*) AS BIGINT) AS churned
    FROM marked a
    LEFT JOIN ud b ON a.u = b.u AND b.d = a.d + 1
    WHERE b.u IS NULL
    GROUP BY 1
)
SELECT a.d AS day, a.dau, a.new_users, a.retained, a.resurrected,
       COALESCE(c.churned, 0) AS churned_from_prev_day
FROM actives a LEFT JOIN churn c ON a.d = c.d
"""


@query("events_growth_accounting", GROWTH_ORACLE_SQL)
def _growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    ud = ev.select(
        F.col("user_id").alias("u"), F.to_date("ts").alias("d")
    ).distinct()
    w = _W.partitionBy("u").orderBy("d")
    marked = ud.withColumn("prev_d", F.lag("d").over(w))
    klass = (
        F.when(F.col("prev_d").isNull(), "new")
        .when(F.datediff("d", "prev_d") == 1, "retained")
        .otherwise("resurrected")
    )
    actives = (
        marked.select("d", klass.alias("klass"))
        .groupBy("d")
        .agg(
            F.count("*").alias("dau"),
            F.count_if(F.col("klass") == "new").alias("new_users"),
            F.count_if(F.col("klass") == "retained").alias("retained"),
            F.count_if(F.col("klass") == "resurrected").alias(
                "resurrected"
            ),
        )
    )
    nxt = ud.select("u", F.date_sub("d", 1).alias("d"))
    churn = (
        marked.select("u", "d")
        .join(nxt, ["u", "d"], "left_anti")
        .groupBy(F.date_add("d", 1).alias("d"))
        .agg(F.count("*").alias("churned"))
    )
    return actives.join(churn, "d", "left").select(
        F.col("d").alias("day"),
        "dau",
        "new_users",
        "retained",
        "resurrected",
        F.coalesce(F.col("churned"), F.lit(0).cast("bigint")).alias(
            "churned_from_prev_day"
        ),
    )


# ---------------------------------------------------------------------------
# Bitmap distinct rollup: daily distinct users via 32-bit bucket
# bitmaps (bit_or partial aggregation + popcount) — the
# constant-state-per-bucket exact-distinct used at warehouse scale
# (roaring-style), emitted NEXT TO count(distinct) so the gate verifies
# the bitmap math against the naive path inside one result.
# ---------------------------------------------------------------------------
BITMAP_ORACLE_SQL = """
WITH m AS (
    SELECT CAST(ts AS DATE) AS day,
           user_id // 32 AS bucket,
           (CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER)) AS mask
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
bm AS (SELECT day, bucket, bit_or(mask) AS bits FROM m GROUP BY 1, 2),
b AS (
    SELECT day, CAST(SUM(bit_count(bits)) AS BIGINT) AS distinct_bitmap
    FROM bm GROUP BY 1
),
e AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_exact
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1
)
SELECT b.day, b.distinct_bitmap, e.distinct_exact
FROM b JOIN e ON b.day = e.day
"""


@query("events_bitmap_distinct", BITMAP_ORACLE_SQL)
def _bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    m = ev.select(
        F.to_date("ts").alias("day"),
        F.expr("user_id div 32").alias("bucket"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))"
        ).alias("mask"),
    )
    bm = m.groupBy("day", "bucket").agg(F.expr("bit_or(mask)").alias("bits"))
    b = bm.groupBy("day").agg(
        F.sum(F.expr("bit_count(bits)")).alias("distinct_bitmap")
    )
    e = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").alias("distinct_exact")
    )
    return b.join(e, "day").select(
        "day", "distinct_bitmap", "distinct_exact"
    )


# ---------------------------------------------------------------------------
# Transition-matrix drift: is user behavior time-homogeneous?  The
# (prev -> next) transition counts of the first and second half of the
# window feed the SAME exact TVD + chi-square machinery as
# ml_drift_report — bucket = the transition pair, one user-keyed lag
# window + one bucket partial agg.
# ---------------------------------------------------------------------------
@query(
    "events_transition_drift",
    """
WITH seq AS (
    SELECT user_id, ts, event_id, event_type,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
           CAST(ts AS DATE) AS d
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
),
bounds AS (SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
           FROM events WHERE ts IS NOT NULL),
base AS (
    SELECT prev_type || '>' || event_type AS bucket,
           CASE WHEN d >= d0 + CAST(floor(date_diff('day', d0, d1) / 2)
                               AS INTEGER)
                THEN 1 ELSE 0 END AS period
    FROM seq, bounds WHERE prev_type IS NOT NULL
),
c AS (
    SELECT bucket,
           CAST(SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_a,
           CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_b
    FROM base GROUP BY 1
),
t AS (
    SELECT CAST(SUM(cnt_a) AS BIGINT) AS na,
           CAST(SUM(cnt_b) AS BIGINT) AS nb
    FROM c
),
p AS (
    SELECT bucket, cnt_a, cnt_b,
           {sa} AS share_a_pct,
           {sb} AS share_b_pct,
           ABS(cnt_a * nb - cnt_b * na) AS abs_d,
           {chi} AS chi2_bucket,
           na, nb
    FROM c, t
),
g AS (
    SELECT CAST(SUM(abs_d) AS BIGINT) AS sum_abs_d,
           SUM(CAST(CAST(chi2_bucket AS VARCHAR) AS DECIMAL(38,20)))
               AS chi2_sum
    FROM p
)
SELECT bucket, cnt_a, cnt_b, share_a_pct, share_b_pct, chi2_bucket,
       {tvd} AS tvd,
       {ct} AS chi2_total
FROM p, g
""".format(
        sa=_round_sql("CAST(cnt_a * 100 AS DOUBLE) / CAST(na AS DOUBLE)", 9),
        sb=_round_sql("CAST(cnt_b * 100 AS DOUBLE) / CAST(nb AS DOUBLE)", 9),
        chi=_round_sql(
            "CAST(cnt_a * nb - cnt_b * na AS DOUBLE)"
            " * CAST(cnt_a * nb - cnt_b * na AS DOUBLE)"
            " / CAST((cnt_a + cnt_b) * na * nb AS DOUBLE)",
            9,
        ),
        tvd=_round_sql(
            "CAST(sum_abs_d AS DOUBLE) / CAST(2 * na * nb AS DOUBLE)", 9
        ),
        ct=_round_sql("CAST(chi2_sum AS DOUBLE)", 9),
    ),
)
def _transition_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    from ..functions.mleval import categorical_drift

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("ts").isNotNull()
    )
    seq = ev.filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = seq.select(
        F.lag("event_type").over(w).alias("prev_type"),
        "event_type",
        F.to_date("ts").alias("d"),
    ).filter(F.col("prev_type").isNotNull())
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("_d0"),
        F.max(F.to_date("ts")).alias("_d1"),
    )
    flagged = pairs.crossJoin(F.broadcast(bounds)).select(
        F.concat_ws(">", "prev_type", "event_type").alias("bucket"),
        (
            F.col("d")
            >= F.date_add(
                F.col("_d0"),
                F.floor(F.datediff("_d1", "_d0") / 2).cast("int"),
            )
        )
        .cast("int")
        .alias("period"),
    )
    return categorical_drift(flagged, "bucket", "period")


# ---------------------------------------------------------------------------
# Holt double-exponential smoothing (functions/stats.py::holt_linear):
# per-user level+trend state replayed as a fixed IEEE chain — the
# trend-aware member of the EWMA family; the oracle folds the identical
# struct state with list_reduce.  Constants bound as CAST('<repr>' AS
# DOUBLE) on both engines (the events_ewma_alpha contract).
# ---------------------------------------------------------------------------
_HOLT_ALPHA, _HOLT_BETA = 0.3, 0.2
_HOLT_A = f"CAST('{_HOLT_ALPHA!r}' AS DOUBLE)"
_HOLT_OMA = f"CAST('{1.0 - _HOLT_ALPHA!r}' AS DOUBLE)"
_HOLT_B = f"CAST('{_HOLT_BETA!r}' AS DOUBLE)"
_HOLT_OMB = f"CAST('{1.0 - _HOLT_BETA!r}' AS DOUBLE)"
#: The [level, trend] state folds as a LIST, not a struct: DuckDB's
#: list_reduce evaluates struct_pack result fields SEQUENTIALLY against a
#: mutating accumulator (measured: the trend field saw the NEW level as
#: acc.l), while list-literal results bind acc once — the only encoding
#: whose op sequence matches Spark's aggregate() struct semantics.
_HOLT_LT = f"x[1] * {_HOLT_A} + (acc[1] + acc[2]) * {_HOLT_OMA}"


HOLT_ORACLE_SQL = f"""
WITH ordered AS (
    SELECT user_id,
           list(struct_pack(ts := ts, id := event_id,
                            v := CAST(value AS DOUBLE))
                ORDER BY ts, event_id) AS l
    FROM events WHERE value IS NOT NULL GROUP BY user_id
),
pos AS (
    SELECT user_id, l,
           unnest([{{'p': i, 'id': l[i].id, 'ts': l[i].ts, 'v': l[i].v}}
                   for i in range(1, len(l) + 1)]) AS u
    FROM ordered
),
sm AS (
    SELECT user_id, u.id AS event_id, u.ts AS ts, u.v AS value,
           list_reduce(
               list_prepend(
                   [l[1].v, CAST(0.0 AS DOUBLE)],
                   list_transform(l[2:u.p],
                                  x -> [x.v, CAST(0.0 AS DOUBLE)])),
               (acc, x) -> [{_HOLT_LT},
                            (({_HOLT_LT}) - acc[1]) * {_HOLT_B}
                            + acc[2] * {_HOLT_OMB}]) AS s
    FROM pos
)
SELECT user_id, event_id, ts, value,
       s[1] AS level, s[2] AS trend, s[1] + s[2] AS forecast
FROM sm
"""


@query("events_holt_linear", HOLT_ORACLE_SQL)
def _events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import holt_linear

    return holt_linear(
        load_table(spark, sf_dir, "events", spread=True),
        alpha=_HOLT_ALPHA,
        beta=_HOLT_BETA,
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (functions/profile.py::benford_deviation)
# of o_totalprice — the fraud / synthetic-data / unit-mixup detector.
# Values quantize to integer cents (round of the SAME IEEE product on
# both engines), the digit reads off the INTEGER's decimal string, the
# transcendental log10 expected shares ride the quantized-term
# contract, and the full 1..9 digit spine keeps absent digits in the
# chi-square (the psi_drift spine lesson).
# ---------------------------------------------------------------------------
BENFORD_ORACLE_SQL = f"""
WITH obs AS (
    SELECT CAST(substr(CAST(u AS VARCHAR), 1, 1) AS INTEGER) AS digit,
           CAST(COUNT(*) AS BIGINT) AS n_obs
    FROM (SELECT CAST(o_totalprice * 100 AS BIGINT) AS u FROM orders)
    WHERE u >= 1 GROUP BY 1
),
per AS (
    SELECT s.digit, CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs
    FROM (SELECT CAST(unnest(generate_series(1, 9)) AS INTEGER) AS digit) s
    LEFT JOIN obs o ON s.digit = o.digit
),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM per),
base AS (
    SELECT per.digit, per.n_obs, tot.n,
           {_round_sql("log10(CAST(per.digit + 1 AS DOUBLE) / per.digit)",
                       12)} AS se
    FROM per, tot
),
rows_ AS (
    SELECT digit, n_obs,
           {_round_sql("CAST(n_obs AS DOUBLE) / n", 9)} AS share_obs,
           {_round_sql("se", 9)} AS share_exp,
           {_round_sql("CAST(n_obs AS DOUBLE) / n - se", 9)} AS gap,
           CAST({_round_sql(
               "(n_obs - n * se) * (n_obs - n * se) / (n * se)", 12
           )} AS DECIMAL(28,12)) AS t
    FROM base
),
chi AS (SELECT SUM(t) AS chi2 FROM rows_)
SELECT digit, n_obs, share_obs, share_exp, gap,
       ROUND(CAST(chi2 AS DOUBLE), 9) AS chi2_total
FROM rows_, chi
"""


@query("dq_benford_totalprice", BENFORD_ORACLE_SQL)
def _dq_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.profile import benford_deviation

    return benford_deviation(
        load_table(spark, sf_dir, "orders", spread=True), "o_totalprice"
    )

