"""Structured-Streaming gate queries.

The reference's incremental model is a daily cron re-running the batch
pipeline (SURVEY §2.11); `streaming/incremental.py` is its continuous
formulation.  These entries surface that layer through the driver gate by
draining a file-source stream with `trigger(availableNow=True)` into a
memory sink and returning the sink table:

- ``streaming_daily_counts``: watermarked 1-day windowed aggregation over
  the streamed ``disruptions`` derivation.  In complete mode the drained
  result equals the batch group-by, so it gets a FULL DuckDB oracle — the
  streaming engine is hash-checked against ANSI SQL, not just smoke-run.
- ``streaming_sessionize``: the `applyInPandasWithState` gap sessionizer —
  custom per-key state Spark's built-in windows can't express.  Under the
  availableNow drain its emission (every session except each key's open
  final one) is a deterministic function of the input, so it carries a
  FULL gaps-and-islands DuckDB oracle; `test_streaming.py` additionally
  asserts the operator's own closing semantics.

Scale note: at cluster scale the same plans run unbounded (drop
`availableNow`, real sink) — watermarks bound window state, sessionizer
state is per-key and gap-bounded, and the memory sink here only ever holds
the aggregated frame (days × types / closed sessions), never raw input.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nl_railtraffic_etl_pipeline_spark.functions.compat import exact_avg
from nl_railtraffic_etl_pipeline_spark.plans.testdata import (
    derive_disruptions,
    ensure_session_confs,
    normalize_timestamps,
    rail_oracle_prelude,
)

from ..streaming.incremental import sessionize_stream
from .registry import query

_DRAIN_TIMEOUT_S = 300


#: Raw parquet schema memo for the stream readers, keyed like testdata's
#: _SCAN_CACHE (applicationId, path) — the streaming source needs the
#: PRE-normalization schema (it applies normalize_timestamps itself), so it
#: cannot reuse load_table's memoized frame directly.  Same driver-side cost
#: class as the scan memo: every `spark.read.parquet(...).schema` re-resolves
#: the footer (measured 90-130 ms), which 26 streaming gates x 3 bench reps
#: paid on every call.  Static-input assumption is the same as _SCAN_CACHE's:
#: the testdata files are immutable for the life of the run.
_STREAM_SCHEMA_CACHE: dict[tuple[str, str], object] = {}


def _table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over one synthetic table (pinned schema).

    The file source requires a *directory* to monitor; the testdata tables
    are single read-only files, so stage a symlink directory (the archive-
    directory layout `streaming/incremental.py` streams in production).
    """
    ensure_session_confs(spark)
    path = f"{sf_dir}/{table}.parquet"
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    stream_dir = os.path.join(
        tempfile.gettempdir(), "nl_spark_stream", sf_tag, table
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    key = (spark.sparkContext.applicationId, path)
    schema = _STREAM_SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _STREAM_SCHEMA_CACHE[key] = schema
    ev = spark.readStream.schema(schema).parquet(stream_dir)
    return normalize_timestamps(ev)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _table_stream(spark, sf_dir, "events")


def _start_drain(
    result: DataFrame, name: str, output_mode: str, no_data_batch: bool = True
):
    # Stateful operators allocate one state-store instance (and, for the
    # Pandas sessionizer, one Python worker) per shuffle partition, fixed at
    # query start.  These drains hold days×types / per-user-session state —
    # 8 stores cover it; 32 would be per-drain startup overhead.  The conf
    # is restored after start (captured at start time); an unbounded
    # deployment sizes this to its key cardinality instead.
    #
    # ``no_data_batch=False`` additionally skips the CLOSING no-data
    # micro-batch for drains whose SINK CONTENTS it provably cannot change:
    # an inner stream-stream join emits each pair when its second side
    # arrives, and dropDuplicatesWithinWatermark emits first occurrences on
    # arrival — for both, the closing batch only EVICTS state that the
    # terminating availableNow drain discards anyway (measured: a full
    # second micro-batch cycle, ~0.6-1.9 s/drain, byte-identical sink
    # either way).  Drains whose EMISSION is watermark-gated (the left-
    # outer attribution join's null-padded rows, event-time timeouts) must
    # keep the default: there the no-data batch IS the emission trigger.
    spark = result.sparkSession
    confs = {"spark.sql.shuffle.partitions": "8"}
    if not no_data_batch:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        return (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _await_drain(q, name: str) -> None:
    try:
        if not q.awaitTermination(_DRAIN_TIMEOUT_S):
            raise TimeoutError(f"{name}: stream did not drain in {_DRAIN_TIMEOUT_S}s")
    finally:
        if q.isActive:
            q.stop()
    if q.exception() is not None:
        raise q.exception()


def _drain_to_memory(
    result: DataFrame, name: str, output_mode: str, no_data_batch: bool = True
) -> None:
    _await_drain(_start_drain(result, name, output_mode, no_data_batch), name)


def _drain_all(*drains: tuple[DataFrame, str, str]) -> None:
    """Start several INDEPENDENT drains, then await them all: streaming
    queries run in their own scheduler threads, so two availableNow drains
    over disjoint state overlap their micro-batch execution instead of
    serializing two full start/drain/commit cycles (guide §2.6 — overlap
    independent jobs).  Results, state, and per-query semantics are
    untouched; only the wall-clock serialization goes away."""
    started = [
        (_start_drain(result, name, mode), name)
        for result, name, mode in drains
    ]
    first_err: Exception | None = None
    for q, name in started:
        try:
            _await_drain(q, name)
        except Exception as exc:  # await every query before re-raising
            first_err = first_err or exc
    if first_err is not None:
        raise first_err


@query(
    "streaming_daily_counts",
    rail_oracle_prelude()
    + """
SELECT
    CAST(start_time AS DATE) AS stat_date,
    type,
    COUNT(*) AS total_disruptions,
    ROUND(CAST(SUM(CAST(duration_minutes AS DECIMAL(24,6))) AS DOUBLE)
          / COUNT(duration_minutes), 1) AS avg_duration_minutes,
    MAX(impact_level) AS max_impact_level
FROM disruptions
GROUP BY 1, 2
""",
)
def _streaming_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    dis = derive_disruptions(
        _events_stream(spark, sf_dir).select(
            "event_id", "event_type", "ts", "value", "user_id"
        )
    )
    agg = (
        dis.withWatermark("start_time", "1 day")
        .groupBy(
            F.window("start_time", "1 day").start.cast("date").alias("stat_date"),
            "type",
        )
        .agg(
            F.count("*").alias("total_disruptions"),
            F.round(exact_avg(F.col("duration_minutes")), 1).alias(
                "avg_duration_minutes"
            ),
            F.max("impact_level").alias("max_impact_level"),
        )
    )
    _drain_to_memory(agg, "streaming_daily_counts_result", "complete")
    return spark.table("streaming_daily_counts_result")


@query(
    "streaming_sessionize",
    # The availableNow drain (single archive file -> single micro-batch,
    # stamps sorted per key) emits exactly the batch gaps-and-islands
    # sessions MINUS each user's final session, which stays open in state.
    # That set IS ANSI-SQL-expressible, so the stateful operator gets a full
    # hash-checked oracle: LAG + cumulative session ids, aggregate, then
    # anti-select each key's max session id.
    """
WITH ordered AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS sid
    FROM ordered
),
agg AS (
    SELECT user_id, sid,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(COUNT(*) AS INTEGER) AS n_events
    FROM sessioned
    GROUP BY user_id, sid
),
open_session AS (
    SELECT user_id, MAX(sid) AS max_sid FROM agg GROUP BY user_id
)
SELECT a.user_id, a.session_start, a.session_end, a.n_events
FROM agg a
JOIN open_session o ON a.user_id = o.user_id AND a.sid < o.max_sid
""",
)
def _streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    sessions = sessionize_stream(_events_stream(spark, sf_dir), gap_minutes=30)
    _drain_to_memory(sessions, "streaming_sessionize_result", "append")
    return spark.table("streaming_sessionize_result")


@query(
    "streaming_ewma",
    # Under the single-micro-batch drain (stamps sorted per key inside the
    # batch, no cross-batch lateness possible) the stateful EWMA emits
    # EVERY non-null event with its running average — exactly the batch
    # ewma_halving fold, so the second custom stateful operator also gets
    # a FULL value oracle (exact-halving chain, bit-identical per
    # position; same SQL as the events_ewma gate).
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
def _streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.incremental import ewma_stream

    out = ewma_stream(_events_stream(spark, sf_dir))
    _drain_to_memory(out, "streaming_ewma_result", "append")
    return spark.table("streaming_ewma_result")


#: Non-dyadic alpha for the streaming twin — must match the batch gate's
#: constants token for token (behavior_queries._EWMA_ALPHA).
_SEWMA_ALPHA = 0.3
_SEWMA_A = f"CAST('{_SEWMA_ALPHA!r}' AS DOUBLE)"
_SEWMA_OMA = f"CAST('{1.0 - _SEWMA_ALPHA!r}' AS DOUBLE)"


@query(
    "streaming_ewma_alpha",
    # The general-alpha stateful fold: the oracle replays the identical
    # s*(1-a) + v*a IEEE token sequence, so the stream's Python-float
    # state chain hash-matches bit for bit — same determinism contract
    # as the batch events_ewma_alpha gate, proven through the state
    # store this time.
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
                   (a, b) -> a * {_SEWMA_OMA} + b * {_SEWMA_A}) AS ewma
FROM pos
""",
)
def _streaming_ewma_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.incremental import ewma_stream

    out = ewma_stream(_events_stream(spark, sf_dir), alpha=_SEWMA_ALPHA)
    _drain_to_memory(out, "streaming_ewma_alpha_result", "append")
    return spark.table("streaming_ewma_alpha_result")


@query(
    "streaming_dedup",
    # Each event enters the stream TWICE (in-stream explode); the dedup
    # operator must emit exactly the distinct set.  Duplicate copies are
    # byte-identical, so which copy survives is unobservable and the
    # availableNow drain is deterministic: output == DISTINCT input.
    """
SELECT event_id, ts, event_type, value FROM events
""",
)
def _streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.incremental import dedup_stream

    ev = _events_stream(spark, sf_dir).select(
        "event_id", "ts", "event_type", "value"
    )
    doubled = ev.withColumn(
        "_copy", F.explode(F.array(F.lit(0), F.lit(1)))
    ).drop("_copy")
    out = dedup_stream(doubled, keys=["event_id"]).select(
        "event_id", "ts", "event_type", "value"
    )
    # first occurrences emit ON ARRIVAL; the closing no-data batch only
    # evicts expired keys (A/B: sink hash-identical, one full micro-batch
    # cycle saved)
    _drain_to_memory(
        out, "streaming_dedup_result", "append", no_data_batch=False
    )
    return spark.table("streaming_dedup_result")


@query(
    "streaming_enriched_counts",
    # Stream-STATIC join: the streamed disruptions derivation explodes its
    # station CSV and joins the static stations dimension (broadcast per
    # micro-batch, no stream state) before a watermarked windowed count.
    # Codes S25-S39 have no dim row, so the inner join's selectivity is
    # part of the checked contract.
    rail_oracle_prelude(with_stations=True)
    + """
SELECT CAST(d.start_time AS DATE) AS stat_date,
       st.station_name,
       COUNT(*) AS n_disruptions
FROM disruptions d,
     unnest(string_split(d.affected_stations, ',')) AS s(code)
JOIN stations st ON TRIM(s.code) = st.station_code
WHERE d.affected_stations IS NOT NULL
GROUP BY 1, 2
""",
)
def _streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nl_railtraffic_etl_pipeline_spark.plans.testdata import stations_df

    dis = derive_disruptions(
        _events_stream(spark, sf_dir).select(
            "event_id", "event_type", "ts", "value", "user_id"
        )
    )
    exploded = (
        dis.filter(F.col("affected_stations").isNotNull())
        .select(
            "start_time",
            F.explode(F.split("affected_stations", ",")).alias("_code"),
        )
        .select("start_time", F.trim("_code").alias("station_code"))
    )
    joined = exploded.join(stations_df(spark, sf_dir), "station_code")
    agg = (
        joined.withWatermark("start_time", "1 day")
        .groupBy(
            F.window("start_time", "1 day").start.cast("date").alias("stat_date"),
            "station_name",
        )
        .agg(F.count("*").alias("n_disruptions"))
    )
    _drain_to_memory(agg, "streaming_enriched_counts_result", "complete")
    return spark.table("streaming_enriched_counts_result")


@query(
    "streaming_attribution_join",
    # Stream-STREAM inner join with watermarks + a time-range condition:
    # click events attributed to a purchase by the same user within the
    # preceding hour.  An inner stream-stream join emits exactly the
    # matched pair set whatever the micro-batch slicing (a match emits
    # when its second side arrives), so under the availableNow drain the
    # output is the batch join — a full DuckDB oracle, not a smoke check.
    # At cluster scale the watermark + range bound evicts per-side state
    # beyond 1 day + 1 hour; state is user-keyed, never unbounded.
    """
SELECT c.user_id,
       c.event_id AS click_id,
       c.ts AS click_ts,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
""",
)
def _streaming_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 day")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 day")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND "
            "click_ts BETWEEN purchase_ts - INTERVAL 1 HOUR AND purchase_ts"
        ),
    ).select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts")
    # INNER stream-stream join: a pair emits when its second side arrives,
    # so the closing no-data batch only evicts state (A/B: sink
    # hash-identical, 4.43 -> 2.51 s on the isolated drain).  The LEFT
    # variant below must NOT do this — its null-padded rows emit only when
    # the final watermark passes, i.e. in exactly that closing batch.
    _drain_to_memory(
        joined,
        "streaming_attribution_join_result",
        "append",
        no_data_batch=False,
    )
    return spark.table("streaming_attribution_join_result")


@query(
    "streaming_attribution_left",
    # LEFT-OUTER stream-stream join: every matched (click, purchase) pair
    # PLUS null-padded rows for clicks that can no longer match.  Outer
    # emission is watermark-gated: a click emits null-joined only once the
    # final global watermark (with 0s delay under the availableNow drain:
    # least of the two sides' max event times, advanced by the closing
    # no-data micro-batch) has passed its whole 1-hour match window.  The
    # oracle states exactly that: matched pairs UNION unmatched clicks
    # with click_ts + 1h < least(max click_ts, max purchase_ts).  Clicks
    # inside the final hour stay withheld — deterministic under the full
    # drain, and the real unbounded-deployment semantics too.
    """
WITH wm AS (
    SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'click'),
        (SELECT max(ts) FROM events WHERE event_type = 'purchase')
    ) AS w
)
SELECT c.user_id,
       c.event_id AS click_id,
       c.ts AS click_ts,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
UNION ALL
SELECT c.user_id,
       c.event_id AS click_id,
       c.ts AS click_ts,
       CAST(NULL AS BIGINT) AS purchase_id,
       CAST(NULL AS TIMESTAMP) AS purchase_ts
FROM events c, wm
WHERE c.event_type = 'click'
  AND NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
  )
  AND c.ts + INTERVAL 1 HOUR < wm.w
""",
)
def _streaming_attribution_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "0 seconds")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "0 seconds")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND "
            "click_ts BETWEEN purchase_ts - INTERVAL 1 HOUR AND purchase_ts"
        ),
        "leftOuter",
    ).select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts")
    _drain_to_memory(joined, "streaming_attribution_left_result", "append")
    return spark.table("streaming_attribution_left_result")


@query(
    "streaming_moments",
    """
WITH agg AS (
    SELECT event_type,
           CAST(COUNT(value) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)))
                AS DOUBLE) AS s,
           CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6))
                    * CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)))
                AS DOUBLE) AS ss
    FROM events WHERE event_type IS NOT NULL GROUP BY event_type
)
SELECT event_type, n,
       CAST(ROUND(CAST(CAST((s / n) AS VARCHAR) AS DECIMAL(38,20)), 6)
            AS DOUBLE) AS mean,
       CAST(ROUND(CAST(CAST((CASE WHEN n > 1 THEN
                sqrt(greatest((ss - (s * s) / n) / (n - 1), 0.0)) END)
            AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) AS std
FROM agg
""",
)
def _streaming_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-moments family THROUGH the streaming engine: the same
    decimal-quantized sums the batch `events_type_moments` gate proves
    (`functions/stats.py` module contract) aggregated incrementally by
    Structured Streaming in complete mode, then the identical fixed IEEE
    chain.  Because decimal addition is exact and commutative, the
    drained result is bit-identical to the batch aggregate NO MATTER how
    the stream partitions into micro-batches — the property that makes
    an incremental metrics pipeline trustworthy.  State per group is the
    three running sums: O(types), watermark-free."""
    ev = _events_stream(spark, sf_dir).filter(F.col("event_type").isNotNull())
    dv = F.col("value").cast("string").cast("decimal(18,6)")
    agg = ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.sum(dv).cast("double").alias("s"),
        F.sum(dv * dv).cast("double").alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    res = agg.select(
        "event_type",
        "n",
        F.round(s / n, 6).alias("mean"),
        F.round(
            F.when(
                n > 1,
                F.sqrt(F.greatest((ss - (s * s) / n) / (n - 1), F.lit(0.0))),
            ),
            6,
        ).alias("std"),
    )
    _drain_to_memory(res, "streaming_moments_result", "complete")
    return spark.table("streaming_moments_result")


@query(
    "streaming_rate_limit",
    # Streaming twin of events_rate_limit: the state-store fold counts
    # ties as one group (every simultaneous event sees the full group's
    # mass), which is exactly the batch RANGE frame's semantics — so
    # under the single-batch drain the oracle IS the batch SQL.
    """
WITH c AS (
    SELECT event_id, user_id, ts,
           CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_count
    FROM events
)
SELECT user_id, event_id, ts, trailing_count
FROM c WHERE trailing_count >= 8
""",
)
def _streaming_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.incremental import rate_limit_stream

    out = rate_limit_stream(
        _events_stream(spark, sf_dir), window_hours=24, threshold=8
    )
    _drain_to_memory(out, "streaming_rate_limit_result", "append")
    return spark.table("streaming_rate_limit_result")


from .eval_queries import CALIBRATION_ORACLE_SQL  # noqa: E402


@query(
    "streaming_calibration",
    # Streaming twin of ml_calibration_ece: the state per bin is three
    # BIGINTs (n, pos, sum of integer scores) — exactly mergeable across
    # micro-batches — so the drained bins feed the identical final
    # arithmetic and the batch oracle IS the streaming oracle.
    CALIBRATION_ORACLE_SQL,
)
def _streaming_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-calibration monitoring THROUGH the streaming engine: the
    md5-contract score is binned map-side, per-bin integer sums
    aggregate incrementally in complete mode (state = 10 bins x three
    BIGINTs, watermark-free), and the drained bins get the exact
    ECE/accuracy/confidence arithmetic batch-side — bit-identical to the
    batch ml_calibration_ece gate no matter how the stream micro-batches."""
    from ..functions.text import hash32

    denom = 2**32
    ev = _events_stream(spark, sf_dir).filter(
        F.col("event_type").isNotNull()
    )
    s = hash32(F.col("event_id").cast("string"))
    binned = ev.select(
        F.floor(s * 10 / F.lit(denom)).cast("int").alias("bin"),
        s.alias("_s"),
        (F.col("event_type") == "purchase").cast("bigint").alias("_y"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("_y").alias("pos"),
        F.sum("_s").alias("_sum_s"),
    )
    _drain_to_memory(per_bin, "streaming_calibration_bins", "complete")
    bins = spark.table("streaming_calibration_bins").withColumn(
        "_gap_num",
        F.abs(F.col("pos") * F.lit(denom) - F.col("_sum_s")),
    )
    totals = bins.agg(
        F.sum("n").alias("total_n"),
        F.sum("_gap_num").alias("_gap_total"),
    )
    return bins.crossJoin(F.broadcast(totals)).select(
        "bin",
        "n",
        "pos",
        F.round(
            F.col("pos").cast("double") / F.col("n").cast("double"), 9
        ).alias("accuracy"),
        F.round(
            F.col("_sum_s").cast("double")
            / (F.col("n") * F.lit(denom)).cast("double"),
            9,
        ).alias("confidence"),
        F.col("_gap_num").alias("abs_gap_num"),
        F.round(
            F.col("_gap_total").cast("double")
            / (F.lit(denom) * F.col("total_n")).cast("double"),
            9,
        ).alias("ece"),
        "total_n",
    )


from .eval_queries import DRIFT_ORACLE_SQL  # noqa: E402


@query(
    "streaming_drift",
    # Streaming twin of ml_drift_report: the stream aggregates the
    # (bucket, day) BIGINT counts — exactly mergeable state — and the
    # metadata-scale period stitch + drift arithmetic run on the drained
    # frame, so the batch oracle IS the streaming oracle.
    DRIFT_ORACLE_SQL,
)
def _streaming_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift monitoring THROUGH the streaming engine: per-(bucket,
    day) counts aggregate incrementally in complete mode (state =
    buckets x days BIGINTs, watermark-free); after the drain, the
    first-half/second-half split and the exact TVD + chi-square
    arithmetic run on the counts frame — bit-identical to the batch
    ml_drift_report gate regardless of micro-batching."""
    ev = _events_stream(spark, sf_dir).filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        F.col("event_type").alias("bucket"), F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("cnt"))
    _drain_to_memory(daily, "streaming_drift_days", "complete")
    days = spark.table("streaming_drift_days")
    bounds = days.agg(F.min("d").alias("_d0"), F.max("d").alias("_d1"))
    flagged = days.crossJoin(F.broadcast(bounds)).select(
        "bucket",
        "cnt",
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
    counts = flagged.groupBy("bucket").agg(
        F.sum(F.when(F.col("period") == 0, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("cnt_a"),
        F.sum(F.when(F.col("period") == 1, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("cnt_b"),
    )
    totals = counts.agg(
        F.sum("cnt_a").alias("_na"), F.sum("cnt_b").alias("_nb")
    )
    j = counts.crossJoin(F.broadcast(totals))
    d = F.col("cnt_a") * F.col("_nb") - F.col("cnt_b") * F.col("_na")
    rt = F.col("cnt_a") + F.col("cnt_b")
    per_bucket = j.select(
        "bucket",
        "cnt_a",
        "cnt_b",
        F.round(
            (F.col("cnt_a") * 100).cast("double")
            / F.col("_na").cast("double"),
            9,
        ).alias("share_a_pct"),
        F.round(
            (F.col("cnt_b") * 100).cast("double")
            / F.col("_nb").cast("double"),
            9,
        ).alias("share_b_pct"),
        F.abs(d).alias("_abs_d"),
        F.round(
            d.cast("double")
            * d.cast("double")
            / (rt * F.col("_na") * F.col("_nb")).cast("double"),
            9,
        ).alias("chi2_bucket"),
        F.col("_na").alias("_n_a"),
        F.col("_nb").alias("_n_b"),
    )
    grand = per_bucket.agg(
        F.sum("_abs_d").alias("_sum_abs_d"),
        F.sum(F.col("chi2_bucket").cast("decimal(38,20)")).alias(
            "_chi2_sum"
        ),
    )
    return per_bucket.crossJoin(F.broadcast(grand)).select(
        "bucket",
        "cnt_a",
        "cnt_b",
        "share_a_pct",
        "share_b_pct",
        "chi2_bucket",
        F.round(
            F.col("_sum_abs_d").cast("double")
            / (F.lit(2) * F.col("_n_a") * F.col("_n_b")).cast("double"),
            9,
        ).alias("tvd"),
        F.round(F.col("_chi2_sum").cast("double"), 9).alias("chi2_total"),
    )


from .behavior_queries import GROWTH_ORACLE_SQL  # noqa: E402


@query(
    "streaming_growth",
    # Streaming twin of events_growth_accounting: the engine-side state
    # is the DISTINCT (user, day) activity set — merge-idempotent across
    # micro-batches — and the new/retained/resurrected/churn
    # classification runs on the drained activity frame.
    GROWTH_ORACLE_SQL,
)
def _streaming_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting THROUGH the streaming engine: distinct (user,
    day) pairs accumulate incrementally in complete mode (dedup state is
    idempotent under any micro-batching), then the user-keyed lag
    classification and churn anti-join run on the drained frame —
    bit-identical to the batch gate."""
    ev = _events_stream(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    ud = ev.select(
        F.col("user_id").alias("u"), F.to_date("ts").alias("d")
    ).groupBy("u", "d").agg(F.count("*").alias("_n"))
    _drain_to_memory(ud, "streaming_growth_activity", "complete")
    # the classification self-joins the drained frame (lag vs next-day
    # anti-join); checkpoint breaks the shared memory-sink view lineage
    # (Spark 4 rejects the ambiguous self-reference) and the frame is
    # activity-scale, not event-scale
    act = (
        spark.table("streaming_growth_activity")
        .select("u", "d")
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("u").orderBy("d")
    marked = act.withColumn("prev_d", F.lag("d").over(w))
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
    nxt = act.select("u", F.date_sub("d", 1).alias("d"))
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


from .behavior_queries import BITMAP_ORACLE_SQL  # noqa: E402


@query(
    "streaming_bitmap_distinct",
    # Streaming twin of events_bitmap_distinct: BOTH sides of the
    # result drain mergeable state — bit_or bitmaps per (day, bucket)
    # and per-(day, user) distinct rows — so the batch oracle IS the
    # streaming oracle.
    BITMAP_ORACLE_SQL,
)
def _streaming_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap exact-distinct THROUGH the streaming engine: per-(day,
    bucket) bit_or bitmaps and the per-(day, user) distinct frame each
    accumulate incrementally (bitwise OR and dedup are both
    merge-idempotent), and the popcount + verification join run on the
    drained frames — bit-identical to the batch gate."""
    ev = _events_stream(spark, sf_dir).filter(
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
    ud = ev.select(F.to_date("ts").alias("day"), "user_id").groupBy(
        "day", "user_id"
    ).agg(F.count("*").alias("_n"))
    # the two drains hold disjoint state (bitmaps vs distinct pairs) over
    # the same file stream — overlap them instead of two serial cycles
    _drain_all(
        (bm, "streaming_bitmap_bm", "complete"),
        (ud, "streaming_bitmap_users", "complete"),
    )
    b = (
        spark.table("streaming_bitmap_bm")
        .groupBy("day")
        .agg(F.sum(F.expr("bit_count(bits)")).alias("distinct_bitmap"))
    )
    e = (
        spark.table("streaming_bitmap_users")
        .groupBy("day")
        .agg(F.count("*").alias("distinct_exact"))
    )
    return b.join(e, "day").select(
        "day", "distinct_bitmap", "distinct_exact"
    )


# ---------------------------------------------------------------------------
# Streaming Count-Min twin: the sketch state (depth x width counters)
# built INCREMENTALLY by Structured Streaming — counters merge across
# micro-batches by summation, the CM union contract — then the drained
# state answers the SAME probe set as the batch gate, against the SAME
# oracle SQL.  State is <= depth x width rows regardless of stream
# volume: the bounded-memory frequency monitor of a 100 TB event feed.
# ---------------------------------------------------------------------------
from .oracle_util import (  # noqa: E402
    CM_DEPTH as _CM_D,
    CM_FREQUENCY_ORACLE_SQL,
    CM_WIDTH as _CM_W,
)


@query("streaming_cm_frequency", CM_FREQUENCY_ORACLE_SQL)
def _streaming_cm_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sketch import cm_build, cm_query
    from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

    state = cm_build(
        _events_stream(spark, sf_dir), "user_id", width=_CM_W, depth=_CM_D
    )
    _drain_to_memory(state, "streaming_cm_state", "complete")
    drained = spark.table("streaming_cm_state")
    items = (
        load_table(spark, sf_dir, "events", spread=True)
        .select(F.col("user_id").alias("value"))
        .filter("value % 50 = 0")
        .distinct()
    )
    return cm_query(drained, items, "value", width=_CM_W, depth=_CM_D)


from .behavior_queries import FUNNEL_ORACLE_SQL  # noqa: E402


@query("streaming_funnel", FUNNEL_ORACLE_SQL)
def _streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel THROUGH the streaming
    engine, hash-matching the batch gate's oracle.

    The exact ordered funnel is NOT a function of per-(user, stage)
    minima alone (stage 2's qualifying click threshold is only known
    once stage 1's final entry settles, and it moves DOWN as earlier
    views arrive), so the engine-side state is the smallest thing the
    finishing pass provably needs: the DISTINCT (user, stage, ts) event
    set — a streaming dedup aggregation, merge-idempotent under ANY
    micro-batching, replay, or at-least-once duplication (exactly the
    Kafka-feed failure mode).  The strictly-ordered stage chain then
    runs on the drained set with the same batch operator
    (functions/behavior.py::funnel); dedup never changes a funnel, so
    the oracle is shared verbatim with events_funnel.
    """
    from ..functions.behavior import funnel

    ev = _events_stream(spark, sf_dir).filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isin("view", "click", "purchase")
    )
    stage_set = ev.groupBy("user_id", "event_type", "ts").agg(
        F.count("*").alias("_n")
    )
    _drain_to_memory(stage_set, "streaming_funnel_events", "complete")
    drained = spark.table("streaming_funnel_events").select(
        "user_id", "event_type", "ts"
    )
    return funnel(drained, ["view", "click", "purchase"])


from .behavior_queries import _HOLT_ALPHA, _HOLT_BETA, HOLT_ORACLE_SQL  # noqa: E402


@query("streaming_holt", HOLT_ORACLE_SQL)
def _streaming_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_holt_linear (streaming/incremental.py::
    holt_stream): the two-component level+trend state maintained online,
    hash-matched against the SAME oracle — constants shared with the
    batch gate token for token."""
    from ..streaming.incremental import holt_stream

    out = holt_stream(
        _events_stream(spark, sf_dir), alpha=_HOLT_ALPHA, beta=_HOLT_BETA
    )
    _drain_to_memory(out, "streaming_holt_result", "append")
    return spark.table("streaming_holt_result")


#: Shared with events_transitions — the twin must hash-match the SAME
#: oracle (behavior_queries registers it inline; duplicated here would
#: drift, so import the registered text).
from .registry import ORACLES as _ORACLES  # noqa: E402


@query("streaming_transitions", _ORACLES["events_transitions"])
def _streaming_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_transitions (streaming/incremental.py::
    transitions_stream): per-user O(1) last-event state emits each
    consecutive (src, dst) pair online; the drained pair set aggregates
    to the batch transition matrix with the identical share expression,
    hash-matched against the SAME oracle."""
    from pyspark.sql import Window as _W

    from ..streaming.incremental import transitions_stream

    out = transitions_stream(_events_stream(spark, sf_dir))
    _drain_to_memory(out, "streaming_transitions_pairs", "append")
    pairs = (
        spark.table("streaming_transitions_pairs")
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_transitions"))
    )
    share = _W.partitionBy("src")
    return pairs.select(
        "src",
        "dst",
        "n_transitions",
        F.round(
            F.lit(100.0)
            * F.col("n_transitions")
            / F.sum("n_transitions").over(share),
            2,
        ).alias("share_pct"),
    )


from .behavior_queries import BENFORD_ORACLE_SQL  # noqa: E402


@query(
    "streaming_benford",
    # Streaming twin of dq_benford_totalprice: the state is 9 digit
    # counts — exactly mergeable across micro-batches — so the drained
    # counts feed the identical spine + chi-square closing arithmetic
    # and the batch oracle IS the streaming oracle.
    BENFORD_ORACLE_SQL,
)
def _streaming_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit monitoring THROUGH the streaming engine: the
    orders stream quantizes to integer cents map-side, per-digit counts
    aggregate incrementally in complete mode (state = 9 BIGINTs,
    watermark-free), and the drained counts close with the shared
    spine + chi-square arithmetic (functions/profile.py::benford_close)
    — bit-identical to the batch dq_benford_totalprice gate no matter
    how the stream micro-batches."""
    from ..functions.profile import benford_close, benford_digit

    orders = _table_stream(spark, sf_dir, "orders")
    units = F.round(F.col("o_totalprice").cast("double") * 100).cast(
        "bigint"
    )
    per_digit = (
        orders.select(benford_digit(units).alias("digit"))
        .filter(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )
    _drain_to_memory(per_digit, "streaming_benford_digits", "complete")
    return benford_close(spark.table("streaming_benford_digits"))


from .analysis_queries import ANOVA_ORACLE_SQL  # noqa: E402


@query(
    "streaming_anova",
    # Streaming twin of stats_anova_f: the per-type state is (count,
    # exact decimal sum, exact decimal sum of squares) — all three merge
    # associatively across micro-batches — so the drained frame feeds
    # the identical closing arithmetic (grand decimal sums + the strict
    # left fold over sorted group stats) and the batch oracle IS the
    # streaming oracle, however the stream micro-batches.
    ANOVA_ORACLE_SQL,
)
def _streaming_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA THROUGH the streaming engine: the events stream
    aggregates per-type count/sum/sum-of-squares incrementally in
    complete mode (state = |event types| rows of mergeable exact
    decimals, watermark-free), and the drained stats close with
    functions/stats.py::anova_close — hash-identical to the batch
    stats_anova_f gate."""
    from ..functions.stats import anova_close, anova_group_stats

    ev = _events_stream(spark, sf_dir)
    per = anova_group_stats(ev, "event_type", "value")
    _drain_to_memory(per, "streaming_anova_groups", "complete")
    return anova_close(
        spark.table("streaming_anova_groups"), "event_type"
    )


from .eval_queries import ISO_ORACLE_SQL  # noqa: E402


@query(
    "streaming_isotonic",
    # Streaming twin of ml_isotonic_calibration: the per-bin state is
    # (count, positives) — both merge associatively across micro-batches
    # — so the drained bin frame feeds the SHARED exact-fraction PAV
    # close and the batch oracle (native SQL bins + the plain-Python
    # reference-sweep artifact) IS the streaming oracle.
    ISO_ORACLE_SQL,
)
def _streaming_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration THROUGH the streaming engine: the
    events stream bins the md5-contract scores map-side, per-bin
    (count, positives) aggregate incrementally in complete mode (state
    = 64 rows of mergeable BIGINTs, watermark-free), and the drained
    frame closes with functions/mleval.py::isotonic_close — hash-
    identical to the batch ml_isotonic_calibration gate."""
    from ..functions.mleval import isotonic_close
    from ..functions.text import hash32
    from .eval_queries import (
        _DENOM,
        _ISO_ARTIFACTS,
        _ISO_BINS,
        _publish_isotonic_reference,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _ISO_ARTIFACTS:
        _ISO_ARTIFACTS[key] = _publish_isotonic_reference(sf_dir)
    ev = _events_stream(spark, sf_dir).filter(
        F.col("event_type").isNotNull() & F.col("event_id").isNotNull()
    )
    s = hash32(F.col("event_id").cast("string"))
    b = F.floor(s * _ISO_BINS / F.lit(_DENOM)).cast("int").alias("bin")
    per_bin = (
        ev.select(
            b,
            (F.col("event_type") == "purchase")
            .cast("bigint")
            .alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("_y").cast("bigint").alias("pos"),
        )
    )
    _drain_to_memory(per_bin, "streaming_isotonic_bins", "complete")
    return isotonic_close(spark.table("streaming_isotonic_bins"))


from .inference_queries import (  # noqa: E402
    LOG_LOSS_ORACLE_SQL,
    MCC_ORACLE_SQL,
    _DENOM as _INF_DENOM,
)


@query(
    "streaming_mcc",
    # Streaming twin of ml_mcc: the state is per-bucket (count,
    # positives) — both merge associatively across micro-batches — so
    # the drained 10-row bucket frame feeds the identical threshold
    # derivation and the batch oracle IS the streaming oracle.
    MCC_ORACLE_SQL,
)
def _streaming_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews-correlation threshold sweep THROUGH the streaming
    engine: the events stream buckets the md5-contract score map-side,
    per-bucket (count, positives) aggregate incrementally in complete
    mode (state = n_thresholds + 1 BIGINT rows, watermark-free), and
    the drained frame closes with functions/mleval.py::mcc_close —
    hash-identical to the batch ml_mcc gate."""
    from ..functions.mleval import mcc_bucket_stats, mcc_close
    from ..functions.text import hash32

    ev = _events_stream(spark, sf_dir).filter(
        F.col("event_type").isNotNull()
    )
    base = ev.select(
        hash32(F.col("event_id").cast("string")).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    per_bucket = mcc_bucket_stats(base, "score", "label", _INF_DENOM)
    _drain_to_memory(per_bucket, "streaming_mcc_buckets", "complete")
    return mcc_close(spark.table("streaming_mcc_buckets"), _INF_DENOM)


@query(
    "streaming_log_loss",
    # Streaming twin of ml_log_loss: the state is ONE row of (count,
    # positives, exact DECIMAL(28,12) sum of quantized per-row terms)
    # — all three merge associatively across micro-batches under the
    # quantized-term contract — so the drained row feeds the identical
    # close and the batch oracle IS the streaming oracle.
    LOG_LOSS_ORACLE_SQL,
)
def _streaming_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary cross-entropy THROUGH the streaming engine: per-row
    quantized decimal terms aggregate incrementally in complete mode
    (state = one row, watermark-free), and the drained state closes
    with functions/mleval.py::log_loss_close — hash-identical to the
    batch ml_log_loss gate."""
    from ..functions.mleval import log_loss_close, log_loss_state
    from ..functions.text import hash32

    ev = _events_stream(spark, sf_dir).filter(
        F.col("event_type").isNotNull()
    )
    base = ev.select(
        hash32(F.col("event_id").cast("string")).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    state = log_loss_state(base, "score", "label", _INF_DENOM)
    _drain_to_memory(state, "streaming_log_loss_state", "complete")
    return log_loss_close(spark.table("streaming_log_loss_state"))


from .inference_queries import (  # noqa: E402
    CRAMERS_ORACLE_SQL,
    ESD_ORACLE_SQL,
)


@query(
    "streaming_cramers_v",
    # Streaming twin of stats_cramers_v: the (event_type, iso-dow) cell
    # counts merge associatively across micro-batches, so the drained
    # cell frame feeds the identical margins + strict-left-fold close
    # and the batch oracle IS the streaming oracle.
    CRAMERS_ORACLE_SQL,
)
def _streaming_cramers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V THROUGH the streaming engine: cell counts aggregate
    incrementally in complete mode (state = |types| x 7 BIGINT rows,
    watermark-free) and close with functions/stats.py::cramers_close —
    hash-identical to the batch stats_cramers_v gate."""
    from ..functions.stats import cramers_cells, cramers_close

    ev = _events_stream(spark, sf_dir).filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    base = ev.select(
        "event_type",
        (F.weekday(F.to_date("ts")) + 1).cast("bigint").alias("iso_dow"),
    )
    cells = cramers_cells(base, "event_type", "iso_dow")
    _drain_to_memory(cells, "streaming_cramers_cells", "complete")
    # the close self-joins the cell frame (margins); a MemorySink view
    # cannot appear on both sides of a join (conflicting references) —
    # materialize the tiny drained frame into a fresh plan first
    drained = spark.table("streaming_cramers_cells").localCheckpoint(
        eager=True
    )
    return cramers_close(drained)


@query(
    "streaming_anomaly_esd",
    # Streaming twin of events_anomaly_esd: the per-day counts merge
    # associatively across micro-batches, so the drained daily frame
    # closes with the identical three remove-the-max-z rounds and the
    # batch oracle IS the streaming oracle.
    ESD_ORACLE_SQL,
)
def _streaming_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized-ESD anomaly rounds THROUGH the streaming engine:
    daily counts aggregate incrementally in complete mode (state =
    |days| BIGINT rows, watermark-free) and the drained frame closes
    with functions/stats.py::esd_rounds — hash-identical to the batch
    events_anomaly_esd gate."""
    from ..functions.stats import esd_rounds

    ev = _events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("value")
    )
    _drain_to_memory(daily, "streaming_esd_daily", "complete")
    return esd_rounds(
        spark.table("streaming_esd_daily"), "day", "value", rounds=3
    )


from .inference_queries import SIGN_TEST_ORACLE_SQL  # noqa: E402


@query(
    "streaming_sign_test",
    # Streaming twin of stats_sign_test: the per-day counts merge
    # associatively (the same daily state as streaming_anomaly_esd),
    # so the drained daily frame feeds the identical pairing + z close
    # and the batch oracle IS the streaming oracle.
    SIGN_TEST_ORACLE_SQL,
)
def _streaming_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-on-week sign test THROUGH the streaming engine: daily
    counts aggregate incrementally in complete mode and the drained
    frame closes with the identical pairing arithmetic — hash-identical
    to the batch stats_sign_test gate."""
    ev = _events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("v")
    )
    _drain_to_memory(daily, "streaming_sign_daily", "complete")
    # the close self-joins the daily frame (current vs previous week) —
    # materialize the drained view into a fresh plan first
    drained = spark.table("streaming_sign_daily").localCheckpoint(
        eager=True
    )
    prev = drained.select(
        F.date_add(F.col("d"), 7).alias("d"), F.col("v").alias("prev")
    )
    pairs = drained.join(prev, "d").select(
        F.col("v").alias("cur"), "prev"
    )
    agg = pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.count_if(F.col("cur") > F.col("prev"))
        .cast("bigint")
        .alias("n_pos"),
        F.count_if(F.col("cur") < F.col("prev"))
        .cast("bigint")
        .alias("n_neg"),
        F.count_if(F.col("cur") == F.col("prev"))
        .cast("bigint")
        .alias("n_ties"),
    )
    nn = (F.col("n_pos") + F.col("n_neg")).cast("double")
    return agg.select(
        "n_pairs", "n_pos", "n_neg", "n_ties",
        F.when(
            F.col("n_pos") + F.col("n_neg") > 0,
            F.round(
                (F.col("n_pos") - F.col("n_neg")).cast("double")
                / F.sqrt(nn),
                9,
            ),
        ).alias("z"),
    )
