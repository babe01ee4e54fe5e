"""Structured-Streaming view of the reference's daily batch pipeline.

The reference has no streaming code: its incremental model is a daily cron
re-running the whole batch with idempotent upserts as the correctness
contract (``/root/reference/.github/workflows/daily_pipeline.yml:4-5``,
``src/pipeline.py:137-142`` — SURVEY §2.11).  This module is the
Spark-native continuous formulation of exactly that contract:

- ``read_disruption_stream``: the archive directory (one JSON payload file
  per fetch, the reference's ``data/raw/disruptions_<ts>.json`` layout)
  becomes a file-source stream — every new archive file is one micro-batch.
- ``start_incremental_load``: ``foreachBatch`` runs the SAME clean + upsert
  the batch pipeline uses, so replays/restarts are safe for the same reason
  re-running the cron is: the merge is idempotent.  Checkpointing makes each
  file exactly-once on top of that.
- ``streaming_daily_counts``: the ``daily_stats`` roll-up as a watermarked
  windowed aggregation — late events inside the watermark still land in
  their day bucket; older ones are dropped deterministically.
- ``sessionize_stream``: custom stateful operator via
  ``applyInPandasWithState`` (gap-based sessionization) — the pattern for
  semantics Spark's built-in windows cannot express.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from nl_railtraffic_etl_pipeline_spark.functions.cleaning import clean
from nl_railtraffic_etl_pipeline_spark.schemas import RAW_DISRUPTION

SESSION_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events int"
)
_SESSION_STATE_SCHEMA = "session_start timestamp, last_ts timestamp, n int"


def read_disruption_stream(
    spark: SparkSession, raw_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the raw-payload archive directory.

    Schema is pinned (no streaming inference); ``multiLine`` because each
    archive file is one pretty-printed JSON array (``api_client.py:105-110``).
    """
    reader = spark.readStream.schema(RAW_DISRUPTION).option("multiLine", "true")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(raw_dir)


def start_incremental_load(
    spark: SparkSession,
    raw_dir: str,
    lake_path: str,
    checkpoint_dir: str,
    run_ts: _dt.datetime | None = None,
    available_now: bool = True,
):
    """Continuously clean + idempotently merge every arriving archive file.

    ``foreachBatch`` reuses the batch pipeline's load stage verbatim, so the
    lake state after streaming N files equals the batch pipeline run N times
    — property the tests assert.  ``availableNow`` drains the backlog and
    stops (the cron-replacement mode); pass ``available_now=False`` for a
    long-running tail.
    """
    from nl_railtraffic_etl_pipeline_spark.pipeline import SparkETLPipeline

    pipe = SparkETLPipeline(spark, lake_path)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        raw = batch_df.filter(F.col("id").isNotNull() & (F.col("id") != ""))
        if raw.isEmpty():
            return
        ts = run_ts or _dt.datetime.now(_dt.timezone.utc)
        pipe.load(raw, pipe.transform(raw, ts), ts)

    stream = read_disruption_stream(spark, raw_dir, max_files_per_trigger=1)
    writer = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_daily_counts(
    cleaned: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """daily_stats as a continuous windowed aggregation (A9, streaming form).

    Watermark bounds state: a day's bucket stays open ``watermark`` past the
    newest observed ``start_time``, then finalizes; later stragglers are
    dropped rather than silently corrupting history.
    """
    return (
        cleaned.withWatermark("start_time", watermark)
        .groupBy(
            F.window("start_time", "1 day").start.cast("date").alias("date"),
            "type",
        )
        .agg(
            F.count("*").alias("total_disruptions"),
            F.avg("duration_minutes").alias("avg_duration_minutes"),
            F.max("impact_level").alias("max_impact_level"),
        )
    )


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    id_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based sessionization as a custom stateful operator.

    ``applyInPandasWithState`` keeps (session_start, last_ts, n) per user;
    an event more than ``gap_minutes`` after the previous one closes the
    open session (emitted downstream) and starts a new one.  State is
    per-key and bounded; the operator scales by hash partitioning on the
    key like any shuffle.

    Out-of-order handling: events within one micro-batch are sorted by
    event time; an event OLDER than the stored ``last_ts`` (late across
    micro-batches, beyond what state can reorder) is dropped rather than
    rewinding the open session — late data never inflates history.

    ``watermark`` (e.g. ``"1 hour"``) switches the operator to
    ``EventTimeTimeout``: when the watermark passes ``last_ts + gap`` the
    idle session is emitted and its state removed, so a long-running
    stream both flushes idle users downstream and expires their state.
    Without it (drain/replay mode) state lives for the query's lifetime
    and only gap-closed sessions are emitted — the deterministic contract
    the batch oracle checks.
    """
    import pandas as pd

    gap = _dt.timedelta(minutes=gap_minutes)
    gap_ms = gap_minutes * 60 * 1000
    cols = ["user_id", "session_start", "session_end", "n_events"]

    def fn(key, pdfs, state: GroupState):
        (uid,) = key
        if watermark is not None and state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame([(uid, start, last, n)], columns=cols)
            return
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        closed: list[tuple] = []
        stamps: list = []
        for pdf in pdfs:
            stamps.extend(pdf[ts_col].tolist())
        for ts in sorted(stamps):
            ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
            if last is not None and ts < last:
                continue  # cross-batch late arrival: drop, never rewind
            if last is not None and ts - last > gap:
                closed.append((uid, start, last, n))
                start, n = None, 0
            if start is None:
                start = ts
            last = ts
            n += 1
        state.update((start, last, n))
        if watermark is not None and last is not None:
            # Arrow hands the worker NAIVE stamps in the session tz (UTC);
            # .timestamp() would re-interpret them in the worker's local tz.
            epoch = _dt.datetime(1970, 1, 1, tzinfo=last.tzinfo)
            last_ms = int((last - epoch).total_seconds() * 1000)
            # Timeout stamps must sit beyond the current watermark.
            state.setTimeoutTimestamp(
                max(last_ms + gap_ms, state.getCurrentWatermarkMs() + 1)
            )
        yield pd.DataFrame(closed, columns=cols)

    src = events.select(F.col(id_col).alias("user_id"), F.col(ts_col))
    if watermark is not None:
        src = src.withWatermark(ts_col, watermark)
    return src.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if watermark is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    within: str = "1 day",
) -> DataFrame:
    """Streaming exactly-once dedup: first occurrence of each key passes,
    re-deliveries within the watermark horizon are suppressed.

    The streaming twin of the batch exact-dedup family — the guard every
    at-least-once ingest (retried HTTP fetches, replayed archive files,
    crash-looped producers) needs in front of an append sink.
    ``dropDuplicatesWithinWatermark`` keys the state store on ``keys`` and
    EVICTS entries once the watermark passes them, so state is bounded by
    the duplicate-arrival horizon (``within``), not by stream lifetime —
    the property that makes this run forever at corpus scale where an
    unbounded ``dropDuplicates`` state would grow without limit.
    """
    keys = keys or ["event_id"]
    return events.withWatermark(ts_col, within).dropDuplicatesWithinWatermark(
        keys
    )


def ewma_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-key running EWMA as a SECOND custom stateful operator — the
    continuous-metric pattern (running state updated on EVERY event,
    every event emitted enriched) that complements the gap sessionizer's
    discrete-emission pattern.

    State per key is (last_ts, last_id, s): one row, O(1) forever.  The
    recurrence is the exact fixed-IEEE chain of the batch twin
    (:func:`...functions.stats.ewma_halving` for ``alpha=0.5``,
    :func:`...functions.stats.ewma` otherwise): ``alpha=0.5`` folds as
    ``(s + v) / 2`` (one rounding per step — exact halving), general
    alpha as ``s * (1-alpha) + v * alpha`` with both constants bound as
    doubles ONCE — Python float arithmetic IS IEEE double, and the op
    sequence matches the batch expression token for token, so stream and
    batch stay bit-identical for every alpha, and equivalence-tested
    row-for-row.

    Output/state schemas are DERIVED from the input: the key, id, and
    timestamp columns keep their incoming names and types (a string key
    or int id works unchanged); only the value is normalized to double
    (the fold runs in doubles regardless of input width).

    Ordering contract (same as the sessionizer): events within a
    micro-batch fold in (ts, id) order; an event at-or-before the stored
    (last_ts, last_id) — late across micro-batches, beyond what state
    can reorder — is DROPPED (never rewinds the average); NULL values
    neither emit nor decay the state.
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"ewma_stream: alpha must be in (0, 1], got {alpha!r}")
    one_minus_alpha = 1.0 - alpha
    halving = alpha == 0.5

    in_schema = events.schema
    key_t = in_schema[key_col].dataType
    id_t = in_schema[id_col].dataType
    ts_t = in_schema[ts_col].dataType
    out_schema = StructType(
        [
            StructField(key_col, key_t),
            StructField(id_col, id_t),
            StructField(ts_col, ts_t),
            StructField(value_col, DoubleType()),
            StructField("ewma", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts", ts_t),
            StructField("last_id", id_t),
            StructField("s", DoubleType()),
        ]
    )
    cols = [key_col, id_col, ts_col, value_col, "ewma"]

    def fn(key, pdfs, state: GroupState):
        (uid,) = key
        if state.exists:
            last_ts, last_id, s = state.get
        else:
            last_ts, last_id, s = None, None, None
        rows = []
        batch = []
        for pdf in pdfs:
            for ts, eid, v in zip(
                pdf[ts_col].tolist(), pdf[id_col].tolist(),
                pdf[value_col].tolist(),
            ):
                if v is None or (isinstance(v, float) and v != v):
                    continue
                batch.append((ts, eid, float(v)))
        for ts, eid, v in sorted(batch):
            ts_py = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
            if last_ts is not None and (ts_py, eid) <= (last_ts, last_id):
                continue  # cross-batch late arrival: drop, never rewind
            if s is None:
                s = v
            elif halving:
                s = (s + v) / 2
            else:
                s = s * one_minus_alpha + v * alpha
            last_ts, last_id = ts_py, eid
            rows.append((uid, eid, ts_py, v, s))
        state.update((last_ts, last_id, s))
        yield pd.DataFrame(rows, columns=cols)

    src = events.select(
        F.col(key_col),
        F.col(id_col),
        F.col(ts_col),
        F.col(value_col).cast("double").alias(value_col),
    )
    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def holt_stream(
    events: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.2,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Streaming twin of ``stats.holt_linear``: per-key Holt
    level+trend state updated on every event, every event emitted
    enriched — the same continuous-metric pattern as
    :func:`ewma_stream`, with a TWO-component O(1) state.

    The recurrence is the batch twin's exact fixed-IEEE chain — Python
    float arithmetic IS IEEE double and the op sequence matches token
    for token (``l' = v*alpha + (l+b)*(1-alpha)``, then
    ``b' = (l'-l)*beta + b*(1-beta)``, constants bound once), so stream
    and batch stay bit-identical per position and the gate hash-matches
    the SAME DuckDB oracle as events_holt_linear.  NULL values neither
    emit nor decay; cross-batch late arrivals (at-or-before the stored
    (last_ts, last_id)) are dropped, never rewound — the EWMA family's
    ordering contract.
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"holt_stream: alpha must be in (0, 1], got {alpha!r}")
    if not 0.0 <= beta <= 1.0:
        raise ValueError(f"holt_stream: beta must be in [0, 1], got {beta!r}")
    oma = 1.0 - alpha
    omb = 1.0 - beta

    in_schema = events.schema
    key_t = in_schema[key_col].dataType
    id_t = in_schema[id_col].dataType
    ts_t = in_schema[ts_col].dataType
    out_schema = StructType(
        [
            StructField(key_col, key_t),
            StructField(id_col, id_t),
            StructField(ts_col, ts_t),
            StructField(value_col, DoubleType()),
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
            StructField("forecast", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts", ts_t),
            StructField("last_id", id_t),
            StructField("l", DoubleType()),
            StructField("b", DoubleType()),
        ]
    )
    cols = [key_col, id_col, ts_col, value_col, "level", "trend", "forecast"]

    def fn(key, pdfs, state: GroupState):
        (uid,) = key
        if state.exists:
            last_ts, last_id, lvl, trd = state.get
        else:
            last_ts, last_id, lvl, trd = None, None, None, None
        rows = []
        batch = []
        for pdf in pdfs:
            for ts, eid, v in zip(
                pdf[ts_col].tolist(), pdf[id_col].tolist(),
                pdf[value_col].tolist(),
            ):
                if v is None or (isinstance(v, float) and v != v):
                    continue
                batch.append((ts, eid, float(v)))
        for ts, eid, v in sorted(batch):
            ts_py = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
            if last_ts is not None and (ts_py, eid) <= (last_ts, last_id):
                continue  # cross-batch late arrival: drop, never rewind
            if lvl is None:
                lvl, trd = v, 0.0
            else:
                ln = v * alpha + (lvl + trd) * oma
                trd = (ln - lvl) * beta + trd * omb
                lvl = ln
            last_ts, last_id = ts_py, eid
            rows.append((uid, eid, ts_py, v, lvl, trd, lvl + trd))
        state.update((last_ts, last_id, lvl, trd))
        yield pd.DataFrame(rows, columns=cols)

    src = events.select(
        F.col(key_col),
        F.col(id_col),
        F.col(ts_col),
        F.col(value_col).cast("double").alias(value_col),
    )
    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def transitions_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming twin of the ``behavior.event_transitions`` pair
    generator: per-key O(1) state = the LAST event's (ts, id, type);
    every arriving event whose predecessor exists emits ONE
    (src, dst) pair — exactly the LEAD() pairs of the batch matrix, so
    aggregating the drained pairs reproduces the batch transition
    matrix row-for-row against the SAME oracle.

    Pair semantics mirror the batch window precisely: a NULL-typed
    event still advances the state (it is a real predecessor, so the
    next pair's src is NULL), but pairs whose DST type is NULL are
    never emitted (the batch ``WHERE dst IS NOT NULL``).  Cross-batch
    late arrivals (at-or-before the stored (last_ts, last_id)) are
    dropped, never re-ordered — the EWMA family's ordering contract.
    """
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    in_schema = events.schema
    key_t = in_schema[key_col].dataType
    id_t = in_schema[id_col].dataType
    ts_t = in_schema[ts_col].dataType
    out_schema = StructType(
        [
            StructField(key_col, key_t),
            StructField("src", StringType()),
            StructField("dst", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts", ts_t),
            StructField("last_id", id_t),
            StructField("last_type", StringType()),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        (uid,) = key
        if state.exists:
            last_ts, last_id, last_type = state.get
        else:
            last_ts, last_id, last_type = None, None, None
        has_last = last_ts is not None
        rows = []
        batch = []
        for pdf in pdfs:
            for ts, eid, ty in zip(
                pdf[ts_col].tolist(), pdf[id_col].tolist(),
                pdf[type_col].tolist(),
            ):
                batch.append((ts, eid, ty))
        for ts, eid, ty in sorted(
            batch, key=lambda r: (r[0], r[1])
        ):
            ts_py = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
            if has_last and (ts_py, eid) <= (last_ts, last_id):
                continue  # cross-batch late arrival: drop, never reorder
            if has_last and ty is not None:
                rows.append((uid, last_type, ty))
            last_ts, last_id, last_type = ts_py, eid, ty
            has_last = True
        state.update((last_ts, last_id, last_type))
        yield pd.DataFrame(rows, columns=[key_col, "src", "dst"])

    src = events.select(
        F.col(key_col), F.col(id_col), F.col(ts_col), F.col(type_col)
    )
    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_EPOCH = _dt.datetime(1970, 1, 1)


def rate_limit_stream(
    events: DataFrame,
    window_hours: int = 24,
    threshold: int = 8,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming twin of ``behavior.rate_limit_violations``: per-key
    trailing-window event counts maintained as ONLINE state, emitting
    only the violations — the shape an abuse detector actually runs in
    (the batch operator is its backfill/audit).

    State per key is the timestamps inside the trailing window (pruned
    on every arrival — bounded by the key's in-window event count, which
    for a rate LIMITER is bounded by the limit itself plus the burst
    being caught) plus the (last_ts, last_id) late-arrival watermark.
    Tie semantics match the batch RANGE frame exactly: simultaneous
    events (same micros) are counted as ONE group — every member sees
    the full group's mass — so under the single-batch drain the output
    hash-matches the batch operator's oracle SQL row for row.
    Cross-batch late arrivals (at-or-before the watermark) are dropped,
    mirroring the sessionizer/EWMA contract.
    """
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    if window_hours < 1:
        raise ValueError(f"window_hours must be >= 1, got {window_hours}")
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")
    span = int(window_hours) * 3_600_000_000

    in_schema = events.schema
    key_t = in_schema[key_col].dataType
    id_t = in_schema[id_col].dataType
    ts_t = in_schema[ts_col].dataType
    out_schema = StructType(
        [
            StructField(key_col, key_t),
            StructField(id_col, id_t),
            StructField(ts_col, ts_t),
            StructField("trailing_count", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts", ts_t),
            StructField("last_id", id_t),
            StructField("recent", ArrayType(LongType())),
        ]
    )
    cols = [key_col, id_col, ts_col, "trailing_count"]

    def fn(key, pdfs, state: GroupState):
        (uid,) = key
        if state.exists:
            last_ts, last_id, recent = state.get
            recent = list(recent) if recent is not None else []
        else:
            last_ts, last_id, recent = None, None, []
        batch = []
        for pdf in pdfs:
            for ts, eid in zip(pdf[ts_col].tolist(), pdf[id_col].tolist()):
                ts_py = (
                    ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
                )
                batch.append((ts_py, eid))
        rows = []
        batch.sort()
        i = 0
        while i < len(batch):
            ts_py, _ = batch[i]
            group = []
            while i < len(batch) and batch[i][0] == ts_py:
                if last_ts is None or (batch[i][0], batch[i][1]) > (
                    last_ts,
                    last_id,
                ):
                    group.append(batch[i])
                i += 1
            if not group:
                continue
            # exact integer micros via timedelta components — .timestamp()
            # is a float (last-ulp hazard at the window boundary) and
            # assumes local time for naive datetimes
            d = ts_py - _EPOCH
            t_us = (
                d.days * 86_400_000_000
                + d.seconds * 1_000_000
                + d.microseconds
            )
            recent = [m for m in recent if m > t_us - span]
            recent.extend([t_us] * len(group))
            cnt = len(recent)
            if cnt >= threshold:
                for g_ts, g_id in group:
                    rows.append((uid, g_id, g_ts, cnt))
            last_ts, last_id = group[-1]
        state.update((last_ts, last_id, recent))
        yield pd.DataFrame(rows, columns=cols)

    src = events.select(F.col(key_col), F.col(id_col), F.col(ts_col))
    return src.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
