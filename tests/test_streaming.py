"""Structured-Streaming layer: incremental load equivalence with the batch
pipeline, watermarked daily counts, and the stateful sessionizer."""

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

from nl_railtraffic_etl_pipeline_spark.functions.cleaning import clean
from nl_railtraffic_etl_pipeline_spark.sources.json_source import read_payload
from operator_families.streaming import (
    sessionize_stream,
    start_incremental_load,
    streaming_daily_counts,
)

PAYLOAD_1 = "/root/reference/data/raw/disruptions_20260214_111810.json"
PAYLOAD_2 = "/root/reference/data/raw/disruptions_20260213_152133.json"
RUN_TS = dt.datetime(2026, 2, 14, 11, 18, 10)


def test_incremental_load_matches_batch_contract(spark, tmp_path):
    """Streaming N archive files == running the batch pipeline N times:
    same keys, exactly-once per file, replay-safe."""
    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    shutil.copy(PAYLOAD_1, raw_dir / "disruptions_a.json")

    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    q = start_incremental_load(spark, str(raw_dir), lake, ckpt, RUN_TS)
    q.awaitTermination(120)

    disruptions = spark.read.parquet(f"{lake}/disruptions")
    assert disruptions.count() == 125
    assert disruptions.select("disruption_id").distinct().count() == 125

    # second file arrives (overlapping keys) -> upsert, not duplicate
    shutil.copy(PAYLOAD_2, raw_dir / "disruptions_b.json")
    q = start_incremental_load(
        spark, str(raw_dir), lake, ckpt, RUN_TS + dt.timedelta(hours=1)
    )
    q.awaitTermination(120)

    disruptions = spark.read.parquet(f"{lake}/disruptions")
    assert (
        disruptions.count()
        == disruptions.select("disruption_id").distinct().count()
    )
    # restart with no new files: checkpoint makes it a no-op
    before = disruptions.count()
    q = start_incremental_load(
        spark, str(raw_dir), lake, ckpt, RUN_TS + dt.timedelta(hours=2)
    )
    q.awaitTermination(120)
    assert spark.read.parquet(f"{lake}/disruptions").count() == before


def test_streaming_daily_counts_matches_batch(spark, tmp_path):
    cleaned = clean(read_payload(spark, PAYLOAD_1), RUN_TS)
    src = str(tmp_path / "cleaned")
    cleaned.write.parquet(src)

    stream = spark.readStream.schema(cleaned.schema).parquet(src)
    q = (
        streaming_daily_counts(stream)
        .writeStream.format("memory")
        .queryName("daily_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.table("daily_counts")
    # time windows have no bucket for null timestamps; batch twin filters too
    want = (
        cleaned.filter(F.col("start_time").isNotNull())
        .groupBy(F.to_date("start_time").alias("date"), "type")
        .agg(F.count("*").alias("total_disruptions"))
    )
    assert got.count() == want.count()
    merged = got.join(want, ["date", "type"], "inner").filter(
        got["total_disruptions"] == want["total_disruptions"]
    )
    assert merged.count() == want.count()


def test_sessionize_stream_closes_on_gap(spark, tmp_path):
    t0 = dt.datetime(2026, 3, 1, 8, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=5)),
        (1, t0 + dt.timedelta(minutes=60)),  # closes session 1 (gap > 30)
        (1, t0 + dt.timedelta(minutes=65)),
        (2, t0),
        (2, t0 + dt.timedelta(minutes=90)),  # closes user 2's first session
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, "user_id bigint, ts timestamp").write.parquet(
        src
    )

    stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(src)
    q = (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    closed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("sessions").collect()
    }
    assert closed == {
        (1, t0, t0 + dt.timedelta(minutes=5), 2),
        (2, t0, t0, 1),
    }


def test_sessionize_stream_timeout_flushes_idle(spark, tmp_path):
    """With a watermark, idle users' open sessions are emitted (and their
    state expired) once the watermark passes last_ts + gap."""
    t0 = dt.datetime(2026, 3, 1, 8, 0, 0)
    src = tmp_path / "events"
    src.mkdir()
    ddl = "user_id bigint, ts timestamp"

    def write(rows):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    # file 1: user 1 has a short session then goes idle forever
    write([(1, t0), (1, t0 + dt.timedelta(minutes=5))])
    # files 2-3: another user keeps the stream (and the watermark) moving
    write([(9, t0 + dt.timedelta(hours=3))])
    write([(9, t0 + dt.timedelta(hours=6))])

    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        sessionize_stream(stream, gap_minutes=30, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("timeout_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("timeout_sessions").collect()
    }
    # user 1's idle session was flushed by timeout, not by a gap event
    assert (1, t0, t0 + dt.timedelta(minutes=5), 2) in emitted


def test_dedup_stream_suppresses_cross_batch_redelivery(spark, tmp_path):
    """A key re-delivered in a LATER micro-batch (within the watermark
    horizon) must be suppressed — the state survives across batches; a
    genuinely new key in the later batch passes."""
    from operator_families.streaming.incremental import (
        dedup_stream,
    )

    t0 = dt.datetime(2026, 3, 1, 8, 0, 0)
    src = tmp_path / "events"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "event_id bigint, ts timestamp, v string"

    def drain():
        # parquet sink (memory sink can't restart from a checkpoint — the
        # cross-batch state survival IS what this test exercises)
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            dedup_stream(stream, keys=["event_id"])
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {(r.event_id, r.v) for r in spark.read.parquet(out).collect()}

    def add_file(rows, tag):
        # the file source watches a flat directory — stage the part file
        # under a unique name, not a nested write directory
        staged = tmp_path / f"stage_{tag}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(staged)
        )
        part = next(staged.glob("part-*.parquet"))
        part.rename(src / f"{tag}.parquet")

    add_file([(1, t0, "a"), (2, t0, "b")], "batch1")
    assert drain() == {(1, "a"), (2, "b")}

    # batch 2: event 1 re-delivered (same stamp), event 3 new — the
    # cumulative emitted set must gain ONLY event 3
    add_file([(1, t0, "a"), (3, t0 + dt.timedelta(minutes=1), "c")], "batch2")
    got = drain()
    assert got == {(1, "a"), (2, "b"), (3, "c")}, got
    # and event 1 was emitted exactly once — 3 physical rows, not 4
    assert spark.read.parquet(out).count() == 3


def test_ewma_stream_matches_batch_twin(spark, tmp_path):
    """The stateful streaming EWMA equals the batch ewma_halving fold
    row-for-row across multiple micro-batches (state carries the running
    average over the file boundary); NULL values neither emit nor decay;
    a cross-batch late event is dropped, never rewinds."""
    import datetime as dt

    from operator_families.functions.stats import ewma_halving
    from operator_families.streaming.incremental import (
        ewma_stream,
    )

    t0 = dt.datetime(2026, 3, 1, 8, 0, 0)
    batch1 = [
        (1, 1, t0, 8.0),
        (1, 2, t0 + dt.timedelta(minutes=1), 4.0),
        (2, 3, t0, 10.0),
        (1, 4, t0 + dt.timedelta(minutes=2), None),  # null: no emit/decay
    ]
    batch2 = [
        (1, 5, t0 + dt.timedelta(minutes=3), 2.0),
        (2, 6, t0 + dt.timedelta(minutes=4), 20.0),
        (1, 7, t0 - dt.timedelta(minutes=9), 99.0),  # late: dropped
    ]
    schema = "user_id bigint, event_id bigint, ts timestamp, value double"
    src = str(tmp_path / "ewma_events")
    # ONE part file per batch (coalesce(1)): with maxFilesPerTrigger=1
    # each file IS a micro-batch, and multiple part files of one logical
    # batch would otherwise stream in arbitrary order and trip the
    # late-drop contract on rows that were never late
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(src + "/b2")
    # the file source micro-batches in modification-time order; sub-second
    # writes can tie (or invert), so pin b1 strictly older than b2
    import os
    import pathlib

    now = 1_900_000_000
    for i, d in enumerate(("b1", "b2")):
        for f in pathlib.Path(src, d).glob("*.parquet"):
            os.utime(f, (now + i * 10, now + i * 10))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        ewma_stream(stream)
        .writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.event_id: (r.user_id, r.value, r.ewma)
        for r in spark.table("ewma_out").collect()
    }
    # exact halving chain: u1 8 -> (8+4)/2=6 -> (6+2)/2=4; u2 10 -> 15
    assert got[1] == (1, 8.0, 8.0)
    assert got[2] == (1, 4.0, 6.0)
    assert got[5] == (1, 2.0, 4.0)
    assert got[3] == (2, 10.0, 10.0)
    assert got[6] == (2, 20.0, 15.0)
    assert 4 not in got and 7 not in got

    # batch twin on the in-order union (late row 7 and null row excluded
    # by the streaming contract) matches row-for-row
    ordered = spark.createDataFrame(
        [r for r in batch1 + batch2 if r[1] not in (7,)], schema
    )
    want = {
        r.event_id: (r.user_id, r.value, r.ewma)
        for r in ewma_halving(ordered).collect()
    }
    assert got == want


def test_ewma_stream_derived_schema_and_general_alpha(spark, tmp_path):
    """ewma_stream derives its output/state schemas from the INPUT: a
    string key and renamed id/ts/value columns work unchanged (r5 review:
    the schema was hardcoded bigint/user_id); and a non-halving alpha
    folds bit-identically to the batch stats.ewma twin."""
    import datetime as dt
    import os
    import pathlib

    from operator_families.functions.stats import ewma
    from operator_families.streaming.incremental import (
        ewma_stream,
    )

    t0 = dt.datetime(2026, 3, 1, 8, 0, 0)
    rows = [
        ("alpha", 1, t0, 8.0),
        ("alpha", 2, t0 + dt.timedelta(minutes=1), 4.0),
        ("beta", 3, t0, 10.0),
        ("alpha", 4, t0 + dt.timedelta(minutes=2), 7.3),
        ("beta", 5, t0 + dt.timedelta(minutes=3), 1.5),
    ]
    schema = "sensor string, reading_id int, at timestamp, amount double"
    src = str(tmp_path / "ewma_generic")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src + "/b1")
    now = 1_900_000_000
    for f in pathlib.Path(src, "b1").glob("*.parquet"):
        os.utime(f, (now, now))

    stream = spark.readStream.schema(schema).parquet(src + "/*")
    q = (
        ewma_stream(
            stream,
            key_col="sensor",
            ts_col="at",
            id_col="reading_id",
            value_col="amount",
            alpha=0.25,
        )
        .writeStream.format("memory")
        .queryName("ewma_generic_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("ewma_generic_out")
    assert got.columns == ["sensor", "reading_id", "at", "amount", "ewma"]
    stream_vals = {r.reading_id: (r.sensor, r.ewma) for r in got.collect()}

    batch = spark.createDataFrame(rows, schema)
    batch_vals = {
        r.reading_id: (r.sensor, r.ewma)
        for r in ewma(
            batch,
            alpha=0.25,
            value_col="amount",
            ts_col="at",
            key_cols=("sensor",),
            id_col="reading_id",
        ).collect()
    }
    assert stream_vals == batch_vals  # bit-exact, both engines IEEE chains
    assert stream_vals[4][1] == (8.0 * 0.75 + 4.0 * 0.25) * 0.75 + 7.3 * 0.25


def test_streaming_moments_bit_identical_to_batch(spark):
    """The streamed exact-moments aggregate must equal the batch chain
    bit for bit regardless of micro-batch partitioning: decimal sums are
    exact and commutative, and both sides close with the identical IEEE
    chain."""
    from pyspark.sql import functions as F
    from operator_families.functions.stats import (
        group_moments,
    )
    from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table
    from operator_families.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    streamed = {
        r.event_type: (r.n, r.mean, r.std)
        for r in QUERIES["streaming_moments"](spark, sf).collect()
    }
    ev = load_table(spark, sf, "events").filter(
        F.col("event_type").isNotNull()
    )
    batch = {
        r.event_type: (r.n, r.mean, r.std)
        for r in group_moments(ev, "value", ["event_type"])
        .select(
            "event_type",
            "n",
            F.round("mean", 6).alias("mean"),
            F.round("std", 6).alias("std"),
        )
        .collect()
    }
    assert streamed == batch


def test_rate_limit_stream_matches_batch_and_state(spark, tmp_path):
    """The streaming rate limiter counts the trailing window across
    micro-batch boundaries (state carries the in-window stamps), matches
    the batch RANGE semantics on ties, and drops cross-batch late
    arrivals."""
    import datetime as dt
    import os
    import pathlib

    from operator_families.functions.behavior import (
        rate_limit_violations,
    )
    from operator_families.streaming.incremental import (
        rate_limit_stream,
    )

    t0 = dt.datetime(2026, 3, 1, 8, 0, 0)
    m = lambda k: t0 + dt.timedelta(minutes=k)  # noqa: E731
    batch1 = [(1, 1, m(0)), (1, 2, m(10)), (2, 3, m(0))]
    batch2 = [
        (1, 4, m(20)),           # 3rd in window -> violation
        (1, 5, m(20)),           # tie with id 4: both see count 4
        (1, 6, m(75)),           # ids 1,2 aged out (65/75 min ago) ->
                                 # window holds 4,5,6 -> violation (3)
        (2, 7, m(-30)),          # late vs u2's watermark: dropped
    ]
    schema = "user_id bigint, event_id bigint, ts timestamp"
    src = str(tmp_path / "rl_events")
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(src + "/b2")
    now = 1_900_000_000
    for i, d in enumerate(("b1", "b2")):
        for f in pathlib.Path(src, d).glob("*.parquet"):
            os.utime(f, (now + i * 10, now + i * 10))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        rate_limit_stream(stream, window_hours=1, threshold=3)
        .writeStream.format("memory")
        .queryName("rl_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_id: r.trailing_count for r in spark.table("rl_out").collect()
    }
    assert got == {4: 4, 5: 4, 6: 3}

    # batch twin over the same stream minus the dropped late row
    ordered = spark.createDataFrame(
        [r for r in batch1 + batch2 if r[1] != 7], schema
    )
    want = {
        r.event_id: r.trailing_count
        for r in rate_limit_violations(
            ordered, window_hours=1, threshold=3
        ).collect()
    }
    assert got == want


def test_holt_stream_matches_batch_twin(spark, tmp_path):
    """The stateful streaming Holt smoother equals the batch holt_linear
    fold row-for-row across micro-batches (level AND trend carry over
    the file boundary); NULLs neither emit nor decay; a cross-batch
    late event is dropped."""
    import datetime as dt

    from operator_families.functions.stats import holt_linear
    from operator_families.streaming.incremental import (
        holt_stream,
    )

    t0 = dt.datetime(2026, 3, 1, 8, 0, 0)
    batch1 = [
        (1, 1, t0, 10.0),
        (1, 2, t0 + dt.timedelta(minutes=1), 12.0),
        (1, 3, t0 + dt.timedelta(minutes=2), None),
    ]
    batch2 = [
        (1, 4, t0 + dt.timedelta(minutes=3), 14.0),
        (1, 5, t0 - dt.timedelta(minutes=9), 99.0),  # late: dropped
    ]
    schema = "user_id bigint, event_id bigint, ts timestamp, value double"
    src = str(tmp_path / "holt_events")
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(src + "/b2")
    import os
    import pathlib

    now = 1_900_000_000
    for i, d in enumerate(("b1", "b2")):
        for f in pathlib.Path(src, d).glob("*.parquet"):
            os.utime(f, (now + i * 10, now + i * 10))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        holt_stream(stream, alpha=0.3, beta=0.2)
        .writeStream.format("memory")
        .queryName("holt_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.event_id: (r.value, r.level, r.trend, r.forecast)
        for r in spark.table("holt_out").collect()
    }
    assert 3 not in got and 5 not in got
    # hand chain: l1=10,b1=0; l2=12*.3+10*.7=10.6, b2=.6*.2=.12;
    # l4=14*.3+10.72*.7, b4=(l4-10.6)*.2+.12*.8
    assert got[1] == (10.0, 10.0, 0.0, 10.0)
    l2 = 12.0 * 0.3 + (10.0 + 0.0) * 0.7
    b2 = (l2 - 10.0) * 0.2 + 0.0 * 0.8
    assert got[2] == (12.0, l2, b2, l2 + b2)

    ordered = spark.createDataFrame(
        [r for r in batch1 + batch2 if r[1] != 5], schema
    )
    want = {
        r.event_id: (r.value, r.level, r.trend, r.forecast)
        for r in holt_linear(ordered, alpha=0.3, beta=0.2).collect()
    }
    assert got == want


def test_transitions_stream_matches_batch_pairs(spark, tmp_path):
    """The stateful pair generator emits exactly the batch LEAD() pairs
    across a micro-batch boundary: NULL-typed events advance the state
    but never appear as dst; late arrivals drop."""
    import datetime as dt

    from operator_families.streaming.incremental import (
        transitions_stream,
    )

    t0 = dt.datetime(2026, 3, 1, 8, 0, 0)
    batch1 = [
        (1, 1, t0, "view"),
        (1, 2, t0 + dt.timedelta(minutes=1), "click"),
        (1, 3, t0 + dt.timedelta(minutes=2), None),
    ]
    batch2 = [
        (1, 4, t0 + dt.timedelta(minutes=3), "purchase"),
        (1, 5, t0 - dt.timedelta(minutes=9), "late"),  # dropped
        (2, 6, t0, "view"),                            # no predecessor
    ]
    schema = "user_id bigint, event_id bigint, ts timestamp, event_type string"
    src = str(tmp_path / "tr_events")
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(src + "/b2")
    import os
    import pathlib

    now = 1_900_000_000
    for i, d in enumerate(("b1", "b2")):
        for f in pathlib.Path(src, d).glob("*.parquet"):
            os.utime(f, (now + i * 10, now + i * 10))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        transitions_stream(stream)
        .writeStream.format("memory")
        .queryName("tr_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        ((r.user_id, r.src or "", r.dst) for r in
         spark.table("tr_out").collect())
    )
    # pairs: view->click, click->NULL (suppressed: dst null),
    # NULL->purchase (state carried the null-typed predecessor across
    # the batch boundary); user 2's single event emits nothing
    assert got == [(1, "", "purchase"), (1, "view", "click")]


def test_drain_conf_restored_and_no_data_batch_scoped(spark):
    """r12: the drain helper's per-drain confs (shuffle partitions, the
    noDataMicroBatches opt-out) must be scoped to the start() call — the
    session the next query sees keeps its prior values either way."""
    from operator_families.plans.streaming_queries import (
        _drain_to_memory,
    )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "true")

    import os
    import tempfile

    src = tempfile.mkdtemp(prefix="drain_conf_src_")
    spark.range(10).selectExpr(
        "id AS event_id",
        "timestamp_micros(CAST(1700000000000000 + id * 1000000 AS BIGINT))"
        " AS ts",
    ).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    _drain_to_memory(stream, "drain_conf_out", "append", no_data_batch=False)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
    assert spark.conf.get(key) == "true"
    assert spark.table("drain_conf_out").count() == 10
