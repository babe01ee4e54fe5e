"""Idempotence + winner-determinism properties for the upsert operators
(the reference's correctness contract, README.md:37 / pipeline.py:137-142)."""

from pyspark.sql import Row

from nl_railtraffic_etl_pipeline_spark.operators.upsert import (
    insert_ignore,
    upsert_latest_wins,
)


def _df(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


def test_insert_ignore_keeps_existing(spark):
    existing = _df(spark, [{"k": "a", "v": 1}, {"k": "b", "v": 2}])
    batch = _df(spark, [{"k": "b", "v": 99}, {"k": "c", "v": 3}])
    out = insert_ignore(existing, batch, ["k"]).orderBy("k").collect()
    assert [(r.k, r.v) for r in out] == [("a", 1), ("b", 2), ("c", 3)]


def test_insert_ignore_idempotent(spark):
    existing = _df(spark, [{"k": "a", "v": 1}])
    batch = _df(spark, [{"k": "b", "v": 2}])
    once = insert_ignore(existing, batch, ["k"])
    twice = insert_ignore(once, batch, ["k"])
    assert sorted(twice.collect()) == sorted(once.collect())


def test_upsert_latest_wins_replaces(spark):
    existing = _df(spark, [{"k": "a", "v": 1, "ts": 1}, {"k": "b", "v": 2, "ts": 1}])
    batch = _df(spark, [{"k": "b", "v": 99, "ts": 2}, {"k": "c", "v": 3, "ts": 2}])
    out = upsert_latest_wins(existing, batch, ["k"], "ts").orderBy("k").collect()
    assert [(r.k, r.v) for r in out] == [("a", 1), ("b", 99), ("c", 3)]


def test_upsert_idempotent(spark):
    existing = _df(spark, [{"k": "a", "v": 1, "ts": 1}])
    batch = _df(spark, [{"k": "a", "v": 5, "ts": 2}, {"k": "b", "v": 2, "ts": 2}])
    once = upsert_latest_wins(existing, batch, ["k"], "ts")
    twice = upsert_latest_wins(once, batch, ["k"], "ts")
    assert sorted(once.collect()) == sorted(twice.collect())


def test_dedup_batch_deterministic_winner(spark):
    batch = _df(
        spark,
        [
            {"k": "a", "v": 1, "ts": 1},
            {"k": "a", "v": 2, "ts": 3},
            {"k": "a", "v": 3, "ts": 2},
        ],
    )
    empty = spark.createDataFrame([], batch.schema)
    out = upsert_latest_wins(empty, batch, ["k"], "ts").collect()
    assert len(out) == 1 and out[0].v == 2  # max ts wins
