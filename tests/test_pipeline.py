"""End-to-end SparkETLPipeline over the reference's archived payloads:
extract -> clean -> idempotent dual load -> report, re-run idempotence."""

import datetime as dt

import pytest

from nl_railtraffic_etl_pipeline_spark.pipeline import SparkETLPipeline

PAYLOAD_1 = "/root/reference/data/raw/disruptions_20260214_111810.json"
PAYLOAD_2 = "/root/reference/data/raw/disruptions_20260213_152133.json"
RUN_TS = dt.datetime(2026, 2, 14, 11, 18, 10)


@pytest.fixture()
def lake(tmp_path):
    return str(tmp_path / "lake")


def test_run_end_to_end(spark, lake):
    p = SparkETLPipeline(spark, lake)
    stats = p.run(PAYLOAD_1, RUN_TS)
    assert stats["raw_total"] == 125
    assert stats["clean_total"] == 125
    report = stats["report"]
    assert report["total_records"] == 125
    assert report["max_impact_level"] == 5
    assert report["maintenance"] > 0


def test_rerun_is_idempotent(spark, lake):
    p = SparkETLPipeline(spark, lake)
    first = p.run(PAYLOAD_1, RUN_TS)
    second = p.run(PAYLOAD_1, RUN_TS)
    assert first["raw_total"] == second["raw_total"] == 125
    assert first["clean_total"] == second["clean_total"] == 125


def test_run_materializes_all_reference_tables(spark, lake):
    """One run populates the reference warehouse's full table set
    (schema.sql:7-57): raw archive, cleaned, stations seed, daily_stats."""
    from nl_railtraffic_etl_pipeline_spark.plans.sql_queries import (
        register_warehouse_views,
    )
    from nl_railtraffic_etl_pipeline_spark.schemas import STATIONS

    p = SparkETLPipeline(spark, lake)
    stats = p.run(PAYLOAD_1, RUN_TS)

    stations = spark.read.parquet(f"{lake}/stations")
    assert stations.count() == 6
    assert [f.name for f in stations.schema.fields] == [
        f.name for f in STATIONS.fields
    ]
    daily = spark.read.parquet(f"{lake}/daily_stats")
    assert stats["daily_stats_total"] == daily.count() > 0
    assert "most_affected_station" in daily.columns

    # seed is INSERT-OR-IGNORE: a re-run neither duplicates nor resets it
    p.run(PAYLOAD_1, RUN_TS)
    assert spark.read.parquet(f"{lake}/stations").count() == 6

    # the SQL-text surface runs against the materialized lake warehouse
    from nl_railtraffic_etl_pipeline_spark.plans.sql_queries import SQL_QUERIES

    register_warehouse_views(spark, lake_path=lake)
    counts = {name: spark.sql(sql).count() for name, sql in SQL_QUERIES.items()}
    assert counts["rail_q3_day_over_day"] > 0
    assert counts["rail_q1_rolling_trend"] > 0
    # Q2/Q5's station branches are empty: the archived payloads carry no
    # station lists (golden test asserts all-null affected_stations).
    assert counts["rail_q2_station_severity"] == 0


def test_run_writes_reference_side_effect_artifacts(spark, lake):
    """Every run must leave the reference's full side-effect set
    (reference pipeline.py:103-110, api_client.py:90-171): date-prefixed
    verbatim raw archive (also the Athena table's JSONL), BOM CSV snapshot."""
    import glob
    import json
    import os

    p = SparkETLPipeline(spark, lake)
    stats = p.run(PAYLOAD_1, RUN_TS)
    arts = stats["artifacts"]

    # S3-style YYYY/MM/DD partition layout
    assert os.path.isdir(f"{arts['archive_raw']}/year=2026/month=02/day=14")

    # archived records byte-equal the DataSource's verbatim strings
    with open(PAYLOAD_1, encoding="utf-8") as fh:
        payload = json.load(fh)
    want = {
        json.dumps(rec, ensure_ascii=False)
        for rec in payload
        if rec.get("id") not in (None, "")
    }
    archived = spark.read.text(
        glob.glob(f"{arts['archive_raw']}/year=2026/month=02/day=14/part-*")
    )
    got = {
        json.loads(r.value)["raw_json"] for r in archived.collect()
    }
    assert got == want

    # CSV snapshot: single part file, UTF-8 BOM head, full cleaned batch
    parts = glob.glob(f"{arts['csv_snapshot']}/part-*.csv")
    assert len(parts) == 1
    with open(parts[0], "rb") as fh:
        assert fh.read(3) == b"\xef\xbb\xbf"
    snap = spark.read.option("header", True).option(
        "multiLine", True
    ).csv(arts["csv_snapshot"])
    assert snap.count() == stats["clean_total"] == 125

    # a second run APPENDS to the archive (one file set per run) but
    # replaces nothing — the raw archive is immutable history
    p.run(PAYLOAD_1, RUN_TS + dt.timedelta(hours=1))
    archived2 = spark.read.json(f"{arts['archive_raw']}")
    assert archived2.count() == 2 * len(want)

    # artifacts=False suppresses the side effects
    lake2 = lake + "_noart"
    stats2 = SparkETLPipeline(spark, lake2).run(
        PAYLOAD_1, RUN_TS, artifacts=False
    )
    assert "artifacts" not in stats2
    assert not os.path.exists(f"{lake2}/archive")


def test_crashed_swap_recovers_from_stage(spark, lake):
    """A crash between delete and rename leaves only the staged copy; the
    next run must promote it instead of merging against an empty zone."""
    import shutil

    p = SparkETLPipeline(spark, lake)
    p.run(PAYLOAD_1, RUN_TS)
    # simulate the crash window: zone deleted, stage present
    shutil.move(f"{lake}/disruptions", f"{lake}/disruptions__stage")
    stats = p.run(PAYLOAD_2, RUN_TS + dt.timedelta(hours=1))
    disruptions = spark.read.parquet(f"{lake}/disruptions")
    # both payloads' keys survived: the staged copy was recovered first
    assert stats["clean_total"] == disruptions.count() >= 125
    assert disruptions.select("disruption_id").distinct().count() == stats["clean_total"]
    assert not spark._jvm.java.io.File(f"{lake}/disruptions__stage").exists()


def test_second_payload_upserts(spark, lake):
    p = SparkETLPipeline(spark, lake)
    p.run(PAYLOAD_1, RUN_TS)
    stats = p.run(PAYLOAD_2, RUN_TS + dt.timedelta(hours=1))
    disruptions = spark.read.parquet(f"{lake}/disruptions")
    # keys are unioned across runs; every key unique
    assert stats["clean_total"] == disruptions.select("disruption_id").distinct().count()
    # rows present in both payloads carry the second run's updated_at
    both = disruptions.filter("updated_at > timestamp'2026-02-14 12:00:00'")
    assert both.count() > 0


def test_concurrent_stage_failures_are_all_raised(spark, tmp_path, monkeypatch):
    """The station seed, the zone load and the run artifacts run
    concurrently; when all of them fail, no error may be dropped."""
    import json

    payload = tmp_path / "payload.json"
    payload.write_text(json.dumps([
        {"id": "1", "type": "MAINTENANCE", "title": "Werkzaamheden Utrecht",
         "start": "2026-02-14T08:00:00+0100", "end": "2026-02-14T10:00:00+0100"},
        {"id": "2", "type": "DISRUPTION", "title": "Storing Amsterdam",
         "start": "2026-02-14T09:30:00+0100"},
    ]))

    class StationsDown(Exception):
        pass

    class LoadDown(Exception):
        pass

    class ArtifactsDown(Exception):
        pass

    def stations_fail(self, run_ts):
        raise StationsDown("stations")

    def load_fail(self, raw, cleaned, run_ts):
        raise LoadDown("load")

    def artifacts_fail(self, raw, cleaned, run_ts):
        raise ArtifactsDown("artifacts")

    monkeypatch.setattr(SparkETLPipeline, "ensure_stations", stations_fail)
    monkeypatch.setattr(SparkETLPipeline, "load", load_fail)
    monkeypatch.setattr(SparkETLPipeline, "write_run_artifacts", artifacts_fail)
    p = SparkETLPipeline(spark, str(tmp_path / "lake"))
    with pytest.raises(ExceptionGroup) as every:
        p.run(str(payload), RUN_TS)
    assert sorted(type(e).__name__ for e in every.value.exceptions) == [
        "ArtifactsDown",
        "LoadDown",
        "StationsDown",
    ]

    # without artifacts, their stage is not run at all
    with pytest.raises(ExceptionGroup) as both:
        p.run(str(payload), RUN_TS, artifacts=False)
    assert sorted(type(e).__name__ for e in both.value.exceptions) == [
        "LoadDown",
        "StationsDown",
    ]

    # a single failure re-raises unchanged, not wrapped in a group
    monkeypatch.setattr(
        SparkETLPipeline, "ensure_stations", lambda self, run_ts: 0
    )
    with pytest.raises(LoadDown):
        p.run(str(payload), RUN_TS, artifacts=False)
