"""SparkETLPipeline runs over generated payloads, checked without Spark.

``perfbench/payloads.PayloadGenerator`` writes NS-shaped payloads (edge
cases, falsy ids and carry-over updates included) and
``perfbench/oracle.LakeFold`` replays every successful run in pure Python:
after each run the raw, clean and station zones read by DuckDB must equal
the fold (``check_lake``) and the run's report must equal the fold's
(``check_report``) and ``run_report`` over the published zone.
"""

import datetime as dt
import glob
import json
import os

import pytest
from oracle import LakeFold, check_lake, check_report
from payloads import PayloadGenerator, write_payload
from pyspark.sql import functions as F

from nl_railtraffic_etl_pipeline_spark import pipeline as pipeline_mod
from nl_railtraffic_etl_pipeline_spark.pipeline import SparkETLPipeline

DAY1 = dt.date(2026, 2, 13)
DAY2 = DAY1 + dt.timedelta(days=1)
#: Each day's run happens the morning after it.
RUN1 = dt.datetime.combine(DAY2, dt.time(6), dt.timezone.utc)
RUN2 = RUN1 + dt.timedelta(days=1)
PER_DAY = 40


class GeneratedLake:
    """A pipeline over a fresh lake, fed generated payloads, with the fold
    of every run that returned."""

    def __init__(self, spark, tmp_path, seed=7):
        self.spark = spark
        self.tmp = tmp_path
        self.root = str(tmp_path / "lake")
        self.pipeline = SparkETLPipeline(spark, self.root)
        self.gen = PayloadGenerator(seed)
        self.fold = LakeFold()
        self.payloads = 0

    def batch(self, day, carry_from=()):
        return self.gen.batch(PER_DAY, [day], list(carry_from))

    def run(self, records, run_ts, **kwargs) -> dict:
        self.payloads += 1
        path = str(self.tmp / f"payload{self.payloads}.json")
        write_payload(records, path)
        stats = self.pipeline.run(path, run_ts, **kwargs)
        self.fold.apply(records, run_ts)
        return stats

    def check(self, stats, run_ts) -> None:
        """The lake and the run's report equal the fold of every run so far."""
        assert check_lake(self.root, self.fold) == []
        assert check_report(stats["report"], self.fold.report(run_ts)) == []
        published = self.pipeline.report(run_ts.date()).collect()[0].asDict()
        assert stats["report"] == published
        assert stats["raw_total"] == len(self.fold.raw)
        assert stats["clean_total"] == len(self.fold.clean)
        daily = self.spark.read.parquet(f"{self.root}/daily_stats")
        assert stats["daily_stats_total"] == daily.count() > 0
        assert self.stage_dirs() == []

    def stage_dirs(self) -> list[str]:
        return glob.glob(f"{self.root}/*__stage")


@pytest.fixture()
def lake(spark, tmp_path):
    return GeneratedLake(spark, tmp_path)


def test_first_run_on_empty_lake(lake):
    stats = lake.run(lake.batch(DAY1), RUN1)
    lake.check(stats, RUN1)
    # the payload's falsy ids are skipped, every other record lands
    assert 0 < stats["clean_total"] <= PER_DAY
    # archive/raw holds every record string byte-verbatim, under the run's day
    parts = glob.glob(f"{lake.root}/archive/raw/{RUN1:year=%Y/month=%m/day=%d}/part-*")
    archived = []
    for part in parts:
        with open(part, encoding="utf-8") as fh:
            archived += [json.loads(line)["raw_json"] for line in fh]
    assert sorted(archived) == sorted(raw for raw, _ in lake.fold.raw.values())
    # the raw archive is the only archive: no second JSONL copy
    assert not os.path.exists(f"{lake.root}/archive/athena")
    # the CSV snapshot is one part file, UTF-8 BOM first, one row per record
    snapshot = stats["artifacts"]["csv_snapshot"]
    parts = glob.glob(f"{snapshot}/part-*.csv")
    assert len(parts) == 1
    with open(parts[0], "rb") as fh:
        assert fh.read(3) == b"\xef\xbb\xbf"
    snap = lake.spark.read.option("header", True).option("multiLine", True)
    assert snap.csv(snapshot).count() == stats["clean_total"]


def test_first_run_of_month_history_reads_checkpointed_extract(spark, tmp_path):
    """The sinks read the extract from its checkpoint, never from the
    in-memory payload relation: over that relation the optimizer folds the
    cleaner's projection on the driver once per concurrent sink, and those
    folds gave one record another record's station list.  A month of
    history in one first run must land exactly as the fold says."""
    lake = GeneratedLake(spark, tmp_path, seed=2)
    records = lake.gen.history(DAY1, 30, 150)
    path = str(tmp_path / "history.json")
    write_payload(records, path)
    cleaned = lake.pipeline.transform(lake.pipeline.extract(path), RUN1)
    plan = cleaned._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in plan
    stats = lake.run(records, RUN1)
    lake.check(stats, RUN1)


def _lake_files(root) -> dict[str, float]:
    return {
        path: os.path.getmtime(path)
        for path in glob.glob(f"{root}/**", recursive=True)
    }


def test_payload_of_falsy_ids_stops_before_load(lake):
    """A payload without a truthy id writes nothing and returns what the
    untouched lake holds, in the shape of every other run's result."""
    records = [{"id": None, "type": "DISRUPTION"}, {"id": "", "type": "CALAMITY"},
               {"type": "MAINTENANCE"}]
    # First run: every zone reads empty.  The report is run_report's on a
    # day without rows: a count of 0 and NULL for every other aggregate.
    assert lake.run(records, RUN1) == {
        "raw_total": 0,
        "clean_total": 0,
        "daily_stats_total": 0,
        "report": {
            "total_records": 0,
            "disruptions": None,
            "maintenance": None,
            "calamities": None,
            "avg_duration_minutes": None,
            "max_impact_level": None,
        },
    }
    assert glob.glob(f"{lake.root}/*") == []
    # After day 1: the totals and the report of the lake that run left.
    day1 = lake.run(lake.batch(DAY1), RUN1)
    files = _lake_files(lake.root)
    rerun_ts = RUN1 + dt.timedelta(hours=1)
    stats = lake.run(records, rerun_ts)
    lake.check(stats, rerun_ts)
    assert stats == {k: v for k, v in day1.items() if k != "artifacts"}
    assert _lake_files(lake.root) == files


def test_rerun_of_same_payload(lake):
    """Insert-ignore keeps the first run's raw rows; latest-wins restamps
    the clean rows with the rerun's updated_at."""
    records = lake.batch(DAY1)
    first = lake.run(records, RUN1)
    rerun_ts = RUN1 + dt.timedelta(hours=1)
    second = lake.run(records, rerun_ts)
    lake.check(second, rerun_ts)
    assert second["raw_total"] == first["raw_total"]
    assert second["clean_total"] == first["clean_total"]


def test_carry_over_second_day(lake):
    day1 = lake.batch(DAY1)
    lake.run(day1, RUN1)
    day2 = lake.batch(DAY2, [r for r in day1 if r.get("id")])
    stats = lake.run(day2, RUN2)
    lake.check(stats, RUN2)
    carried = {r["id"] for r in day1 if r.get("id")} & {
        r["id"] for r in day2 if r.get("id")
    }
    assert carried  # the second payload updates ids of the first
    assert stats["clean_total"] == len(lake.fold.clean) < 2 * PER_DAY


def _fail_daily_stats_write(monkeypatch):
    """Make the daily_stats stage write fail while its tasks run."""
    build = pipeline_mod.build_daily_stats

    def failing(disruptions, run_ts=None):
        return build(disruptions, run_ts).withColumn(
            "peak_hour",
            F.coalesce(
                F.raise_error(F.lit("daily_stats write down")).cast("int"),
                F.col("peak_hour"),
            ),
        )

    monkeypatch.setattr(pipeline_mod, "build_daily_stats", failing)


def test_failed_stage_write_publishes_no_zone(lake, monkeypatch):
    """Every zone is staged before any is published: when one stage write
    fails, the raw and clean zones still hold the earlier runs exactly."""
    day1 = lake.batch(DAY1)
    lake.run(day1, RUN1)
    _fail_daily_stats_write(monkeypatch)
    with pytest.raises(Exception, match="daily_stats write down"):
        lake.run(lake.batch(DAY2, [r for r in day1 if r.get("id")]), RUN2)
    assert check_lake(lake.root, lake.fold) == []
    assert lake.stage_dirs() == []


def test_failed_first_run_leaves_nothing_to_recover(lake, monkeypatch):
    """A failed first run removes its complete raw and clean stages, so the
    next run cannot promote them as if a publish had crashed."""
    with monkeypatch.context() as m:
        _fail_daily_stats_write(m)
        with pytest.raises(Exception, match="daily_stats write down"):
            lake.run(lake.batch(DAY1), RUN1)
    assert lake.stage_dirs() == []
    for zone in ("raw_disruptions", "disruptions", "daily_stats"):
        assert not os.path.exists(f"{lake.root}/{zone}")
    stats = lake.run(lake.batch(DAY2), RUN2)
    lake.check(stats, RUN2)
