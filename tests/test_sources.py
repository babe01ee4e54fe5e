"""The extract (S1), the lake writers (S2-S5) and the REST source's retry
policy."""

import datetime as dt
import json
import os

import pytest
from payloads import PayloadGenerator, write_payload
from pyspark.sql import functions as F

from nl_railtraffic_etl_pipeline_spark.pipeline import SparkETLPipeline
from nl_railtraffic_etl_pipeline_spark.schemas import RAW_DISRUPTION
from nl_railtraffic_etl_pipeline_spark.sources import rest_source
from nl_railtraffic_etl_pipeline_spark.sources.json_source import read_payload
from nl_railtraffic_etl_pipeline_spark.sources.lake import (
    with_date_partitions,
    write_csv_snapshot,
    write_raw_archive,
)

PAYLOAD = "/root/reference/data/raw/disruptions_20260214_111810.json"
RUN_TS = dt.datetime(2026, 2, 14, 11, 18, 10)


def test_raw_archive_hive_layout_and_pruning(spark, tmp_path):
    raw = read_payload(spark, PAYLOAD)
    path = str(tmp_path / "archive")
    write_raw_archive(raw, path, RUN_TS)

    # Hive layout: year=/month=/day= directories, zero-padded values
    assert os.path.isdir(f"{path}/year=2026/month=02/day=14")

    back = spark.read.json(path)
    assert back.count() == raw.count()
    # partition pruning reaches the scan: filtering on partition columns
    # must not list other days' directories
    pruned = back.filter(
        (F.col("year") == "2026") & (F.col("month") == "02") & (F.col("day") == "14")
    )
    assert pruned.count() == raw.count()
    none = back.filter(F.col("day") == "15")
    assert none.count() == 0


def test_date_partition_columns_zero_padded(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2026, 3, 5, 1, 2, 3),)], "fetched_at timestamp"
    )
    row = with_date_partitions(df).first()
    assert (row.year, row.month, row.day) == ("2026", "03", "05")


def test_csv_snapshot_single_file_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, name string"
    )
    path = str(tmp_path / "snap")
    write_csv_snapshot(df, path)
    files = [f for f in os.listdir(path) if f.endswith(".csv")]
    assert len(files) == 1  # the reference's one-file-per-run contract
    back = spark.read.option("header", True).csv(path)
    assert sorted((r["id"], r["name"]) for r in back.collect()) == [
        ("1", "a"),
        ("2", "b"),
    ]


@pytest.mark.parametrize("op", ["delete", "rename"])
def test_csv_snapshot_raises_when_the_fs_reports_false(spark, tmp_path, monkeypatch, op):
    """Hadoop reports many delete/rename failures by returning false.  The
    BOM re-head must raise then, not leave the snapshot without its part
    file.  Root ignores permission bits, so the local FS cannot be made to
    refuse; the real FileSystem is wrapped to return false instead."""
    from nl_railtraffic_etl_pipeline_spark.sources import lake

    hadoop_path = lake.hadoop_path

    class Refusing:
        def __init__(self, fs):
            self.fs = fs

        def __getattr__(self, name):
            if name == op:
                return lambda *args: False
            return getattr(self.fs, name)

    def refusing_path(spark, path):
        fs, hpath = hadoop_path(spark, path)
        return Refusing(fs), hpath

    monkeypatch.setattr(lake, "hadoop_path", refusing_path)
    df = spark.createDataFrame([(1, "a")], "id bigint, name string")
    with pytest.raises(IOError, match=f"failed to {op}"):
        write_csv_snapshot(df, str(tmp_path / "snap"))


def test_raw_archive_verbatim_record_bytes(spark, tmp_path):
    """S2 fidelity: a raw-zone frame's record string survives the archive
    BYTE-identically (the reference stores json.dumps(item,
    ensure_ascii=False) untouched — reference pipeline.py:151)."""
    rows = SparkETLPipeline(spark, str(tmp_path / "lake")).extract(PAYLOAD)
    path = str(tmp_path / "archive")
    write_raw_archive(rows, path, RUN_TS)

    with open(PAYLOAD, encoding="utf-8") as fh:
        records = {r["id"]: r for r in json.load(fh) if r.get("id")}
    back = spark.read.json(path)
    got = back.select("raw_json").limit(5).collect()
    assert got
    for r in got:
        rec_id = json.loads(r.raw_json)["id"]
        assert r.raw_json == json.dumps(records[rec_id], ensure_ascii=False)


def test_csv_snapshot_utf8_sig_bom(spark, tmp_path):
    """S5 fidelity: the snapshot head carries the UTF-8 BOM, matching the
    reference's encoding='utf-8-sig' (reference pipeline.py:109)."""
    df = spark.createDataFrame([(1, "café")], "id bigint, name string")
    path = str(tmp_path / "snap")
    write_csv_snapshot(df, path)
    files = [f for f in os.listdir(path) if f.endswith(".csv")]
    assert len(files) == 1
    blob = open(f"{path}/{files[0]}", "rb").read()
    assert blob.startswith(b"\xef\xbb\xbf")
    # content after the BOM is the ordinary UTF-8 CSV
    assert blob[3:].decode("utf-8").splitlines()[1] == "1,café"
    back = spark.read.option("header", True).csv(path)
    assert back.count() == 1


def test_extract_raw_zone(spark, tmp_path):
    df = SparkETLPipeline(spark, str(tmp_path / "lake")).extract(PAYLOAD)
    assert df.count() == 125
    # raw_json round-trips through the nested schema the cleaner consumes
    parsed = df.select(F.from_json("raw_json", RAW_DISRUPTION).alias("r"))
    assert parsed.filter(F.col("r.id").isNull()).count() == 0


def _generated_payload(tmp_path, seed):
    """A generated batch with every falsy-id form added: ``None``, ``""``
    and a missing key."""
    records = PayloadGenerator(seed).batch(150, [RUN_TS.date()], [], falsy=3)
    records += [{"id": None, "type": "DISRUPTION"}, {"id": "", "type": "CALAMITY"},
                {"type": "MAINTENANCE", "title": "Geen id – café"}]
    path = str(tmp_path / f"payload{seed}.json")
    write_payload(records, path)
    return records, path


def _verbatim(records) -> dict[str, str]:
    """id -> the raw zone's record string, after the falsy-id skip."""
    return {
        str(r["id"]): json.dumps(r, ensure_ascii=False)
        for r in records if r.get("id") not in (None, "")
    }


@pytest.mark.parametrize("seed", [1, 2])
def test_extract_generated_payload_verbatim(spark, tmp_path, seed):
    """Every record with an id is extracted once, its ``raw_json`` the
    record's ``json.dumps(..., ensure_ascii=False)`` byte for byte; the
    falsy ids are skipped, and a payload of only falsy ids extracts
    nothing."""
    records, path = _generated_payload(tmp_path, seed)
    pipeline = SparkETLPipeline(spark, str(tmp_path / "lake"))
    df = pipeline.extract(path)
    want = _verbatim(records)
    assert len(want) == 150 < len(records)
    got = {r.id: r.raw_json for r in df.select("id", "raw_json").collect()}
    assert df.count() == len(got) == len(want)
    assert got == want
    # the descriptions' non-ASCII text is kept as characters, not escapes
    assert all("Café" in raw and "\\u" not in raw for raw in got.values())
    falsy = [r for r in records if r.get("id") in (None, "")]
    falsy_path = str(tmp_path / "falsy.json")
    write_payload(falsy, falsy_path)
    assert pipeline.extract(falsy_path) is None


def test_raw_archive_generated_payload_verbatim(spark, tmp_path):
    """The archive of a generated payload holds every extracted record
    string byte-identically, under the run's day."""
    records, path = _generated_payload(tmp_path, 3)
    rows = SparkETLPipeline(spark, str(tmp_path / "lake")).extract(path)
    archive = str(tmp_path / "archive")
    write_raw_archive(rows, archive, RUN_TS)
    back = spark.read.json(archive).filter(F.col("day") == RUN_TS.day)
    archived = [r.raw_json for r in back.select("raw_json").collect()]
    assert sorted(archived) == sorted(_verbatim(records).values())


class _FakeResp:
    def __init__(self, status, payload=None):
        self.status_code = status
        self._payload = payload

    def raise_for_status(self):
        if self.status_code >= 400:
            import requests

            err = requests.HTTPError(f"{self.status_code}")
            err.response = self
            raise err

    def json(self):
        return self._payload


def test_rest_source_retries_then_succeeds(monkeypatch):
    requests = pytest.importorskip("requests")
    calls = []

    def fake_get(url, **kw):
        calls.append(url)
        return _FakeResp(500) if len(calls) < 3 else _FakeResp(200, [{"id": "x"}])

    monkeypatch.setattr(requests, "get", fake_get)
    monkeypatch.setattr(rest_source.time, "sleep", lambda s: None)
    out = rest_source.fetch_disruptions("key", max_retries=3)
    assert out == [{"id": "x"}] and len(calls) == 3


def test_rest_source_aborts_on_auth(monkeypatch):
    requests = pytest.importorskip("requests")
    calls = []

    def fake_get(url, **kw):
        calls.append(url)
        return _FakeResp(401)

    monkeypatch.setattr(requests, "get", fake_get)
    monkeypatch.setattr(rest_source.time, "sleep", lambda s: None)
    with pytest.raises(RuntimeError):
        rest_source.fetch_disruptions("key", max_retries=3)
    assert len(calls) == 1  # 401 short-circuits, no retries
