"""The cleaner against the Spark-free fold, over generated payloads.

For each seed a ``perfbench/payloads.PayloadGenerator`` batch goes through
``SparkETLPipeline.extract`` and ``clean``; every truthy-id record must
come out exactly as ``perfbench/oracle.clean_record`` folds it, compared
the way ``oracle.check_lake`` compares the clean zone (tuple equality,
timestamps as naive UTC).  No lake is written, so the generator's rare
edge cases are all pinned, not only those a small lake run happens to draw.
"""

import datetime as dt

from oracle import CLEAN_COLUMNS, STATION_CODE, clean_record, parse_ns
from payloads import LIVE_TYPES, PayloadGenerator, write_payload
from pyspark.sql import functions as F

from nl_railtraffic_etl_pipeline_spark.pipeline import SparkETLPipeline

DAY = dt.date(2026, 2, 13)
RUN_TS = dt.datetime(2026, 2, 14, 6, tzinfo=dt.timezone.utc)
TIMESTAMPS = ("start_time", "end_time", "created_at", "updated_at")


def _edge_cases(rec: dict) -> set[str]:
    """The cleaner rules a truthy-id record exercises beyond the common path."""
    cases = set()
    if rec["type"] not in {name for name, _ in LIVE_TYPES}:
        cases.add("dutch or unmapped type")
    if any(k in rec and parse_ns(rec[k]) is None for k in ("start", "end")):
        cases.add("malformed timestamp")
    if len(rec["title"].strip()) < 5:
        cases.add("short title")
    stations = (rec.get("section") or {}).get("stations") or [
        st for span in rec["timespans"]
        for st in (span.get("situation") or {}).get("stations") or []
    ]
    if stations:
        cases.add("declared stations")
    elif STATION_CODE.search(rec["title"]):
        cases.add("regex fallback")
    if "end" not in rec:
        cases.add("ongoing")
    return cases


def test_clean_matches_fold_on_generated_payloads(spark, tmp_path):
    pipeline = SparkETLPipeline(spark, str(tmp_path / "lake"))
    seen = set()
    for seed in range(1, 6):
        records = PayloadGenerator(seed).batch(150, [DAY], [])
        path = str(tmp_path / f"payload{seed}.json")
        write_payload(records, path)
        cleaned = pipeline.transform(pipeline.extract(path, RUN_TS), RUN_TS)
        rows = cleaned.select(
            *[F.col(c).cast("timestamp_ntz") if c in TIMESTAMPS else c
              for c in CLEAN_COLUMNS]
        ).collect()
        got = {r[0]: tuple(r) for r in rows}
        want = {
            str(rec["id"]): clean_record(rec, RUN_TS)
            for rec in records if rec.get("id")
        }
        assert len(got) == len(rows) == len(want)
        bad = [k for k, row in want.items() if got.get(k) != row]
        assert not bad, f"seed {seed}: {got.get(bad[0])} != {want[bad[0]]}"
        for rec in records:
            if rec.get("id"):
                seen |= _edge_cases(rec)
    assert seen == {
        "dutch or unmapped type", "malformed timestamp", "short title",
        "declared stations", "regex fallback", "ongoing",
    }
