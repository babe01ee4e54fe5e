"""Golden end-to-end: Spark cleaner over the reference's archived payload
must reproduce its processed CSV (SURVEY §5.2 / FIXTURES.md §5).

Input : /root/reference/data/raw/disruptions_20260214_111810.json (125 recs)
Output: /root/reference/data/processed/cleaned_20260214_111810.csv

run_ts-dependent columns (created_at/updated_at, and end_time/duration for
imputed-ongoing rows) are compared only where data-derived.
"""

import datetime as dt

import pandas as pd
import pytest

from nl_railtraffic_etl_pipeline_spark.functions.cleaning import clean
from nl_railtraffic_etl_pipeline_spark.sources.json_source import read_payload

RAW = "/root/reference/data/raw/disruptions_20260214_111810.json"
GOLDEN = "/root/reference/data/processed/cleaned_20260214_111810.csv"
RUN_TS = dt.datetime(2026, 2, 14, 11, 18, 10)


@pytest.fixture(scope="module")
def frames(spark):
    ours = (
        clean(read_payload(spark, RAW, RUN_TS))
        .orderBy("disruption_id")
        .toPandas()
        .set_index("disruption_id")
    )
    golden = (
        pd.read_csv(GOLDEN, encoding="utf-8-sig")
        .sort_values("disruption_id")
        .set_index("disruption_id")
    )
    return ours, golden


def test_row_count_and_ids(frames):
    ours, golden = frames
    assert len(ours) == len(golden) == 125
    assert list(ours.index) == list(golden.index)


def test_scalar_columns_match(frames):
    ours, golden = frames
    assert (ours["type"] == golden["type"]).all()
    # titles: golden CSV may hold NaN for nulled titles
    for o, g in zip(ours["title"], golden["title"]):
        assert (o is None and pd.isna(g)) or o == g


def test_timestamps_and_durations_match(frames):
    ours, golden = frames
    g_start = pd.to_datetime(golden["start_time"], utc=True).dt.tz_localize(None)
    o_start = pd.to_datetime(ours["start_time"])
    assert ((g_start == o_start) | (g_start.isna() & o_start.isna())).all()
    # end/duration only for rows the reference did not impute with its own
    # wall clock: imputed rows are those with end == start_time + ~2h of the
    # reference's run moment; identified as duration in (115, 125) minutes
    # around the 11:18 run... safer: rows where duration is exactly derived
    # from parsed end. Golden end_time for non-imputed rows parses exactly.
    g_end = pd.to_datetime(
        golden["end_time"], utc=True, format="ISO8601"
    ).dt.tz_localize(None)
    o_end = pd.to_datetime(ours["end_time"])
    imputed = ours["duration_minutes"].isna() | (
        (o_end - pd.Timestamp(RUN_TS)).abs() <= pd.Timedelta(hours=2, minutes=5)
    )
    same = g_end[~imputed] == o_end[~imputed]
    assert same.all()
    gd = golden["duration_minutes"][~imputed]
    od = ours["duration_minutes"][~imputed]
    assert ((gd - od).abs() < 1e-6).all()


def test_impact_levels_match(frames):
    ours, golden = frames
    # impact depends on duration; imputed-duration rows use the reference's
    # wall clock, so compare only rows with a real parsed end
    o_end = pd.to_datetime(ours["end_time"])
    imputed = (o_end - pd.Timestamp(RUN_TS)).abs() <= pd.Timedelta(hours=2, minutes=5)
    assert (
        ours["impact_level"][~imputed] == golden["impact_level"][~imputed]
    ).all()


def test_stations_all_null_as_observed(frames):
    """Declared extraction semantics yield no stations on this payload —
    verified independently (SURVEY §2.9 U2); golden CSV agrees."""
    ours, golden = frames
    assert ours["affected_stations"].isna().all()
    assert golden["affected_stations"].isna().all()


def test_is_resolved_false(frames):
    ours, golden = frames
    assert (~ours["is_resolved"]).all()
    assert (golden["is_resolved"] == 0).all()
