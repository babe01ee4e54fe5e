"""Unit tests for the 6-step cleaner — edge cases from SURVEY §2 notes and
the reference's inline fixture (cleaners.py:274-301)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from nl_railtraffic_etl_pipeline_spark.functions.cleaning import clean
from nl_railtraffic_etl_pipeline_spark.sources.json_source import payload_from_records

RUN_TS = dt.datetime(2026, 2, 14, 11, 18, 10)


def _clean_records(spark, records):
    return clean(payload_from_records(spark, records, RUN_TS))


def test_reference_inline_fixture(spark):
    """The two sample records from cleaners.py:274-301."""
    rows = _clean_records(
        spark,
        [
            {
                "id": "prio-12345",
                "type": "verstoring",
                "title": "Storing tussen Amsterdam en Utrecht",
                "start": "2025-02-14T08:30:00+0100",
                "end": "2025-02-14T10:00:00+0100",
                "description": "Door een sein storing...",
                "timespans": [
                    {
                        "situation": {
                            "stations": [
                                {"stationCode": "ASD"},
                                {"stationCode": "UTR"},
                            ]
                        }
                    }
                ],
            },
            {
                "id": "prio-67890",
                "type": "werkzaamheden",
                "title": "Werkzaamheden Rotterdam",
                "start": "2025-02-14T06:00:00+0100",
                "end": "2025-02-14T18:00:00+0100",
                "description": "Onderhoud spoor...",
            },
        ],
    ).orderBy("disruption_id").collect()

    a, b = rows
    assert a.disruption_id == "prio-12345"
    assert a.type == "disruption"  # verstoring -> disruption
    assert a.duration_minutes == 90.0
    assert a.impact_level == 3  # disruption, 90 min (>60, <=120)
    assert a.affected_stations == "ASD,UTR"
    assert a.start_time == dt.datetime(2025, 2, 14, 7, 30)  # UTC-normalized

    assert b.type == "maintenance"  # werkzaamheden
    assert b.duration_minutes == 720.0
    assert b.impact_level == 4  # maintenance > 240 min
    assert b.affected_stations is None  # regex finds no [A-Z]{2,5} token


def test_type_normalization_passthrough(spark):
    """Uppercase English types rely on lower() + pass-through (SURVEY §7.3.7)."""
    rows = _clean_records(
        spark,
        [
            {"id": "1", "type": "MAINTENANCE", "start": "2026-01-01T00:00:00+0000"},
            {"id": "2", "type": "CALAMITY", "start": "2026-01-01T00:00:00+0000"},
            {"id": "3", "type": "storing", "start": "2026-01-01T00:00:00+0000"},
            {"id": "4", "type": "CANCELLATION", "start": "2026-01-01T00:00:00+0000"},
        ],
    ).orderBy("disruption_id").collect()
    assert [r.type for r in rows] == [
        "maintenance",
        "calamity",
        "disruption",
        "cancellation",
    ]
    assert rows[1].impact_level == 5  # calamity
    assert rows[3].impact_level == 5  # 'cancel' substring


@pytest.mark.parametrize(
    "minutes,expected",
    [(60, 2), (61, 3), (120, 3), (121, 4), (240, 3), (241, 4)],
)
def test_impact_boundaries(spark, minutes, expected):
    """Strict > at 60/120 (disruption) and 240 (maintenance) — SURVEY §7.3.8."""
    dis_type = "maintenance" if minutes in (240, 241) else "verstoring"
    end = dt.datetime(2026, 1, 1) + dt.timedelta(minutes=minutes)
    rows = _clean_records(
        spark,
        [
            {
                "id": "x",
                "type": dis_type,
                "start": "2026-01-01T00:00:00+0000",
                "end": end.strftime("%Y-%m-%dT%H:%M:%S+0000"),
            }
        ],
    ).collect()
    assert rows[0].impact_level == expected


def test_title_rules(spark):
    rows = _clean_records(
        spark,
        [
            {"id": "1", "title": "ab", "start": "2026-01-01T00:00:00+0000"},
            {"id": "2", "title": "  padded title  ", "start": "2026-01-01T00:00:00+0000"},
        ],
    ).orderBy("disruption_id").collect()
    assert rows[0].title is None  # < 5 chars nulled
    assert rows[1].title == "padded title"  # trimmed


def test_timestamp_edge_cases(spark):
    rows = _clean_records(
        spark,
        [
            {"id": "bad", "start": "not-a-date", "end": "also-bad"},
            {"id": "neg", "start": "2026-01-02T00:00:00+0000", "end": "2026-01-01T00:00:00+0000"},
            {"id": "ongoing", "start": "2026-01-01T00:00:00+0000"},
        ],
    ).orderBy("disruption_id").collect()
    bad, neg, ongoing = rows
    assert bad.start_time is None  # coerce -> null
    # unparseable end -> imputed run_ts + 2h (is_ongoing path)
    assert bad.end_time == RUN_TS + dt.timedelta(hours=2)
    assert neg.duration_minutes is None  # negative nulled
    assert ongoing.end_time == RUN_TS + dt.timedelta(hours=2)
    assert ongoing.duration_minutes == pytest.approx(
        (RUN_TS + dt.timedelta(hours=2) - dt.datetime(2026, 1, 1)).total_seconds() / 60
    )


def test_validation_drops_null_ids(spark):
    df = _clean_records(
        spark,
        [
            {"id": None, "type": "x", "start": "2026-01-01T00:00:00+0000"},
            {"id": "keep", "type": "x", "start": "2026-01-01T00:00:00+0000"},
        ],
    )
    assert [r.disruption_id for r in df.collect()] == ["keep"]


def test_station_extraction_strategies(spark):
    rows = _clean_records(
        spark,
        [
            # strategy 1: section.stations[].uicCode
            {
                "id": "s1",
                "title": "no codes here",
                "start": "2026-01-01T00:00:00+0000",
                "section": {"stations": [{"uicCode": "8400058"}, {"uicCode": "8400621"}]},
            },
            # strategy 2 + dedup across timespans
            {
                "id": "s2",
                "title": "no codes here",
                "start": "2026-01-01T00:00:00+0000",
                "timespans": [
                    {"situation": {"stations": [{"stationCode": "RTD"}, {"stationCode": "ASD"}]}},
                    {"situation": {"stations": [{"stationCode": "ASD"}]}},
                ],
            },
            # strategy 3: regex fallback on title, sorted + deduped
            {
                "id": "s3",
                "title": "Storing UTR en ASD en UTR vandaag",
                "start": "2026-01-01T00:00:00+0000",
            },
            # strategies 1+2 union; regex NOT applied when declared found
            {
                "id": "s4",
                "title": "GVC zou genegeerd moeten worden",
                "start": "2026-01-01T00:00:00+0000",
                "section": {"stations": [{"uicCode": "EHV"}]},
                "timespans": [
                    {"situation": {"stations": [{"stationCode": "LEDN"}]}}
                ],
            },
        ],
    ).orderBy("disruption_id").collect()
    assert rows[0].affected_stations == "8400058,8400621"
    assert rows[1].affected_stations == "ASD,RTD"
    assert rows[2].affected_stations == "ASD,UTR"
    assert rows[3].affected_stations == "EHV,LEDN"


def test_output_schema(spark):
    df = _clean_records(
        spark, [{"id": "1", "type": "x", "start": "2026-01-01T00:00:00+0000"}]
    )
    assert df.columns == [
        "disruption_id",
        "type",
        "title",
        "description",
        "start_time",
        "end_time",
        "duration_minutes",
        "impact_level",
        "affected_stations",
        "is_resolved",
        "created_at",
        "updated_at",
    ]
