"""``build_daily_stats`` mode picks over hand-made rows: the documented
tiebreaks (lowest station code, earliest hour), the empty-string station
element and days without station lists."""

import datetime as dt

from nl_railtraffic_etl_pipeline_spark.operators.rollup import build_daily_stats


def _row(day, hour, stations, kind="disruption", minutes=30.0):
    start = dt.datetime(2026, 2, day, hour, 15, tzinfo=dt.timezone.utc)
    return (start, kind, minutes, stations)


def test_daily_stats_mode_tiebreaks(spark):
    rows = [
        # 10th: UTR and ASD tie at two each -> ASD; hours 10 and 09 tie -> 9
        _row(10, 10, "UTR,ASD"),
        _row(10, 9, "ASD,UTR"),
        # 11th: '' (from an empty list and a leading comma) beats GVC once
        _row(11, 8, ""),
        _row(11, 8, ",GVC"),
        _row(11, 22, None, kind="cancellation", minutes=90.0),
        # 12th: no station lists at all -> NULL station; 23 twice wins
        _row(12, 23, None),
        _row(12, 23, None),
        _row(12, 1, None),
    ]
    df = spark.createDataFrame(
        rows,
        "start_time timestamp, type string, duration_minutes double, "
        "affected_stations string",
    )
    got = {
        r["date"].day: r
        for r in build_daily_stats(df, dt.datetime(2026, 2, 13)).collect()
    }
    picks = {d: (r["most_affected_station"], r["peak_hour"]) for d, r in got.items()}
    assert picks == {10: ("ASD", 9), 11: ("", 8), 12: (None, 23)}
    assert (got[11]["total_disruptions"], got[11]["total_cancellations"]) == (3, 1)
    assert got[11]["max_duration_minutes"] == 90
