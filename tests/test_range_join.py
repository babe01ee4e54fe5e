"""point_in_interval_join: result-equivalence with the plain theta join,
exactly-once match emission, and left-join miss handling."""

import datetime as dt

from pyspark.sql import functions as F

from operator_families.operators.range_join import (
    point_in_interval_join,
)


def _fixtures(spark):
    t = lambda h, m=0: dt.datetime(2026, 1, 1, h, m)
    points = spark.createDataFrame(
        [(1, t(0, 30)), (2, t(8)), (3, t(23, 59)), (4, t(12))],
        "pid bigint, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (10, t(0), t(1)),       # contains p1
            (11, t(0), t(23, 59)),  # long interval: spans many buckets
            (12, t(7), t(9)),       # contains p2
            (13, None, t(9)),       # NULL-bounded: never matches
        ],
        "iid bigint, start_time timestamp, end_time timestamp",
    )
    return points, intervals


def test_matches_theta_join_exactly_once(spark):
    points, intervals = _fixtures(spark)
    got = sorted(
        (r.pid, r.iid)
        for r in point_in_interval_join(
            points, intervals, "ts", "start_time", "end_time",
            bucket_minutes=60,
        ).collect()
    )
    want = sorted(
        (r.pid, r.iid)
        for r in points.join(
            intervals,
            (points.ts >= intervals.start_time)
            & (points.ts <= intervals.end_time),
        ).collect()
    )
    assert got == want
    assert len(got) == len(set(got))  # no duplicate emissions


def test_left_join_keeps_misses(spark):
    points, intervals = _fixtures(spark)
    out = point_in_interval_join(
        points, intervals, "ts", "start_time", "end_time",
        how="left", bucket_minutes=60,
    )
    rows = out.collect()
    # p4 (12:00) is only inside the long interval 11; every point matches
    # something here, so drop interval 11 to create a genuine miss
    out2 = point_in_interval_join(
        points,
        intervals.filter(F.col("iid") != 11),
        "ts", "start_time", "end_time", how="left", bucket_minutes=60,
    )
    by_pid = {}
    for r in out2.collect():
        by_pid.setdefault(r.pid, []).append(r.iid)
    assert by_pid[4] == [None] and by_pid[3] == [None]
    assert by_pid[1] == [10] and by_pid[2] == [12]
    assert len(rows) == points.join(
        intervals,
        (points.ts >= intervals.start_time) & (points.ts <= intervals.end_time),
    ).count()  # no misses when every point is covered


def test_left_join_null_point_columns_not_duplicated(spark):
    """A matched point carrying a NULL column must appear ONLY matched —
    null-rejecting anti equality used to emit it twice (ADVICE r02)."""
    points, intervals = _fixtures(spark)
    tagged = points.withColumn(
        "tag", F.when(F.col("pid") != 1, F.col("pid")).cast("long")
    )  # p1 (matched by interval 10) gets tag=NULL
    out = point_in_interval_join(
        tagged,
        intervals.filter(F.col("iid") != 11),
        "ts", "start_time", "end_time", how="left", bucket_minutes=60,
    )
    by_pid = {}
    for r in out.collect():
        by_pid.setdefault(r.pid, []).append(r.iid)
    assert by_pid[1] == [10]          # matched once, never null-padded
    assert by_pid[4] == [None]        # genuine miss with NULL tag path OK
    assert sum(len(v) for v in by_pid.values()) == 4


def test_left_join_duplicate_point_rows_kept_symmetrically(spark):
    """Identical duplicate point rows both match (or both miss) — the
    null-safe anti-join must not collapse them."""
    points, intervals = _fixtures(spark)
    doubled = points.union(points)
    out = point_in_interval_join(
        doubled,
        intervals.filter(F.col("iid") != 11),
        "ts", "start_time", "end_time", how="left", bucket_minutes=60,
    )
    by_pid = {}
    for r in out.collect():
        by_pid.setdefault(r.pid, []).append(r.iid)
    assert sorted(by_pid[1]) == [10, 10]
    assert by_pid[4] == [None, None]
