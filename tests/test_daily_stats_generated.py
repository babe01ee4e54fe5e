"""``build_daily_stats`` against a Spark-free roll-up, over generated rows.

The clean rows are ``perfbench/oracle.clean_record`` of
``perfbench/payloads.PayloadGenerator`` batches over several days, plus
hand-made rows for what the generator never draws: ``''`` station elements,
null durations and a day without station lists.  ``rollup`` restates the
``daily_stats`` columns (schema.sql:48-57) in plain Python, and the Spark
roll-up must equal it on every date.
"""

import datetime as dt
import decimal
from collections import Counter, defaultdict

import pytest
from oracle import clean_record
from payloads import PayloadGenerator

from nl_railtraffic_etl_pipeline_spark.operators.rollup import build_daily_stats
from nl_railtraffic_etl_pipeline_spark.schemas import CLEAN_DISRUPTION

DAYS = [dt.date(2026, 2, 9) + dt.timedelta(days=i) for i in range(5)]
RUN_TS = dt.datetime(2026, 2, 14, 6, tzinfo=dt.timezone.utc)
#: Days none of the generated batches touches.
STATIONLESS_DAY, TIE_DAY = dt.date(2026, 2, 20), dt.date(2026, 2, 21)


def _mode(counts: Counter):
    """``mode(..., deterministic=True)``: the most frequent value, ties to
    the lowest; None when there is nothing to count."""
    return min(counts, key=lambda v: (-counts[v], v)) if counts else None


def _tied(counts: Counter) -> bool:
    top = counts.most_common(1)[0][1] if counts else 0
    return sum(1 for c in counts.values() if c == top) > 1


def rollup(rows: list[tuple]) -> tuple[dict, set[str]]:
    """date -> the six aggregate columns, and the edge cases the rows drew."""
    days = defaultdict(list)
    for row in rows:
        if row[4] is not None:
            days[row[4].date()].append(row)
    out, seen = {}, set()
    for day, rs in days.items():
        durations = [r[6] for r in rs if r[6] is not None]
        avg = None
        if durations:
            q = decimal.Decimal("0.000001")
            total = sum(
                decimal.Decimal(repr(d)).quantize(q, decimal.ROUND_HALF_UP)
                for d in durations
            )
            avg = float(total) / len(durations)
        stations = Counter(s for r in rs if r[8] is not None for s in r[8].split(","))
        hours = Counter(f"{r[4].hour:02d}" for r in rs)
        peak = _mode(hours)
        out[day] = (
            len(rs),
            sum(r[1] == "cancellation" for r in rs),
            avg,
            int(max(durations)) if durations else None,
            _mode(stations),
            int(peak),
        )
        seen |= {
            "multi-station row" for r in rs if r[8] and "," in r[8].strip(",")
        } | {"'' element" for r in rs if r[8] is not None and "" in r[8].split(",")}
        seen |= {"null list" for r in rs if r[8] is None}
        seen |= {"cancellation" for r in rs if r[1] == "cancellation"}
        seen |= {"null duration" for r in rs if r[6] is None}
        if not stations:
            seen.add("station-less day")
        if _tied(stations):
            seen.add("station tie")
        if _tied(hours):
            seen.add("hour tie")
    return out, seen


def _hand_rows() -> list[tuple]:
    """Clean rows in ``CLEAN_COLUMNS`` order for what generated payloads
    never produce."""
    stamp = RUN_TS.replace(tzinfo=None)

    def row(rid, day, hour, stations, kind="disruption", minutes=30.0):
        start = dt.datetime.combine(day, dt.time(hour, 15))
        return (rid, kind, "Handmatig", None, start, start, minutes, 3,
                stations, False, stamp, stamp)

    return [
        # '' alone and as the first element of a list
        row("h1", DAYS[0], 8, ""),
        row("h2", DAYS[0], 8, ",GVC"),
        # a NULL duration, as the cleaner gives a negative span
        row("h3", DAYS[1], 22, "UTR", kind="cancellation", minutes=None),
        # a day without station lists: NULL station, hours 23 twice
        row("h4", STATIONLESS_DAY, 23, None),
        row("h5", STATIONLESS_DAY, 23, None, kind="cancellation"),
        row("h6", STATIONLESS_DAY, 1, None, minutes=None),
        # ASD and UTR tie at two each -> ASD; hours 10 and 09 tie -> 9
        row("h7", TIE_DAY, 10, "UTR,ASD"),
        row("h8", TIE_DAY, 9, "ASD,UTR"),
    ]


def test_daily_stats_matches_python_rollup(spark):
    rows = []
    for seed in (1, 2, 3):
        records = PayloadGenerator(seed).batch(200, DAYS, [])
        rows += [clean_record(rec, RUN_TS) for rec in records if rec.get("id")]
    rows += _hand_rows()
    want, seen = rollup(rows)

    utc = dt.timezone.utc
    aware = [
        tuple(v.replace(tzinfo=utc) if isinstance(v, dt.datetime) else v for v in r)
        for r in rows
    ]
    got = {
        r["date"]: r
        for r in build_daily_stats(
            spark.createDataFrame(aware, CLEAN_DISRUPTION), RUN_TS
        ).collect()
    }
    assert sorted(got) == sorted(want)
    for day, (total, cancels, avg, longest, station, peak) in want.items():
        r = got[day]
        assert (
            r["total_disruptions"], r["total_cancellations"],
            r["max_duration_minutes"], r["most_affected_station"], r["peak_hour"],
        ) == (total, cancels, longest, station, peak), day
        assert r["avg_duration_minutes"] == pytest.approx(avg, rel=1e-12), day
        assert r["calculated_at"].astimezone(utc) == RUN_TS
    assert seen == {
        "multi-station row", "'' element", "null list", "station-less day",
        "cancellation", "null duration", "station tie", "hour tie",
    }
