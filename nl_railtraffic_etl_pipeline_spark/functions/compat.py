"""Dialect shims: SQLite/Postgres expression semantics as Spark columns.

The reference ships its analytics as SQLite-dialect SQL
(``/root/reference/src/transformation/aggregators.py``); these helpers map
each non-ANSI construct onto native Spark expressions (JVM whole-stage
codegen — no UDFs anywhere).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "sqlite_dow",
    "hour_bucket",
    "julianday_minutes",
    "safe_div",
    "exact_avg",
    "csv_unnest",
    "day_name",
]


def sqlite_dow(ts: Column) -> Column:
    """SQLite ``STRFTIME('%w', ts)``: day-of-week '0'=Sunday..'6'=Saturday.

    Spark ``dayofweek`` is 1=Sunday..7=Saturday (ref: aggregators.py:186).
    """
    return (F.dayofweek(ts) - 1).cast("string")


def hour_bucket(ts: Column) -> Column:
    """SQLite ``STRFTIME('%H', ts)``: zero-padded hour string '00'..'23'."""
    return F.date_format(ts, "HH")


def julianday_minutes(start: Column, end: Column) -> Column:
    """SQLite ``(julianday(end) - julianday(start)) * 1440`` as double minutes.

    Epoch subtraction keeps sub-minute precision (ref: aggregators.py:234-236).
    """
    return (F.unix_timestamp(end) - F.unix_timestamp(start)) / 60.0


def safe_div(num: Column, den: Column) -> Column:
    """``num / NULLIF(den, 0)`` (ref: aggregators.py:162,284)."""
    return num / F.nullif(den, F.lit(0))


def exact_avg(col: Column) -> Column:
    """Order-independent AVG of a double expression.

    ``AVG(double)`` sums in partition order, so two engines (or two runs at
    different parallelism) can disagree in the last ulps — which flips
    ``ROUND`` at a half boundary and breaks cross-engine hash parity.
    Quantizing each value to DECIMAL(24,6) makes the sum exact and
    associative; the final divide is a single deterministic double op.  The
    DuckDB oracle twin is
    ``CAST(SUM(CAST(x AS DECIMAL(24,6))) AS DOUBLE) / COUNT(x)``.
    """
    d = col.cast("decimal(24,6)")
    return F.sum(d).cast("double") / F.count(d)


def csv_unnest(csv: Column) -> Column:
    """The reference's ``json_each('["' || REPLACE(csv,',','","') || '"]')``
    CSV-to-rows unnest (aggregators.py:73-77), as an explode-able array.

    Matches its semantics exactly: ``split`` on an empty string yields a
    single empty-string element (the json_each wrapping produces the same),
    and NULL input produces no rows only because callers guard with
    ``IS NOT NULL`` — exactly as the reference does.
    """
    return F.explode(F.split(csv, ","))


def day_name(dow: Column) -> Column:
    """CASE day-number ('0'=Sunday) -> English day name (aggregators.py:195-200)."""
    mapping = {
        "0": "Sunday",
        "1": "Monday",
        "2": "Tuesday",
        "3": "Wednesday",
        "4": "Thursday",
        "5": "Friday",
        "6": "Saturday",
    }
    col = None
    for k, v in mapping.items():
        col = F.when(dow == k, v) if col is None else col.when(dow == k, v)
    return col
