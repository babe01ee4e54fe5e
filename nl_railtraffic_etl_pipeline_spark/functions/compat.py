"""Dialect shims: SQLite/Postgres expression semantics as Spark columns.

The DataFrame roll-up (``operators/rollup.py``) needs three of the
reference's SQLite constructs: the ``%H`` hour, an exact AVG and the CSV
station unnest.  These helpers build them from native Spark expressions
(JVM whole-stage codegen — no UDFs).  The Q1-Q6 text in
``plans/sql_queries.py`` spells the same constructs in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["hour_bucket", "exact_avg", "csv_unnest"]


def hour_bucket(ts: Column) -> Column:
    """SQLite ``STRFTIME('%H', ts)``: zero-padded hour string '00'..'23'."""
    return F.date_format(ts, "HH")


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
