"""Dialect shims: SQLite/Postgres expression semantics as Spark columns.

The DataFrame roll-ups (``operators/rollup.py``) need two of the
reference's SQLite constructs: the ``%H`` hour and an exact AVG.  These
helpers build them from native Spark expressions (JVM whole-stage codegen —
no UDFs).  The Q1-Q6 text in ``plans/sql_queries.py`` spells the same
constructs in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["hour_bucket", "exact_avg"]


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

