"""Shared oracle-dialect helpers usable from any plans module without
import-order coupling (plans modules import each other only through the
registry's bottom-of-file registration imports)."""

from __future__ import annotations


def round_sql(expr: str, digits: int) -> str:
    """DuckDB ROUND with Spark's double semantics: bridge the value
    through its shortest-roundtrip decimal image so half-boundary rounds
    agree (see plans/registry.py docstring, 'ROUND over a raw double')."""
    return (
        f"CAST(ROUND(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(38,20)), "
        f"{digits}) AS DOUBLE)"
    )

