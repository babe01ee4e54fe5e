"""Registry-wide driver-safe output-type guard.

The r7 driver round proved that raw DECIMAL output columns hash-fail at
the driver's canonicalization even when the values are equal (the
``ml_feature_hashing`` / ``ml_churn_labels`` /
``events_period_decomposition`` / ``ml_temporal_split`` episode —
exactly the gates whose FINAL schema carried DECIMAL, all four
rows+schema-green but hash-red).  The repo-wide contract is therefore:
decimal math stays INTERNAL; every gate's output boundary is one of the
driver-verified types below, on BOTH the Spark plan and the DuckDB
oracle.  This test walks the full registry and freezes that invariant
so the class can't recur.
"""

from __future__ import annotations

import decimal

import duckdb
import pytest

from nl_railtraffic_etl_pipeline_spark.plans.registry import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Driver-verified output types — scalars ONLY.  The r9 driver run
# falsified the prior "array<int> is canonicalization-stable" assumption:
# text_encode_tokens errored at the driver with pandas sort_values
# "unhashable type: 'list'".  Array-valued results must be serialized at
# the gate boundary (array_join / array_to_string — the text_chunks
# pattern).  DECIMAL remains the proven hash-fail class;
# FLOAT/BINARY/STRUCT/MAP have never been driver-exercised.
SPARK_ALLOW = {
    "bigint", "int", "double", "string", "date", "timestamp", "boolean",
}
DUCK_ALLOW = {
    "BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "DATE", "TIMESTAMP",
    "BOOLEAN",
}


def test_spark_output_schemas_are_driver_safe(spark):
    """Every gate's FINAL Spark schema uses driver-safe types only."""
    bad: list[str] = []
    for name, fn in QUERIES.items():
        df = fn(spark, SF_DIR)
        for f in df.schema.fields:
            s = f.dataType.simpleString()
            if s not in SPARK_ALLOW:
                bad.append(f"{name}.{f.name}: {s}")
    assert not bad, (
        "driver-UNSAFE Spark output column types (decimal outputs "
        "hash-fail at the driver — cast to double at the boundary): "
        + "; ".join(bad)
    )


def test_oracle_output_types_are_driver_safe():
    """Every oracle's DuckDB LIMIT-0 schema uses driver-safe types only."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    bad: list[str] = []
    for name, sql in ORACLES.items():
        rel = con.sql(f"SELECT * FROM ({sql}) LIMIT 0")
        for col, typ in zip(rel.columns, [str(t) for t in rel.types]):
            if typ.split("(")[0] not in DUCK_ALLOW:
                bad.append(f"{name}.{col}: {typ}")
    assert not bad, (
        "driver-UNSAFE oracle output column types (decimal outputs "
        "hash-fail at the driver — CAST(... AS DOUBLE) at the boundary): "
        + "; ".join(bad)
    )


def test_local_canon_rejects_decimal():
    """The local harness must flag DECIMAL outputs loudly — in r7 it
    str()'d them and passed 4 gates the driver failed."""
    from check_correctness import canon

    with pytest.raises(ValueError, match="DECIMAL"):
        canon(decimal.Decimal("1.5"))
    assert canon(1.5) == "1.5"
    assert canon(None) == "NULL"
