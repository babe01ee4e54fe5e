"""salted_join: result-equivalence with the plain join under heavy skew."""

import pytest
from pyspark.sql import functions as F

from operator_families.operators.skew import salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # 10k rows, 90% on one key — the shape AQE skew-split targets, built
    # deterministically.
    fact = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1))
        .otherwise(F.col("id") % 100)
        .alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(100).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
    )
    return fact, dim


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
def test_salted_join_matches_plain(spark, skewed, how):
    fact, dim = skewed
    got = salted_join(fact, dim, ["k"], salt=8, how=how)
    want = fact.join(dim, ["k"], how)
    assert got.columns == want.columns
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_salted_join_rejects_right(spark, skewed):
    fact, dim = skewed
    with pytest.raises(ValueError):
        salted_join(fact, dim, ["k"], how="right")


def test_salted_join_splits_identical_duplicate_rows(spark):
    """A hot key whose rows are byte-identical must still scatter across
    salts (a whole-row hash would give every copy the same salt), and map
    columns must not break the salt expression."""
    fact = spark.range(8_000).select(
        F.lit(1).alias("k"),
        F.lit("same").alias("payload"),
        F.create_map(F.lit("a"), F.lit(1)).alias("props"),  # unhashable type
    )
    dim = spark.createDataFrame([(1, "d1")], "k bigint, name string")
    salted = fact.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(8))
    )
    assert salted.select("_salt").distinct().count() > 1

    got = salted_join(fact, dim, ["k"], salt=8)
    assert got.count() == 8_000
    assert got.select("name").distinct().collect()[0].name == "d1"
