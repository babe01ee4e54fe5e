"""Lake-format gate over the synthetic tables: partition pruning on a
date-partitioned lake.  The lake lives under /tmp (wiped per invocation) —
gate harness state, never under the repo or testdata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

from .registry import query


import os as _os  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
# ---------------------------------------------------------------------------
# Partition-pruned lake scan: events written partitionBy(day), read back
# with a one-week day predicate — the predicate must become a
# PartitionFilter (directories never listed), which the plan guard
# asserts; this gate proves the pruned read is also CORRECT vs the
# unpartitioned oracle.
# ---------------------------------------------------------------------------
@query(
    "lake_partition_pruning",
    """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(24,10)))
                  AS DOUBLE), 4) AS total_value
FROM events
WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
  AND CAST(ts AS DATE) <= DATE '2024-01-14'
GROUP BY 1, 2
""",
)
def _lake_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/spark_graft_part_gate_{_os.getpid()}/{base}"
    if not _os.path.exists(path):
        ev = load_table(spark, sf_dir, "events", spread=True).withColumn(
            "day", F.to_date("ts").cast("string")
        )
        ev.write.mode("overwrite").partitionBy("day").parquet(path)
    back = spark.read.parquet(path).filter(
        (F.col("day") >= "2024-01-08") & (F.col("day") <= "2024-01-14")
    )
    return back.groupBy("day", "event_type").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("string").cast("decimal(24,10)"))
            .cast("double"),
            4,
        ).alias("total_value"),
    )

