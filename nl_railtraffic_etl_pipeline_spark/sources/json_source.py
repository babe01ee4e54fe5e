"""JSON payload readers: archived NS payloads and driver-side record lists.

Maps the reference's ingest surface onto native Spark readers (SURVEY §2.1):

- S1 fallback / tests: archived payload files (pretty-printed JSON arrays,
  the reference's ``data/raw/disruptions_*.json``) -> ``read_payload``.
- a live REST fetch already on the driver -> ``payload_from_records``.

Both read with ``RAW_DISRUPTION``, the fields the cleaner reads, so the
frame they return is parsed-only: every other key of the payload is
skipped.  Both read PERMISSIVE with a corrupt-record column — the Spark
equivalent of the Glue SerDe's ``ignore.malformed.json`` tolerance — and
add the run stamp as the ``fetched_at`` column ``clean`` reads.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import RAW_DISRUPTION


def read_payload(spark: SparkSession, path: str, run_ts: _dt.datetime) -> DataFrame:
    """Read archived NS payload files (JSON array of nested records)."""
    return (
        spark.read.option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(RAW_DISRUPTION)
        .json(path)
        .withColumn("fetched_at", F.lit(run_ts))
    )


def payload_from_records(
    spark: SparkSession, records: list[dict], run_ts: _dt.datetime
) -> DataFrame:
    """Driver-side list[dict] (e.g. a live REST fetch) -> typed DataFrame.

    The schema-tolerant twin of the reference's ``pd.DataFrame(raw_data)``
    (cleaners.py:42): unknown keys are dropped, missing keys become null.
    """
    import json

    sc = spark.sparkContext
    rdd = sc.parallelize([json.dumps(r) for r in records])
    return (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(RAW_DISRUPTION)
        .json(rdd)
        .withColumn("fetched_at", F.lit(run_ts))
    )
