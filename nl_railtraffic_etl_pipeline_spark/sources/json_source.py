"""JSON payload readers: archived NS payloads and driver-side record lists.

Maps the reference's ingest surface onto native Spark readers (SURVEY §2.1):

- S1 fallback / tests: archived payload files (pretty-printed JSON arrays,
  the reference's ``data/raw/disruptions_*.json``) -> ``read_payload``.
- a live REST fetch already on the driver -> ``payload_from_records``.

Both read with ``RAW_DISRUPTION``, the fields the cleaner reads, so the
frame they return is parsed-only: every other key of the payload is
skipped.  Both read PERMISSIVE with a corrupt-record column — the Spark
equivalent of the Glue SerDe's ``ignore.malformed.json`` tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import RAW_DISRUPTION


def read_payload(spark: SparkSession, path: str) -> DataFrame:
    """Read archived NS payload files (JSON array of nested records)."""
    return (
        spark.read.option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(RAW_DISRUPTION)
        .json(path)
    )


def payload_from_records(spark: SparkSession, records: list[dict]) -> DataFrame:
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
    )
