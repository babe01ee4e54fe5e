"""Explicit StructTypes for the engine's data model.

The reference is schema-tolerant at ingest (pandas infers dtypes, so every
cleaning step guards on column presence) and schema-fixed at the warehouse
(reference ``src/storage/schema.sql:7-57``).  Here the raw NS payload has a
declared schema instead: ``RAW_DISRUPTION`` names the nested paths the
cleaner reads and nothing else, so the cleaner needs no presence guards and
the JSON reader skips every other key.  Malformed records are tolerated by
PERMISSIVE reads into ``_corrupt_record``.  The cleaned table and the
station dimension are flat typed schemas.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _stations(code: str) -> T.StructField:
    """A ``stations`` array of which only the ``code`` field is read."""
    return T.StructField(
        "stations", T.ArrayType(T.StructType([T.StructField(code, T.StringType())]))
    )


#: Raw NS /disruptions payload (JSON array element): exactly the fields the
#: cleaner reads (functions/cleaning.py).  Undeclared keys are skipped by
#: the JSON reader, so a change to the cleaner's inputs is one edit here.
RAW_DISRUPTION = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("start", T.StringType()),
        T.StructField("end", T.StringType()),
        # Declared station extraction, strategy 1 (cleaners.py:186-195).
        T.StructField("section", T.StructType([_stations("uicCode")])),
        # Strategy 2 (cleaners.py:197-210).
        T.StructField(
            "timespans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "situation", T.StructType([_stations("stationCode")])
                        )
                    ]
                )
            ),
        ),
        # Filled by the PERMISSIVE readers for a malformed record.
        T.StructField("_corrupt_record", T.StringType()),
    ]
)

#: Cleaned warehouse table (schema.sql:15-35).
CLEAN_DISRUPTION = T.StructType(
    [
        T.StructField("disruption_id", T.StringType(), nullable=False),
        T.StructField("type", T.StringType(), nullable=False),
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("start_time", T.TimestampType()),
        T.StructField("end_time", T.TimestampType()),
        T.StructField("duration_minutes", T.DoubleType()),
        T.StructField("impact_level", T.IntegerType()),
        T.StructField("affected_stations", T.StringType()),
        T.StructField("is_resolved", T.BooleanType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)

#: Station dimension (schema.sql:38-45).
STATIONS = T.StructType(
    [
        T.StructField("station_code", T.StringType(), nullable=False),
        T.StructField("station_name", T.StringType(), nullable=False),
        T.StructField("country", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("last_updated", T.TimestampType()),
    ]
)
