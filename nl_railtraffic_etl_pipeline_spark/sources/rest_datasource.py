"""Spark 4 Python Data Source for the NS disruptions endpoint (S1).

``spark.read.format("ns_disruptions")`` — the Spark-native form of the
driver-side REST fetch (sources/rest_source.py): the payload surfaces as the
RAW-ZONE shape (id, raw_json, fetched_at), one row per record, and the
nested parse is a downstream ``from_json(raw_json, RAW_DISRUPTION)`` of just
the fields the cleaner reads; the verbatim string keeps every other key for
the raw zone and the archive.

Options:
- ``payload_path``: read an archived payload file instead of the network
  (tests, replays — the reference's own archive files work verbatim).
- ``url`` / ``api_key``: live fetch with the reference's retry policy.
- ``fetched_at``: ISO timestamp to stamp (defaults to now; inject for
  deterministic runs).

A single-partition source by design — the payload is one ~125-record HTTP
response; downstream repartitioning fans it out.
"""

from __future__ import annotations

import datetime as _dt
import json

from pyspark.sql.datasource import DataSource, DataSourceReader
from pyspark.sql.types import StructType

RAW_ZONE_DDL = "id string, raw_json string, fetched_at timestamp"


class DisruptionsRestDataSource(DataSource):
    """``format("ns_disruptions")`` — raw-zone rows from payload or REST."""

    @classmethod
    def name(cls) -> str:
        return "ns_disruptions"

    def schema(self) -> str:
        return RAW_ZONE_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return _DisruptionsReader(self.options)


class _DisruptionsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options

    def read(self, partition):
        opts = self.options
        stamp = (
            _dt.datetime.fromisoformat(opts["fetched_at"])
            if "fetched_at" in opts
            else _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        )
        if "payload_path" in opts:
            with open(opts["payload_path"], encoding="utf-8") as fh:
                records = json.load(fh)
        else:
            from .rest_source import DEFAULT_URL, fetch_disruptions

            records = fetch_disruptions(
                api_key=opts.get("api_key", ""),
                url=opts.get("url") or DEFAULT_URL,
            )
        for rec in records:
            rid = rec.get("id")
            if rid in (None, ""):
                continue  # falsy-id skip, pipeline.py:147-149
            yield (str(rid), json.dumps(rec, ensure_ascii=False), stamp)


def register(spark) -> None:
    """Idempotently register the data source with a session."""
    spark.dataSource.register(DisruptionsRestDataSource)
