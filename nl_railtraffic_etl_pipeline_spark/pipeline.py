"""End-to-end batch ETL: the Spark rebuild of ``ETLPipeline.run``.

Mirrors the reference's four stages (pipeline.py:52-79) with DataFrames as
the only IR (SURVEY §3.1):

    extract   payload read on the driver -> raw DataFrame, checkpointed
    transform the reference's 6 cleaning steps as one projection
              (functions/cleaning.py)
    load      idempotent upserts into a parquet lake (operators/upsert.py)
              and the daily roll-up of the merged clean zone
    report    one-row aggregate (operators/rollup.py), observed on the
              clean-zone write

After the extract a run has ONE sink phase: the station seed, the load and
the per-run artifacts touch disjoint paths, so they run at once.  The load
stages every zone it rewrites next to the live one and publishes them only
after every stage write has succeeded.

The extract's checkpoint is the one Spark job a run spends before that
phase, and it stays: the sinks share the extracted frame, and without the
checkpoint the optimizer folds the cleaner's projection over the in-memory
payload on the driver, once per concurrent sink, and those concurrent folds
corrupted station lists (``extract``).

The lake layout is the reference warehouse's four tables
(reference ``src/storage/schema.sql:7-57``) as parquet zones:

    <lake>/raw_disruptions/   (disruption_id, raw_json, fetched_at)
    <lake>/disruptions/       cleaned 12-column table
    <lake>/stations/          6-row seed dimension (schema.sql:79-86)
    <lake>/daily_stats/       per-date roll-up, rebuilt each run

All path probing and swaps go through the Hadoop FileSystem API, so the
same code runs against ``file://``, ``hdfs://`` or ``s3a://`` lakes (a
local ``os.path`` check would silently report remote zones as absent and
overwrite them with the bare batch).
"""

from __future__ import annotations

import datetime as _dt
import json
import logging
from concurrent.futures import Future, ThreadPoolExecutor, wait

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.cleaning import clean
from .operators.rollup import build_daily_stats, report_metrics, run_report
from .operators.upsert import insert_ignore, upsert_latest_wins
from .schemas import CLEAN_DISRUPTION, RAW_DISRUPTION, STATIONS
from .sources.lake import (
    hadoop_path,
    replace,
    write_csv_snapshot,
    write_raw_archive,
)

logger = logging.getLogger(__name__)

#: The reference's station seed (schema.sql:79-86), country default 'NL'
#: (schema.sql:41).
SEED_STATIONS = [
    ("ASD", "Amsterdam Centraal", "NL", 52.3791, 4.9003),
    ("UTR", "Utrecht Centraal", "NL", 52.0894, 5.1101),
    ("RTD", "Rotterdam Centraal", "NL", 51.9249, 4.4690),
    ("EHV", "Eindhoven Centraal", "NL", 51.4433, 5.4814),
    ("GVC", "Den Haag Centraal", "NL", 52.0808, 4.3247),
    ("LEDN", "Leiden Centraal", "NL", 52.1664, 4.4817),
]


def _results(*futures: Future) -> list:
    """Results of concurrent stages, once every one has finished.

    A single failure re-raises unchanged; when several stages fail, all
    of their errors travel together in one ``ExceptionGroup`` instead of
    all but the first being dropped.
    """
    wait(futures)
    errors = [f.exception() for f in futures if f.exception() is not None]
    if len(errors) == 1:
        raise errors[0]
    if errors:
        raise ExceptionGroup("concurrent pipeline stages failed", errors)
    return [f.result() for f in futures]


class SparkETLPipeline:
    """extract -> transform -> load -> report over a parquet lake."""

    def __init__(self, spark: SparkSession, lake_path: str):
        self.spark = spark
        self.lake = lake_path.rstrip("/")

    def _exists(self, path: str) -> bool:
        fs, hpath = hadoop_path(self.spark, path)
        return fs.exists(hpath)

    # -- stage 1: extract ---------------------------------------------------
    def extract(self, payload_path: str) -> DataFrame | None:
        """Payload -> parsed frame CARRYING the verbatim record string, or
        None when no record has an id.

        The payload is one bounded API response, so it is read on the
        driver, as the reference's client does (api_client.py:63).  Each
        record keeps the string the reference's raw zone stores
        (``json.dumps(item, ensure_ascii=False)``, reference
        pipeline.py:151), after the falsy-id skip (pipeline.py:147-149);
        the typed columns the cleaner consumes are a ``from_json`` over that
        same string with ``RAW_DISRUPTION``, which declares only the fields
        the cleaner reads, so raw-zone archiving never re-serializes.

        The frame is checkpointed: it feeds the raw-zone merge, the
        clean-zone merge and the archive writer, which run as concurrent
        actions.  Over the bare in-memory relation the optimizer would fold
        the cleaner's projection on the driver once per action
        (``ConvertToLocalRelation``), and those concurrent folds of its
        higher-order functions gave one record another record's station
        list; over the checkpoint each action scans plain rows.
        """
        with open(payload_path, encoding="utf-8") as fh:
            records = json.load(fh)
        ids, raw_json = [], []
        for rec in records:
            rid = rec.get("id")
            if rid in (None, ""):
                continue
            ids.append(str(rid))
            raw_json.append(json.dumps(rec, ensure_ascii=False))
        if not ids:
            return None
        rows = self.spark.createDataFrame(pa.table({"id": ids, "raw_json": raw_json}))
        parsed = F.from_json("raw_json", RAW_DISRUPTION).alias("_rec")
        fields = [f"_rec.{name}" for name in RAW_DISRUPTION.fieldNames() if name != "id"]
        return (
            rows.select("id", "raw_json", parsed)
            .select("id", "raw_json", *fields)
            .coalesce(1)
            .localCheckpoint(eager=True)
        )

    # -- stage 2: transform -------------------------------------------------
    def transform(self, raw: DataFrame, run_ts: _dt.datetime) -> DataFrame:
        return clean(raw, run_ts)

    def _recover_zone(self, name: str) -> None:
        """Finish an interrupted publish: a crash between delete and rename
        leaves the zone absent with the complete staged copy on disk —
        promote it.  (An orphaned stage NEXT TO a live zone is a crashed
        write before the publish began; the fresh write's overwrite
        replaces it, so only the target-missing case needs action.)"""
        path, tmp = f"{self.lake}/{name}", f"{self.lake}/{name}__stage"
        if not self._exists(path) and self._exists(tmp):
            logger.warning("recovering zone %s from staged copy", name)
            self._publish(name)

    # -- stage 3: load ------------------------------------------------------
    def _read_zone(self, name: str, schema: T.StructType) -> DataFrame:
        """The live zone, read with its declared schema (an inferred read
        costs one more Spark job), or an empty frame before the first run."""
        self._recover_zone(name)
        path = f"{self.lake}/{name}"
        if self._exists(path):
            return self.spark.read.schema(schema).parquet(path)
        return self.spark.createDataFrame([], schema)

    def load(self, raw: DataFrame, cleaned: DataFrame, run_ts: _dt.datetime) -> dict:
        """Idempotent load: insert-ignore raw zone, latest-wins clean zone
        and the ``daily_stats`` roll-up of the merged clean zone.

        ``raw`` is the extract's frame: the raw zone stores its VERBATIM
        record string (``raw_json``).  The run report rides the clean-zone
        write as observed metrics, so it needs no read of its own.
        """
        raw_rows = raw.select(
            F.col("id").alias("disruption_id"),
            "raw_json",
            F.lit(run_ts).alias("fetched_at"),
        )
        raw_existing = self._read_zone("raw_disruptions", raw_rows.schema)
        # raw_json is the within-batch tiebreak: dropDuplicates alone would
        # keep an arbitrary survivor, breaking raw-zone reproducibility.
        merged_raw = insert_ignore(
            raw_existing, raw_rows, ["disruption_id"], order_col="raw_json"
        )
        clean_existing = self._read_zone("disruptions", CLEAN_DISRUPTION)
        merged_clean = upsert_latest_wins(
            clean_existing, cleaned, ["disruption_id"], "updated_at"
        )
        staged = self._commit({
            "raw_disruptions": (merged_raw,),
            "disruptions": (merged_clean, *report_metrics(run_ts.date())),
            "daily_stats": (build_daily_stats(merged_clean, run_ts),),
        })
        report = staged["disruptions"].get
        return {
            "raw_total": staged["raw_disruptions"].get["rows"],
            "clean_total": report.pop("rows"),
            "daily_stats_total": staged["daily_stats"].get["rows"],
            "report": report,
        }

    def _lake_totals(self, run_ts: _dt.datetime) -> dict:
        """What ``load`` returns, for the lake as it stands: the live zones'
        row counts and the report for ``run_ts``'s date.  Reads only, so a
        run that extracts nothing writes nothing; before the first run
        every zone reads empty."""

        def rows(name: str) -> int:
            return self._read_zone(name, T.StructType()).count()

        return {
            "raw_total": rows("raw_disruptions"),
            "clean_total": rows("disruptions"),
            "daily_stats_total": rows("daily_stats"),
            "report": self.report(run_ts.date()).first().asDict(),
        }

    def ensure_stations(self, run_ts: _dt.datetime) -> int:
        """Seed the station dimension, ``INSERT ... ON CONFLICT DO NOTHING``
        semantics (schema.sql:79-86): existing rows win, new codes append.

        When the zone already holds every seed code the merge result is
        byte-identical to the existing zone, so the rewrite is skipped —
        the reference's ON CONFLICT DO NOTHING never rewrites the table
        either.  The probe is one collect of the zone's codes, compared
        with the seed on the driver (returns 0, meaning "no rows written";
        the return value has no consumers)."""
        existing = self._read_zone("stations", STATIONS)
        codes = {row.station_code for row in existing.select("station_code").collect()}
        if codes.issuperset(code for code, *_ in SEED_STATIONS):
            return 0
        seed = self.spark.createDataFrame(
            [(*row, run_ts) for row in SEED_STATIONS], STATIONS
        )
        staged = self._commit(
            {"stations": (insert_ignore(existing, seed, ["station_code"]),)}
        )
        return staged["stations"].get["rows"]

    def _commit(self, zones: dict[str, tuple]) -> dict[str, Observation]:
        """Stage every zone concurrently, then publish them all.

        ``zones`` maps a zone name to its new contents and any extra
        ``observe`` metrics (see ``_stage``).  Every merged plan's lineage
        reads the CURRENT zone files (parquet reads are lazy), and one
        zone's new contents may be built from another's (``daily_stats``
        from the merged clean zone), so no publish starts before every
        stage write has finished.  A failed stage write deletes this
        commit's stage dirs before re-raising: left behind, a complete
        stage next to a never-published zone would look like a crashed
        publish to ``_recover_zone``.
        """
        with ThreadPoolExecutor(max_workers=len(zones)) as pool:
            futures = [
                pool.submit(self._stage, name, *args) for name, args in zones.items()
            ]
            try:
                staged = _results(*futures)
            except BaseException:
                for name in zones:
                    fs, stage = hadoop_path(self.spark, f"{self.lake}/{name}__stage")
                    if fs.exists(stage) and not fs.delete(stage, True):
                        raise IOError(f"failed to delete {stage}")
                raise
        for name in zones:
            self._publish(name)
        return dict(zip(zones, staged))

    def _stage(self, name: str, df: DataFrame, *metrics: Column) -> Observation:
        """Write ``df`` ONCE to ``<zone>__stage``.  The row count (and any
        further ``metrics``) rides along as an ``observe`` metric, no
        second read."""
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows"), *metrics).write.mode(
            "overwrite"
        ).parquet(f"{self.lake}/{name}__stage")
        return obs

    def _publish(self, name: str) -> None:
        """Swap the staged zone in: two filesystem metadata ops (delete +
        rename; atomic on local/HDFS).  A crash between them leaves the
        complete staged copy on disk for ``_recover_zone`` (``__stage`` is
        only ever removed by the rename or a failed commit).  On
        rename-as-copy stores (S3A) a table format (Delta/Iceberg) replaces
        this swap; the call sites would not change."""
        fs, target = hadoop_path(self.spark, f"{self.lake}/{name}")
        _, stage = hadoop_path(self.spark, f"{self.lake}/{name}__stage")
        replace(fs, stage, target)

    # -- per-run side-effect artifacts --------------------------------------
    def write_run_artifacts(
        self, raw: DataFrame, cleaned: DataFrame, run_ts: _dt.datetime
    ) -> dict:
        """The reference's per-run side effects (reference pipeline.py:103-110,
        api_client.py:90-171), as lake artifacts:

        - ``archive/raw/``    S2/S3/S4: date-prefixed verbatim raw archive.
          The record string is carried byte-verbatim from the DataSource
          (never re-serialized) under the same ``YYYY/MM/DD`` layout the
          reference assembles by hand for S3.  It is already date-partitioned
          JSON lines, so the Athena/Glue external table points at it: the
          reference's separate JSONL copy (S4) exists only because its raw
          archive is a pretty-printed array.
        - ``processed/cleaned_<ts>/`` S5: single-file CSV snapshot of the
          cleaned batch with the UTF-8 BOM (``utf-8-sig``) for Excel-bound
          consumers.
        """
        stamp = run_ts.strftime("%Y%m%d_%H%M%S")
        paths = {
            "archive_raw": f"{self.lake}/archive/raw",
            "csv_snapshot": f"{self.lake}/processed/cleaned_{stamp}",
        }
        write_raw_archive(raw, paths["archive_raw"], run_ts)
        write_csv_snapshot(cleaned, paths["csv_snapshot"])
        return paths

    # -- stage 4: report ----------------------------------------------------
    def report(self, as_of_date=None) -> DataFrame:
        return run_report(self._read_zone("disruptions", CLEAN_DISRUPTION), as_of_date)

    # -- orchestration ------------------------------------------------------
    def run(
        self,
        payload_path: str,
        run_ts: _dt.datetime | None = None,
        artifacts: bool = True,
    ) -> dict:
        run_ts = run_ts or _dt.datetime.now(_dt.timezone.utc)
        # The extract is one checkpoint job, and it must stay one: the sinks
        # below read it concurrently, and over the bare in-memory payload
        # their concurrent driver-side folds mixed up station lists (see
        # ``extract``).  Its emptiness is known on the driver, no job.
        raw = self.extract(payload_path)
        if raw is None:
            logger.warning("no data extracted; stopping run")
            return self._lake_totals(run_ts)
        cleaned = self.transform(raw, run_ts)
        # One sink phase: the station seed, the load (which also yields
        # daily_stats and the report) and the artifacts write disjoint
        # paths and read only the checkpointed extract and the live zones,
        # so all of them are submitted at once and the scheduler overlaps
        # their jobs (guide §2.6) instead of idling through serial commit
        # waits.  In the reference the archives belong to extract and the
        # CSV snapshot to transform, both before load.
        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [
                pool.submit(self.ensure_stations, run_ts),
                pool.submit(self.load, raw, cleaned, run_ts),
            ]
            if artifacts:
                futures.append(
                    pool.submit(self.write_run_artifacts, raw, cleaned, run_ts)
                )
            _, stats, *written = _results(*futures)
        if written:
            stats["artifacts"] = written[0]
        return stats
