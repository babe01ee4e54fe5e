"""SparkSession factory.

The reference pipeline delegates execution to SQLite/PostgreSQL/Athena; here
the single engine is Spark, so session configuration is the engine
configuration.  Defaults are chosen for correctness-first local runs but keep
every knob that matters on a real cluster:

- UTC session timezone (the reference normalizes all timestamps to UTC,
  ``src/transformation/cleaners.py:94``).
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic broadcast — the mechanisms that keep the same plans healthy at
  100 TB without re-tuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _driver_memory() -> str:
    """A quarter of physical memory, at least 1g: the local-mode driver is
    the whole engine, and a heap larger than the machine fails to commit
    once a second JVM runs beside it."""
    physical_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, physical_mb // 4)}m"


def get_spark(
    app_name: str = "nl_railtraffic_etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dimension tables (stations, nation, region) stay far under this;
        # Catalyst then plans broadcast joins with no shuffle of the fact side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_memory()))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
