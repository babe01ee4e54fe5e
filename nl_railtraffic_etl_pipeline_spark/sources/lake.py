"""The lake's per-run file sinks: the raw archive and the CSV snapshot.

Maps the reference's file sinks (SURVEY §2.1 S2-S5) onto Spark's native
output formats.  Its raw archive (S2/S3) and the JSONL copy for Athena
(S4) become one date-partitioned JSON-lines archive; the cleaned batch's
CSV snapshot (S5) stays one file.  The Hive-style ``year/month/day`` S3
layout the reference assembles by hand (api_client.py:119,160) is Spark's
``partitionBy`` — which also buys partition pruning on every downstream
date-filtered read, the same access path the Glue partition projection
provides (athena/main.tf:35-48).

At 100 TB: date partitioning bounds each daily write to its own directory,
and readers prune to the queried days.

``hadoop_path`` and ``replace`` are the FileSystem primitives that the CSV
snapshot's BOM re-head and the pipeline's zone swap share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_date_partitions(df: DataFrame, ts_col: str = "fetched_at") -> DataFrame:
    """Add string year/month/day partition columns from a timestamp column.

    Zero-padded to match the reference's key format '%Y/%m/%d'
    (api_client.py:119) and the Glue partition values.
    """
    return (
        df.withColumn("year", F.date_format(ts_col, "yyyy"))
        .withColumn("month", F.date_format(ts_col, "MM"))
        .withColumn("day", F.date_format(ts_col, "dd"))
    )


def write_raw_archive(df: DataFrame, path: str) -> None:
    """S2/S3/S4: archive the verbatim payload as date-partitioned JSON lines.

    ``df`` is the extract's frame (``SparkETLPipeline.extract``): each
    record's ``raw_json`` string is archived BYTE-VERBATIM — the
    reference's archive contract (api_client.py:105-110) — with its
    ``fetched_at`` run stamp, which also names the partition.  The
    Athena/Glue external table reads this same archive.
    """
    (
        with_date_partitions(df.select("raw_json", "fetched_at"))
        .write.mode("append")
        .partitionBy("year", "month", "day")
        .json(path)
    )


def hadoop_path(spark, path: str):
    """``path`` as a Hadoop ``(FileSystem, Path)`` pair, for any scheme
    (``file://``, ``hdfs://``, ``s3a://``)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def replace(fs, src, dst) -> None:
    """Move ``src`` onto ``dst``, deleting ``dst`` first if it exists.

    Hadoop FileSystem reports many delete/rename failures by returning
    false, not throwing; a silent false would leave ``dst`` deleted or
    half-replaced while the caller still reports success.
    """
    if fs.exists(dst) and not fs.delete(dst, True):
        raise IOError(f"failed to delete {dst}")
    if not fs.rename(src, dst):
        raise IOError(f"failed to rename {src} -> {dst}")


def write_csv_snapshot(df: DataFrame, path: str) -> None:
    """S5: single-file CSV snapshot of the cleaned frame (pipeline.py:103-110).

    coalesce(1) deliberately: snapshot fidelity over parallelism, exactly the
    reference's one-file-per-run contract.  Not for big outputs.

    The file starts with the UTF-8 BOM — the reference writes
    ``encoding='utf-8-sig'`` (pipeline.py:109) so Excel-bound consumers get
    the byte-identical file head.  Spark's CSV writer has no BOM option;
    the single part file is re-headed through the Hadoop FileSystem API
    (scheme-agnostic, and the snapshot is one small file by contract).
    """
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    spark = df.sparkSession
    hconf = spark._jsc.hadoopConfiguration()
    fs, root = hadoop_path(spark, path)
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if not (name.startswith("part-") and name.endswith(".csv")):
            continue
        src = status.getPath()
        tmp = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/_bom_{name}")
        out = fs.create(tmp, True)
        out.write(bytearray(b"\xef\xbb\xbf"))
        # copyBytes(close=True) closes both streams.
        spark._jvm.org.apache.hadoop.io.IOUtils.copyBytes(fs.open(src), out, hconf, True)
        replace(fs, tmp, src)
