"""Lake maintenance and layout tools outside the daily rail pipeline:
bucketed tables, small-file compaction, parquet footer statistics and the
partitioned JSONL reader.  The operator-family gates and their tests use
them; ``SparkETLPipeline`` does not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nl_railtraffic_etl_pipeline_spark.schemas import RAW_DISRUPTION


def write_bucketed(
    df: DataFrame,
    table_name: str,
    keys: list[str],
    num_buckets: int = 32,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed+sorted managed table: the co-located-join storage layout.

    Two tables bucketed on the same keys into the same bucket count join
    with NO shuffle and NO sort — each task zips bucket i with bucket i
    (verified by plan assertion in tests).  This is how the repeated-join
    keys of the warehouse (disruption_id, station_code) avoid re-shuffling
    the fact table on every query at 100 TB; the upsert operators work
    unchanged since bucket layout is preserved under same-key rewrites.
    """
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, *keys)
        .sortBy(*keys)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)



def compact_partitions(
    spark,
    path: str,
    partition_cols: list[str],
    files_per_partition: int = 1,
    max_records_per_file: int | None = None,
) -> tuple[int, int]:
    """Small-file compaction of a partitioned parquet zone, atomically.

    The operational must-have of a streaming/daily-append lake at 100 TB:
    every micro-batch or daily run appends task-count files per partition
    directory, and a year later each day holds hundreds of KB-sized files
    that scan-time file listing and row-group overhead dominate.  This
    rewrites the zone so each partition directory holds
    ``files_per_partition`` files (``max_records_per_file`` caps size so a
    hot day still splits).

    Plan: one read -> one shuffle keyed on the partition tuple (plus a
    salt when ``files_per_partition > 1``), so each output directory is
    written by exactly its own tasks -> staged write with the same
    ``partitionBy`` -> the delete+rename swap ``pipeline._publish``
    uses (atomic on local/HDFS; a table format replaces the swap on
    rename-as-copy stores).  Data is byte-preserved — only file layout
    changes.  Returns (files_before, files_after).
    """
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()

    def _count_files(p: str) -> int:
        hp = jvm.org.apache.hadoop.fs.Path(p)
        fs = hp.getFileSystem(conf)
        if not fs.exists(hp):
            return 0
        it, n = fs.listFiles(hp, True), 0
        while it.hasNext():
            f = it.next().getPath().getName()
            if not f.startswith(("_", ".")):
                n += 1
        return n

    before = _count_files(path)
    df = spark.read.parquet(path)
    if files_per_partition > 1:
        salt = (F.abs(F.xxhash64(*df.columns)) % files_per_partition).alias(
            "_salt"
        )
        df = df.withColumn("_salt", salt).repartition(
            *partition_cols, "_salt"
        ).drop("_salt")
    else:
        df = df.repartition(*partition_cols)
    writer = df.write.mode("overwrite").partitionBy(*partition_cols)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    tmp = path.rstrip("/") + "__compact_stage"
    writer.parquet(tmp)

    hp_t = jvm.org.apache.hadoop.fs.Path(path)
    hp_s = jvm.org.apache.hadoop.fs.Path(tmp)
    fs = hp_t.getFileSystem(conf)
    # Hadoop reports many delete/rename failures by returning false, not
    # throwing (see sources.lake.replace) — check both.
    if fs.exists(hp_t) and not fs.delete(hp_t, True):
        raise IOError(f"compact: failed to delete {path}")
    if not fs.rename(hp_s, hp_t):
        raise IOError(f"compact: failed to promote {tmp} -> {path}")
    return before, _count_files(path)


def parquet_footer_stats(
    spark, path: str, columns: list[str]
):
    """Column-chunk statistics from the parquet FOOTER (no data scan):
    per requested column, (column, n_values, n_nulls, min_val, max_val)
    aggregated across row groups — min of chunk minima, max of maxima,
    summed counts.  The metadata plane a table format trusts for
    predicate pushdown; the gate's oracle recomputes the same numbers
    from the DATA, so a stale or wrong footer hash-mismatches.

    The footer read is a driver-side bounded metadata fetch (one footer,
    KBs) — the documented exception class next to the IVF-centroid
    artifact pattern; the result frame is |columns| rows.
    """
    import pyarrow.parquet as pq

    f = pq.ParquetFile(path)
    agg: dict[str, list] = {c: [0, 0, None, None] for c in columns}
    for rg in range(f.num_row_groups):
        meta = f.metadata.row_group(rg)
        for i in range(meta.num_columns):
            col = meta.column(i)
            name = col.path_in_schema
            if name not in agg or col.statistics is None:
                continue
            s = col.statistics
            a = agg[name]
            a[0] += s.num_values
            a[1] += s.null_count
            if s.has_min_max:
                a[2] = s.min if a[2] is None else min(a[2], s.min)
                a[3] = s.max if a[3] is None else max(a[3], s.max)
    rows = [
        (c, int(a[0]), int(a[1]),
         None if a[2] is None else int(a[2]),
         None if a[3] is None else int(a[3]))
        for c, a in agg.items()
    ]
    return spark.createDataFrame(
        rows,
        "column string, n_values long, n_nulls long,"
        " min_val long, max_val long",
    )


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Read a JSONL lake zone (one record per line, partition dirs ok),
    PERMISSIVE with a corrupt-record column — the Spark equivalent of the
    Glue SerDe's ``ignore.malformed.json`` tolerance."""
    return (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(RAW_DISRUPTION)
        .json(path)
    )
