"""Idempotent set-based upsert operators.

The reference loads row-at-a-time with per-row conflict handling:
``INSERT ... ON CONFLICT DO NOTHING`` for the raw zone (pipeline.py:157-172)
and SELECT-exists -> UPDATE-else-INSERT with savepoint isolation for the
cleaned zone (pipeline.py:184-298).  Spark-first equivalents are set-based —
one anti-join or one window dedup per batch, shuffling only on the key:

- ``insert_ignore``     = S6 / J5: keep existing rows, append only new keys.
- ``upsert_latest_wins``= S7 / J4: new batch replaces matching keys; within a
  batch the deterministic winner is row_number() by ``order_col`` desc
  (SURVEY §7.3.11 — arrival order is not reproducible distributed).

Both satisfy the reference's idempotence contract (README.md:37):
``load(load(X)) == load(X)`` — property-tested in tests/test_upsert.py.

At scale: these are key-partitioned shuffles; with a bucketed/Delta table the
same call sites swap to storage-side MERGE without touching callers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_batch(
    batch: DataFrame, keys: Sequence[str], order_col: str | None = None
) -> DataFrame:
    """Deterministic within-batch dedup: latest by order_col, else any-one.

    ``dropDuplicates`` picks an arbitrary survivor; with ``order_col`` (a
    column name) the survivor is the row per key with its greatest value.
    """
    if order_col is None:
        return batch.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def insert_ignore(
    existing: DataFrame, batch: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """``INSERT OR IGNORE`` semantics: existing rows win, new keys append.

    Among batch rows sharing a key the survivor is engine-arbitrary, so
    the pipeline hands in key-unique batches: the extract keeps one record
    per id and the station seed one row per code.
    """
    new_rows = dedup_batch(batch, keys).join(
        existing.select(*keys), list(keys), "left_anti"
    )
    return existing.unionByName(new_rows)


def upsert_latest_wins(
    existing: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    order_col: str,
) -> DataFrame:
    """UPDATE-else-INSERT semantics: the batch replaces matching keys.

    Implemented as priority-tagged union + one window dedup — a single
    shuffle on the key, no driver round-trips.
    """
    tagged = existing.select(batch.columns).withColumn(
        "_prio", F.lit(0)
    ).unionByName(batch.withColumn("_prio", F.lit(1)))
    w = Window.partitionBy(*keys).orderBy(
        F.desc("_prio"), F.desc(order_col)
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_prio")
    )
