"""Change-log (CDC) snapshot operator."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_cdc_log(
    log: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    seq_col: str,
    op_col: str = "op",
    payload_cols: Sequence[str] = (),
    delete_op: str = "D",
) -> DataFrame:
    """Materialize the LATEST SNAPSHOT from an insert/update/delete change
    log: per key, the most recent operation wins; keys whose last
    operation is a delete are absent from the snapshot.

    The set-based form of a CDC-consumer's apply loop (the reference
    replays per-row INSERT/UPDATE statements, src/storage/db_writer.py —
    this generalizes upsert_latest_wins with delete semantics).
    ``(ts_col, seq_col)`` must totally order each key's operations
    (``seq_col`` breaks timestamp ties, e.g. a log sequence number).

    Skew-immune by construction: the per-key winner is
    ``max(struct(ts, seq, op, payload...))`` — a partial-aggregated
    groupBy, so a whale key ships one candidate row per map task instead
    of sorting its history in one window task.  One key shuffle total.
    """
    keys = list(key_cols)
    winner = F.max(
        F.struct(
            F.col(ts_col).alias("_ts"),
            F.col(seq_col).alias("_seq"),
            F.col(op_col).alias("_op"),
            *[F.col(c).alias(f"_p_{c}") for c in payload_cols],
        )
    ).alias("_w")
    snap = log.groupBy(*keys).agg(winner).filter(
        F.col("_w._op") != delete_op
    )
    return snap.select(
        *keys,
        F.col("_w._ts").alias(ts_col),
        F.col("_w._seq").alias(seq_col),
        F.col("_w._op").alias(op_col),
        *[F.col(f"_w._p_{c}").alias(c) for c in payload_cols],
    )
