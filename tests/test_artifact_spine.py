"""Multi-SF artifact-lookup spine regression (ADVICE r9, low #2).

The zlib-compression and BPE-reference oracles join a process-global
lookup parquet published by a driver-local reference sweep.  Before r10
the lookup path was keyed only by pid, so running a SECOND scale factor
overwrote the first SF's reference data — re-evaluating the earlier SF's
oracle silently compared against the wrong corpus.  The fix publishes
per-corpus rows keyed by a content fingerprint (total UTF-8 byte mass;
doc COUNT is not unique — sf0.001 and sf0.01 both hold 500 docs) and the
oracle selects its own SF's rows.  This test runs both SFs in ONE
process and asserts the first SF's oracle is still exact afterwards.
"""

from __future__ import annotations

import duckdb


TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def _oracle(sql: str, sf_dir: str) -> list[str]:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return sorted(map(str, con.execute(sql).fetchall()))


def _spark_rows(df) -> list[str]:
    return sorted(map(str, (tuple(r) for r in df.collect())))


def test_artifact_lookup_survives_second_scale_factor(spark):
    from operator_families.plans.registry import ORACLES as oracles
    from operator_families.plans.registry import QUERIES as qs

    for name in (
        "text_compression_ratio",
        "text_bpe_encode",
        # ADVICE r10: the isotonic PAV spine was keyed by n_events (a
        # row count that can collide across SFs); now a content
        # fingerprint (sum of h32 scores) like the zlib/BPE spines.
        "ml_isotonic_calibration",
    ):
        a1 = _spark_rows(qs[name](spark, SF_A))   # publishes SF_A rows
        b1 = _oracle(oracles[name], SF_A)
        assert a1 == b1, f"{name}: sf0.001 mismatch"
        a2 = _spark_rows(qs[name](spark, SF_B))   # publishes SF_B rows
        b2 = _oracle(oracles[name], SF_B)
        assert a2 == b2, f"{name}: sf0.01 mismatch"
        # the hazard: SF_A's oracle re-evaluated AFTER SF_B published to
        # the same process-global path must still see SF_A's reference
        assert _oracle(oracles[name], SF_A) == b1, (
            f"{name}: first SF's oracle diverged after second SF publish"
        )
