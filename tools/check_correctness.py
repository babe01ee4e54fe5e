"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column names,
and an order-insensitive value hash (columns sorted by name, rows sorted,
values canonicalized).  Usage:

    python tools/check_correctness.py [--json OUT.json] [sf_dir] [query ...]

``--json`` additionally writes per-query records in the driver's
CORRECTNESS_r{N}.json schema (rows_match / schema_match / hash_match /
spark_rows / oracle_rows / err) so registry runs are committable,
machine-auditable evidence rather than prose claims.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os
import sys
import time

import duckdb

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def canon(v) -> str:
    if isinstance(v, decimal.Decimal):
        # The driver's canonicalization of DECIMAL values differs from
        # str() (the r7 hash-fail class: ml_feature_hashing & co. passed
        # here but failed the driver).  Raw DECIMAL output columns are
        # driver-UNSAFE, period — fail loudly so the local harness
        # predicts the driver instead of masking the defect.
        raise ValueError(
            "raw DECIMAL output value reached the output boundary — "
            "cast to DOUBLE (registry output-type contract): " + str(v)
        )
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        # The driver's canonicalizer (pandas sort_values over all columns)
        # crashes on list-valued cells — proven by text_encode_tokens going
        # driver-RED in r9.  Array outputs must be serialized at the gate
        # boundary (array_join / array_to_string); fail loudly so the local
        # harness predicts the driver instead of masking the defect.
        raise ValueError(
            "array-valued output reached the gate boundary — the driver "
            "canonicalizer cannot sort list columns; serialize with "
            "array_join/array_to_string: " + repr(v)[:80]
        )
    return str(v)


def table_sig(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), h


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    while args and args[0].startswith("--"):
        if args[0] == "--json":
            json_out = args[1]
            args = args[2:]
        else:
            raise SystemExit(f"unknown flag {args[0]}")
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    import __spark_entry__ as e
    from nl_railtraffic_etl_pipeline_spark.session import get_spark

    spark = get_spark("correctness-check", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    records: dict[str, dict] = {}
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        rec = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        records[name] = rec
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            sn, sh = table_sig(scols, srows)
            rec["spark_rows"] = sn
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            rec["err"] = f"spark: {ex}"
            failures.append(name)
            continue
        if name not in oracles:
            print(f"OK?   {name}: rows={sn} (no oracle — rows-only check) "
                  f"[{time.time()-t0:.1f}s]")
            rec.update(rows_match=sn >= 0, schema_match=None,
                       hash_match=None, err="no oracle (rows-only)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            on, oh = table_sig(ocols, orows)
            rec["oracle_rows"] = on
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            rec["err"] = f"duckdb: {ex}"
            failures.append(name)
            continue
        rec.update(
            schema_match=sorted(scols) == sorted(ocols),
            rows_match=sn == on,
            hash_match=sh == oh,
        )
        if not rec["schema_match"]:
            print(f"FAIL  {name}: columns differ spark={sorted(scols)} "
                  f"oracle={sorted(ocols)}")
            failures.append(name)
        elif not rec["rows_match"]:
            print(f"FAIL  {name}: rowcount spark={sn} oracle={on}")
            failures.append(name)
        elif not rec["hash_match"]:
            print(f"FAIL  {name}: hash mismatch (rows={sn})")
            _diff(scols, srows, ocols, orows)
            failures.append(name)
        else:
            print(f"PASS  {name}: rows={sn} hash={sh} [{time.time()-t0:.1f}s]")

    if json_out:
        with open(json_out, "w", encoding="utf-8") as fh:
            json.dump(records, fh, indent=2)
        print(f"wrote {json_out}")
    print(f"\n{n_run - len(failures)}/{n_run} passed"
          + (f"; FAILED: {failures}" if failures else ""))
    return 1 if failures else 0


def _diff(scols, srows, ocols, orows, k: int = 3) -> None:
    """Print the first few differing canonical rows for debugging."""
    so = sorted(range(len(scols)), key=lambda i: scols[i])
    oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
    sl = sorted("|".join(canon(r[i]) for i in so) for r in srows)
    ol = sorted("|".join(canon(r[i]) for i in oo) for r in orows)
    shown = 0
    for a, b in zip(sl, ol):
        if a != b:
            print(f"      cols : {[scols[i] for i in so]}")
            print(f"      spark: {a}\n      duck : {b}")
            shown += 1
            if shown >= k:
                break


if __name__ == "__main__":
    sys.exit(main())
