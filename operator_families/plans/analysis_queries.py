"""r10 analysis gates: foreign-oracle string similarity, classical
hypothesis testing.

Each operator is oracle-gated:

- ``text_jaro_winkler``: blocked candidate pairs scored by a pure-Python
  Jaro-Winkler Arrow kernel (Spark has no built-in), hash-checked
  against DuckDB's NATIVE C++ ``jaro_winkler_similarity`` — two
  independent implementations of the published algorithm (validated
  bit-exact on 5000 random pairs), the utf8proc/NFC foreign-oracle
  pattern.
- ``stats_anova_f``: one-way ANOVA with a deterministic left-fold over
  sorted group stats for the one order-sensitive double reduction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

from .oracle_util import round_sql as _round_sql
from .registry import query

# ---------------------------------------------------------------------------
# Jaro-Winkler similarity over blocked candidate pairs
# (functions/fuzzy.py::blocked_text_pairs + jaro_winkler_pairs).  The
# blocking — (first token, token-count // 8) with blocks > 100 docs
# excluded deterministically on BOTH engines — bounds candidates by
# max_block * corpus; texts travel truncated to 64 chars so the O(n*m)
# match-window scan is constant per pair.  The oracle regenerates the
# same pairs in SQL and scores them with DuckDB's native
# jaro_winkler_similarity.
# ---------------------------------------------------------------------------
_JW_BUCKET, _JW_MAX_BLOCK, _JW_PREFIX = 8, 100, 64
_JW_TOKENS = "regexp_split_to_array(trim(lower(text)), '\\s+')"


@query(
    "text_jaro_winkler",
    f"""
WITH b AS (
    SELECT doc_id,
           substr(trim(lower(text)), 1, {_JW_PREFIX}) AS tx,
           {_JW_TOKENS}[1] AS w1,
           len({_JW_TOKENS}) // {_JW_BUCKET} AS lb
    FROM documents WHERE trim(lower(text)) <> ''
),
ok AS (
    SELECT w1, lb FROM b GROUP BY 1, 2
    HAVING COUNT(*) <= {_JW_MAX_BLOCK}
),
kept AS (SELECT b.* FROM b JOIN ok USING (w1, lb)),
pairs AS (
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           a.tx AS ta, c.tx AS tb
    FROM kept a JOIN kept c
      ON a.w1 = c.w1 AND a.lb = c.lb AND a.doc_id < c.doc_id
)
SELECT doc_a, doc_b,
       {_round_sql('jaro_winkler_similarity(ta, tb)', 6)} AS jw
FROM pairs
""",
)
def _text_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.fuzzy import blocked_text_pairs, jaro_winkler_pairs

    d = load_table(spark, sf_dir, "documents", spread=True)
    pairs = blocked_text_pairs(
        d,
        length_bucket=_JW_BUCKET,
        max_block=_JW_MAX_BLOCK,
        prefix_chars=_JW_PREFIX,
    )
    return jaro_winkler_pairs(pairs).select(
        "doc_a", "doc_b", F.round(F.col("jw"), 6).alias("jw")
    )


# ---------------------------------------------------------------------------
# Sharpened-block Jaro-Winkler (functions/fuzzy.py::
# blocked_text_pairs_sharp) — the r10 verdict's escape hatch made code:
# instead of EXCLUDING hot blocks (the base gate's fence, which
# degrades to a deterministic EMPTY answer at high occupancy), three
# deterministic tiers keep bounded candidates at any replication —
# (1) base blocks <= cap pair fully, (2) overflow re-blocks under
# (first token, bucket, SECOND token, exact token count), (3) sharp
# blocks still over the cap split round-robin by doc-id rank into
# ceil(n/cap) salt classes (each <= cap by construction).  The cap is
# 2 here so ALL tiers are live on the testdata (tier 3 at sf0.1); the
# oracle mirrors every tier pair-for-pair including the rank-salt
# window, and scores with DuckDB's native C++ jaro_winkler_similarity.
# The 100x probe (tools/probe_jw_100x.py --sharp) shows the m=100
# adversarial replication now yields non-empty, hard-bounded
# candidates where the base fence went silent.
# ---------------------------------------------------------------------------
_JWS_MAX_BLOCK = 2


@query(
    "text_jaro_winkler_sharp",
    f"""
WITH b AS (
    SELECT doc_id,
           substr(trim(lower(text)), 1, {_JW_PREFIX}) AS tx,
           {_JW_TOKENS}[1] AS w1,
           COALESCE({_JW_TOKENS}[2], '') AS w2,
           len({_JW_TOKENS}) AS tc,
           len({_JW_TOKENS}) // {_JW_BUCKET} AS lb
    FROM documents WHERE trim(lower(text)) <> ''
),
c1 AS (SELECT w1, lb, COUNT(*) AS n1 FROM b GROUP BY 1, 2),
t1 AS (SELECT b.* FROM b JOIN c1 USING (w1, lb)
       WHERE n1 <= {_JWS_MAX_BLOCK}),
o1 AS (SELECT b.* FROM b JOIN c1 USING (w1, lb)
       WHERE n1 > {_JWS_MAX_BLOCK}),
c2 AS (SELECT w1, lb, w2, tc, COUNT(*) AS n2 FROM o1 GROUP BY 1, 2, 3, 4),
t2 AS (SELECT o1.* FROM o1 JOIN c2 USING (w1, lb, w2, tc)
       WHERE n2 <= {_JWS_MAX_BLOCK}),
t3 AS (
    SELECT o1.*,
           (ROW_NUMBER() OVER (PARTITION BY o1.w1, o1.lb, o1.w2, o1.tc
                               ORDER BY o1.doc_id) - 1)
           % ((n2 + {_JWS_MAX_BLOCK} - 1) // {_JWS_MAX_BLOCK}) AS salt
    FROM o1 JOIN c2 USING (w1, lb, w2, tc) WHERE n2 > {_JWS_MAX_BLOCK}
),
pairs AS (
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, a.tx AS ta, c.tx AS tb,
           1 AS tier
    FROM t1 a JOIN t1 c
      ON a.w1 = c.w1 AND a.lb = c.lb AND a.doc_id < c.doc_id
    UNION ALL
    SELECT a.doc_id, c.doc_id, a.tx, c.tx, 2
    FROM t2 a JOIN t2 c
      ON a.w1 = c.w1 AND a.lb = c.lb AND a.w2 = c.w2 AND a.tc = c.tc
     AND a.doc_id < c.doc_id
    UNION ALL
    SELECT a.doc_id, c.doc_id, a.tx, c.tx, 3
    FROM t3 a JOIN t3 c
      ON a.w1 = c.w1 AND a.lb = c.lb AND a.w2 = c.w2 AND a.tc = c.tc
     AND a.salt = c.salt AND a.doc_id < c.doc_id
)
SELECT doc_a, doc_b,
       {_round_sql('jaro_winkler_similarity(ta, tb)', 6)} AS jw,
       CAST(tier AS INTEGER) AS tier
FROM pairs
""",
)
def _text_jaro_winkler_sharp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.fuzzy import blocked_text_pairs_sharp, jaro_winkler_pairs

    d = load_table(spark, sf_dir, "documents", spread=True)
    pairs = blocked_text_pairs_sharp(
        d,
        length_bucket=_JW_BUCKET,
        max_block=_JWS_MAX_BLOCK,
        prefix_chars=_JW_PREFIX,
    )
    return jaro_winkler_pairs(pairs).select(
        "doc_a", "doc_b", F.round(F.col("jw"), 6).alias("jw"), "tier"
    )


# ---------------------------------------------------------------------------
# Unrestricted Damerau-Levenshtein over the same blocked candidate
# pairs (functions/fuzzy.py::damerau_levenshtein_pairs).  Spark's
# built-in levenshtein has no transposition edit; the kernel implements
# the Lowrance-Wagner alphabet-indexed DP (a transposition may span
# intervening edits — dl('ca','abc') = 2, unlike OSA's 3) and the
# oracle is DuckDB's NATIVE C++ damerau_levenshtein — two independent
# implementations, integer-exact, so the hash pins every DP cell
# convention.  Blocking and scale shape identical to text_jaro_winkler.
# ---------------------------------------------------------------------------
@query(
    "text_damerau_levenshtein",
    f"""
WITH b AS (
    SELECT doc_id,
           substr(trim(lower(text)), 1, {_JW_PREFIX}) AS tx,
           {_JW_TOKENS}[1] AS w1,
           len({_JW_TOKENS}) // {_JW_BUCKET} AS lb
    FROM documents WHERE trim(lower(text)) <> ''
),
ok AS (
    SELECT w1, lb FROM b GROUP BY 1, 2
    HAVING COUNT(*) <= {_JW_MAX_BLOCK}
),
kept AS (SELECT b.* FROM b JOIN ok USING (w1, lb)),
pairs AS (
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           a.tx AS ta, c.tx AS tb
    FROM kept a JOIN kept c
      ON a.w1 = c.w1 AND a.lb = c.lb AND a.doc_id < c.doc_id
)
SELECT doc_a, doc_b,
       CAST(damerau_levenshtein(ta, tb) AS BIGINT) AS dl
FROM pairs
""",
)
def _text_damerau_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.fuzzy import (
        blocked_text_pairs,
        damerau_levenshtein_pairs,
    )

    d = load_table(spark, sf_dir, "documents", spread=True)
    pairs = blocked_text_pairs(
        d,
        length_bucket=_JW_BUCKET,
        max_block=_JW_MAX_BLOCK,
        prefix_chars=_JW_PREFIX,
    )
    return damerau_levenshtein_pairs(pairs).select("doc_a", "doc_b", "dl")


# ---------------------------------------------------------------------------
# One-way ANOVA F across event types (functions/stats.py::anova_f).  The
# oracle mirrors the strict left fold over sorted group stats with
# list_reduce over list(... ORDER BY event_type) so the k-term double
# accumulation is bit-identical; grand sums ride exact decimals.
# ---------------------------------------------------------------------------
ANOVA_ORACLE_SQL = """
WITH b AS (
    SELECT event_type, CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)) AS dv
    FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
),
g AS (
    SELECT event_type, COUNT(*) AS ng, SUM(dv) AS sg, SUM(dv * dv) AS ssg
    FROM b GROUP BY 1
),
r AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(ng) AS BIGINT) AS n,
           CAST(SUM(sg) AS DOUBLE) AS s,
           CAST(SUM(ssg) AS DOUBLE) AS ss,
           list_reduce(
               list_prepend(
                   CAST(0 AS DOUBLE),
                   list(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng
                        ORDER BY event_type)
               ),
               (x, y) -> x + y
           ) AS fold
    FROM g
)
SELECT k, n,
       ROUND(fold - s * s / n, 6) AS ssb,
       ROUND((ss - s * s / n) - (fold - s * s / n), 6) AS ssw,
       CASE WHEN k > 1 AND n > k
                 AND (ss - s * s / n) - (fold - s * s / n) > 0
            THEN ROUND(
                ((fold - s * s / n) / (k - 1))
                / (((ss - s * s / n) - (fold - s * s / n)) / (n - k)), 9)
       END AS f_stat
FROM r
"""


@query("stats_anova_f", ANOVA_ORACLE_SQL)
def _stats_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import anova_f

    e = load_table(spark, sf_dir, "events", spread=True)
    return anova_f(e, "event_type", "value")

