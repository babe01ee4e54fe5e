"""Model-evaluation and data-drift gate queries (functions/mleval.py +
functions/text.py::lm_score): exact rank-based ROC AUC, reliability
bins + ECE, two-period categorical drift, and the bigram-LM corpus
quality score.

The reference (``/root/reference/src``) ships no model-QA layer; these
are SURVEY.md §2.12 engine extensions — the offline-eval half of the
ml_* family.  Every oracle mirrors the exact-BIGINT-until-one-division
contract, so all four gates are full rows+schema+hash matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

from ..functions.mleval import auc_roc, calibration_report, categorical_drift
from ..functions.text import hash32, lm_score
from .oracle_util import round_sql as _r
from .registry import query

_H32_SQL = "CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)"
_DENOM = 2**32


@query(
    "ml_auc_roc",
    f"""
WITH base AS (
    SELECT CAST(isodow(CAST(ts AS DATE)) AS INTEGER) AS iso_dow,
           value AS s,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events
    WHERE value IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
),
by_score AS (
    SELECT iso_dow, s, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(y) AS BIGINT) AS pos
    FROM base GROUP BY 1, 2
),
cum AS (
    SELECT iso_dow, cnt, pos,
           CAST(COALESCE(SUM(cnt) OVER (
               PARTITION BY iso_dow ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS cumb
    FROM by_score
),
g AS (
    SELECT iso_dow,
           CAST(SUM(pos * (2 * cumb + cnt + 1)) AS BIGINT) AS spos2,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(cnt - pos) AS BIGINT) AS n_neg
    FROM cum GROUP BY 1
)
SELECT iso_dow, n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
           {_r("CAST(spos2 - n_pos * (n_pos + 1) AS DOUBLE)"
               " / CAST(2 * n_pos * n_neg AS DOUBLE)", 9)}
       END AS auc
FROM g
""",
)
def _auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected AUC of `value` predicting purchase, per ISO
    day-of-week segment — the rank-sum identity over the distinct-score
    frame (never per-row ranks; see functions/mleval.py)."""
    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    base = ev.select(
        (F.weekday(F.to_date("ts")) + 1).cast("int").alias("iso_dow"),
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return auc_roc(base, ["iso_dow"], "score", "label")


CALIBRATION_ORACLE_SQL = f"""
WITH base AS (
    SELECT {_H32_SQL} AS s,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events WHERE event_type IS NOT NULL
),
b AS (
    SELECT CAST(floor(s * 10 / {_DENOM}) AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS pos,
           CAST(SUM(s) AS BIGINT) AS sum_s
    FROM base GROUP BY 1
),
t AS (
    SELECT CAST(SUM(n) AS BIGINT) AS total_n,
           CAST(SUM(ABS(pos * {_DENOM} - sum_s)) AS BIGINT) AS gap_total
    FROM b
)
SELECT bin, n, pos,
       {_r("CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)", 9)} AS accuracy,
       {_r(f"CAST(sum_s AS DOUBLE) / CAST(n * {_DENOM} AS DOUBLE)", 9)}
           AS confidence,
       ABS(pos * {_DENOM} - sum_s) AS abs_gap_num,
       {_r(f"CAST(gap_total AS DOUBLE) / CAST({_DENOM} * total_n AS DOUBLE)", 9)}
           AS ece,
       total_n
FROM b, t
"""


@query("ml_calibration_ece", CALIBRATION_ORACLE_SQL)
def _calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability bins + ECE over the md5-contract pseudo-score (an
    uncalibrated-by-construction scorer: the gate proves the exact
    arithmetic, not model quality — a real model plugs in any integer-
    quantized score column)."""
    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull()
    )
    base = ev.select(
        hash32(F.col("event_id").cast("string")).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return calibration_report(base, "score", "label", n_bins=10, denom=_DENOM)


DRIFT_ORACLE_SQL = f"""
WITH base AS (
    SELECT event_type AS bucket, CAST(ts AS DATE) AS d FROM events
    WHERE event_type IS NOT NULL AND ts IS NOT NULL
),
bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM base),
flagged AS (
    SELECT bucket,
           CASE WHEN d >= d0 + CAST(floor(date_diff('day', d0, d1) / 2)
                               AS INTEGER)
                THEN 1 ELSE 0 END AS period
    FROM base, bounds
),
c AS (
    SELECT bucket,
           CAST(SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_a,
           CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_b
    FROM flagged GROUP BY 1
),
t AS (
    SELECT CAST(SUM(cnt_a) AS BIGINT) AS na,
           CAST(SUM(cnt_b) AS BIGINT) AS nb
    FROM c
),
p AS (
    SELECT bucket, cnt_a, cnt_b,
           {_r("CAST(cnt_a * 100 AS DOUBLE) / CAST(na AS DOUBLE)", 9)}
               AS share_a_pct,
           {_r("CAST(cnt_b * 100 AS DOUBLE) / CAST(nb AS DOUBLE)", 9)}
               AS share_b_pct,
           ABS(cnt_a * nb - cnt_b * na) AS abs_d,
           {_r("CAST(cnt_a * nb - cnt_b * na AS DOUBLE)"
               " * CAST(cnt_a * nb - cnt_b * na AS DOUBLE)"
               " / CAST((cnt_a + cnt_b) * na * nb AS DOUBLE)", 9)}
               AS chi2_bucket,
           na, nb
    FROM c, t
),
g AS (
    SELECT CAST(SUM(abs_d) AS BIGINT) AS sum_abs_d,
           SUM(CAST(CAST(chi2_bucket AS VARCHAR) AS DECIMAL(38,20)))
               AS chi2_sum
    FROM p
)
SELECT bucket, cnt_a, cnt_b, share_a_pct, share_b_pct, chi2_bucket,
       {_r("CAST(sum_abs_d AS DOUBLE) / CAST(2 * na * nb AS DOUBLE)", 9)}
           AS tvd,
       {_r("CAST(chi2_sum AS DOUBLE)", 9)} AS chi2_total
FROM p, g
"""


@query("ml_drift_report", DRIFT_ORACLE_SQL)
def _drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type mix drift between the first and second half of the
    observed date range: per-bucket shares + exact TVD + chi-square
    homogeneity (the transcendental-free PSI stand-in)."""
    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    base = ev.select(
        F.col("event_type").alias("bucket"), F.to_date("ts").alias("d")
    )
    bounds = base.agg(F.min("d").alias("_d0"), F.max("d").alias("_d1"))
    flagged = base.crossJoin(F.broadcast(bounds)).select(
        "bucket",
        (
            F.col("d")
            >= F.date_add(
                F.col("_d0"),
                F.floor(F.datediff("_d1", "_d0") / 2).cast("int"),
            )
        )
        .cast("int")
        .alias("period"),
    )
    return categorical_drift(flagged, "bucket", "period")


@query(
    "text_lm_score",
    f"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
    FROM documents
),
uni AS (SELECT unnest(w) AS w1 FROM toks),
c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM uni GROUP BY 1),
v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vs FROM c1),
pw AS (
    SELECT doc_id,
           unnest([{{'w1': w[i], 'w2': w[i+1]}}
                   for i in range(1, len(w))]) AS g
    FROM toks WHERE len(w) >= 2
),
pairs AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM pw),
c2 AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
    FROM pairs GROUP BY 1, 2
),
scored AS (
    SELECT pairs.doc_id,
           CAST(CAST(CAST(c2.c2 + 1 AS DOUBLE)
                     / CAST(c1.c1 + v.vs AS DOUBLE) AS VARCHAR)
                AS DECIMAL(38,20)) AS p
    FROM pairs
    JOIN c2 USING (w1, w2)
    JOIN c1 USING (w1)
    CROSS JOIN v
),
agg AS (
    SELECT doc_id, SUM(p) AS sum_p, CAST(COUNT(*) AS BIGINT) AS n_bigrams
    FROM scored GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(a.n_bigrams, 0) AS n_bigrams,
       {_r("CAST(a.sum_p AS DOUBLE) / CAST(a.n_bigrams AS DOUBLE)", 9)}
           AS mean_p
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
""",
)
def _lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM quality score per document (exactness-
    adapted arithmetic-mean probability; see functions/text.py::lm_score
    for the geometric/perplexity relationship)."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    return lm_score(d, "text", "doc_id")


# ---------------------------------------------------------------------------
# PR curve at every integer threshold (functions/mleval.py::pr_curve):
# precision / recall / F1 from descending cumulative sums over the
# distinct-threshold frame — the PR companion of ml_auc_roc, same
# exact-BIGINT contract (F1 via the harmonic identity 2*tp/(pp + P)).
# ---------------------------------------------------------------------------
@query(
    "ml_pr_curve",
    f"""
WITH base AS (
    SELECT CAST(floor(value) AS BIGINT) AS threshold,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
),
by_s AS (
    SELECT threshold, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(y) AS BIGINT) AS pos
    FROM base GROUP BY 1
),
cum AS (
    SELECT threshold,
           CAST(SUM(cnt) OVER (ORDER BY threshold DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS pp,
           CAST(SUM(pos) OVER (ORDER BY threshold DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS tp
    FROM by_s
),
t AS (SELECT CAST(SUM(pos) AS BIGINT) AS p_total FROM by_s)
SELECT threshold, tp, pp - tp AS fp, p_total - tp AS fn,
       {_r("CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE)", 9)} AS precision,
       {_r("CAST(tp AS DOUBLE) / CAST(p_total AS DOUBLE)", 9)} AS recall,
       {_r("CAST(2 * tp AS DOUBLE) / CAST(pp + p_total AS DOUBLE)", 9)}
           AS f1
FROM cum, t
""",
)
def _pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.mleval import pr_curve

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    base = ev.select(
        F.floor("value").alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return pr_curve(base, "score", "label")


# ---------------------------------------------------------------------------
# Stratified ATE (functions/mleval.py::stratified_ate): does signing up
# "cause" purchasing, controlling for the user's first-activity weekday?
# Subclassification estimator — within-stratum treatment share IS the
# propensity score; all arithmetic exact BIGINT cross products, the
# cross-stratum total an exact decimal sum of single-division terms.
# ---------------------------------------------------------------------------
@query(
    "ml_ipw_ate",
    f"""
WITH u AS (
    SELECT user_id,
           CAST(isodow(MIN(CAST(ts AS DATE))) AS INTEGER) AS stratum,
           MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS treat,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS outcome
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1
),
agg AS (
    SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(treat) AS BIGINT) AS n_treat,
           CAST(SUM(CASE WHEN treat = 1 THEN outcome ELSE 0 END)
                AS BIGINT) AS y_treat,
           CAST(SUM(CASE WHEN treat = 0 THEN outcome ELSE 0 END)
                AS BIGINT) AS y_control
    FROM u GROUP BY 1
),
agg2 AS (SELECT *, n - n_treat AS n_control FROM agg),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM agg2),
per AS (
    SELECT stratum, n, n_treat, n_control, y_treat, y_control,
           {_r("CAST(n_treat AS DOUBLE) / CAST(n AS DOUBLE)", 9)}
               AS p_score,
           CASE WHEN n_treat > 0 AND n_control > 0 THEN
               {_r("CAST(y_treat * n_control - y_control * n_treat"
                   " AS DOUBLE) / CAST(n_treat * n_control AS DOUBLE)", 9)}
           END AS ate_stratum,
           CASE WHEN n_treat > 0 AND n_control > 0 THEN
               CAST(n * (y_treat * n_control - y_control * n_treat)
                    AS DOUBLE)
               / CAST(n_total * n_treat * n_control AS DOUBLE)
           END AS contrib,
           n_total
    FROM agg2, t
),
g AS (
    SELECT SUM(CAST(CAST(contrib AS VARCHAR) AS DECIMAL(38,20)))
        AS ate_sum
    FROM per
)
SELECT stratum, n, n_treat, n_control, y_treat, y_control, p_score,
       ate_stratum,
       {_r("CAST(ate_sum AS DOUBLE)", 9)} AS ate_total,
       n_total
FROM per, g
""",
)
def _ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.mleval import stratified_ate

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        (F.weekday(F.min(F.to_date("ts"))) + 1)
        .cast("int")
        .alias("stratum"),
        F.max((F.col("event_type") == "signup").cast("int")).alias("treat"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "outcome"
        ),
    )
    return stratified_ate(u, "stratum", "treat", "outcome")


# ---------------------------------------------------------------------------
# Smoothed target encoding (functions/mleval.py::target_encode): encode
# the (event_type, iso_dow) category by its high-value-event rate,
# shrunk toward the global rate with pseudo-count weight 10 — every
# emitted rate a single division of exact BIGINT cross products.
# ---------------------------------------------------------------------------
@query(
    "ml_target_encoding",
    f"""
WITH base AS (
    SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS INTEGER) AS iso_dow,
           CASE WHEN value > 100 THEN 1 ELSE 0 END AS y
    FROM events
    WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
agg AS (
    SELECT event_type, iso_dow, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS sum_y
    FROM base GROUP BY 1, 2
),
t AS (
    SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(sum_y) AS BIGINT) AS yy
    FROM agg
)
SELECT event_type, iso_dow, n, sum_y,
       {_r("CAST(sum_y AS DOUBLE) / CAST(n AS DOUBLE)", 9)} AS raw_rate,
       {_r("CAST(sum_y * nn + 10 * yy AS DOUBLE)"
           " / CAST(nn * (n + 10) AS DOUBLE)", 9)} AS encoded,
       {_r("CAST(yy AS DOUBLE) / CAST(nn AS DOUBLE)", 9)} AS global_rate
FROM agg, t
""",
)
def _target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.mleval import target_encode

    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    base = ev.select(
        "event_type",
        (F.weekday(F.to_date("ts")) + 1).cast("int").alias("iso_dow"),
        (F.col("value") > 100).cast("int").alias("label"),
    )
    return target_encode(base, ["event_type", "iso_dow"], "label", 10)


# ---------------------------------------------------------------------------
# Group-fairness report: selection rate / TPR / FPR per (synthetic)
# demographic group plus the demographic-parity and equalized-odds
# gaps — the model-governance readout.  Every rate is one division of
# exact BIGINT confusion-cell counts; the gaps subtract the UNROUNDED
# single-division doubles (deterministic values), rounding at emission.
# ---------------------------------------------------------------------------
@query(
    "ml_fairness_report",
    f"""
WITH base AS (
    SELECT user_id % 3 AS grp,
           CASE WHEN value > 100 THEN 1 ELSE 0 END AS pred,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events
    WHERE user_id IS NOT NULL AND value IS NOT NULL
      AND event_type IS NOT NULL
),
cells AS (
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pred) AS BIGINT) AS pred_pos,
           CAST(SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS tn
    FROM base GROUP BY 1
),
rates AS (
    SELECT grp, n, pred_pos, tp, fn, fp, tn,
           CAST(pred_pos AS DOUBLE) / CAST(n AS DOUBLE) AS sel,
           CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS tpr,
           CAST(fp AS DOUBLE) / CAST(fp + tn AS DOUBLE) AS fpr
    FROM cells
),
g AS (
    SELECT MAX(sel) - MIN(sel) AS dp_gap,
           MAX(tpr) - MIN(tpr) AS tpr_gap,
           MAX(fpr) - MIN(fpr) AS fpr_gap
    FROM rates
)
SELECT grp, n, pred_pos, tp, fn, fp, tn,
       {_r("sel", 9)} AS selection_rate,
       {_r("tpr", 9)} AS tpr,
       {_r("fpr", 9)} AS fpr,
       {_r("dp_gap", 9)} AS demographic_parity_gap,
       {_r("tpr_gap", 9)} AS tpr_gap,
       {_r("fpr_gap", 9)} AS fpr_gap
FROM rates, g
""",
)
def _fairness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
    )
    base = ev.select(
        (F.col("user_id") % 3).alias("grp"),
        (F.col("value") > 100).cast("int").alias("pred"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    cells = base.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("pred").cast("bigint").alias("pred_pos"),
        F.count_if((F.col("pred") == 1) & (F.col("y") == 1)).alias("tp"),
        F.count_if((F.col("pred") == 0) & (F.col("y") == 1)).alias("fn"),
        F.count_if((F.col("pred") == 1) & (F.col("y") == 0)).alias("fp"),
        F.count_if((F.col("pred") == 0) & (F.col("y") == 0)).alias("tn"),
    )
    sel = F.col("pred_pos").cast("double") / F.col("n").cast("double")
    tpr = F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast(
        "double"
    )
    fpr = F.col("fp").cast("double") / (F.col("fp") + F.col("tn")).cast(
        "double"
    )
    rates = cells.select(
        "grp",
        "n",
        "pred_pos",
        "tp",
        "fn",
        "fp",
        "tn",
        sel.alias("_sel"),
        tpr.alias("_tpr"),
        fpr.alias("_fpr"),
    )
    g = rates.agg(
        (F.max("_sel") - F.min("_sel")).alias("_dp"),
        (F.max("_tpr") - F.min("_tpr")).alias("_tg"),
        (F.max("_fpr") - F.min("_fpr")).alias("_fg"),
    )
    return rates.crossJoin(F.broadcast(g)).select(
        "grp",
        "n",
        "pred_pos",
        "tp",
        "fn",
        "fp",
        "tn",
        F.round("_sel", 9).alias("selection_rate"),
        F.round("_tpr", 9).alias("tpr"),
        F.round("_fpr", 9).alias("fpr"),
        F.round("_dp", 9).alias("demographic_parity_gap"),
        F.round("_tg", 9).alias("tpr_gap"),
        F.round("_fg", 9).alias("fpr_gap"),
    )


# ---------------------------------------------------------------------------
# Isotonic (PAV) probability calibration (functions/mleval.py::
# isotonic_calibration) — X187.  PAV is inherently sequential (pooling
# can cascade arbitrarily far left), so like BPE/zlib the oracle rides
# the driver-local reference-sweep artifact: plain-Python PAV over bins
# recomputed from the raw parquet (pyarrow + hashlib, no Spark, no
# Arrow batching) publishes the gcd-reduced exact block fractions; the
# SQL recomputes bin counts/positives NATIVELY (a binning bug never
# reaches the artifact join) and derives the display double from the
# artifact's integers.  The engine's PAV runs as one Arrow-kernel task
# over the <= 64-row bin frame with INTEGER cross-multiplication only —
# both implementations must agree on every pooled block boundary or the
# BIGINT fractions hash-mismatch.
# ---------------------------------------------------------------------------
import os as _os  # noqa: E402

_ISO_BINS = 64
_ISO_REF_PATH = f"/tmp/nl_spark_iso_ref_{_os.getpid()}.parquet"
_ISO_ARTIFACTS: dict = {}


def _publish_isotonic_reference(sf_dir: str) -> bool:
    import hashlib
    import math

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_id", "event_type"]
    )
    counts: dict[int, list[int]] = {}
    corpus_fp = 0
    for eid, etype in zip(
        tbl.column("event_id").to_pylist(),
        tbl.column("event_type").to_pylist(),
    ):
        if etype is None or eid is None:
            continue
        h = int(hashlib.md5(str(eid).encode()).hexdigest()[:8], 16)
        # Content fingerprint of the filtered events view (sum of the
        # h32 scores, same formula the SQL recomputes) — a ROW COUNT is
        # not unique across scale factors (the zlib/BPE spines moved to
        # content fingerprints for exactly this reason), so keying on
        # n_events could let a second SF clobber this SF's PAV rows.
        corpus_fp += h
        b = h * _ISO_BINS // 2**32
        c = counts.setdefault(b, [0, 0])
        c[0] += 1
        c[1] += 1 if etype == "purchase" else 0
    rows = sorted(counts.items())
    stack: list[list[int]] = []
    for i, (_, (n_i, p_i)) in enumerate(rows):
        stack.append([i, n_i, p_i])
        while (
            len(stack) >= 2
            and stack[-2][2] * stack[-1][1] > stack[-1][2] * stack[-2][1]
        ):
            s2 = stack.pop()
            stack[-1][1] += s2[1]
            stack[-1][2] += s2[2]
    bins_col, num_col, den_col = [], [], []
    blk = 0
    for i, (bin_i, _) in enumerate(rows):
        if blk + 1 < len(stack) and i >= stack[blk + 1][0]:
            blk += 1
        num, den = stack[blk][2], stack[blk][1]
        g = math.gcd(num, den) or 1
        bins_col.append(bin_i)
        num_col.append(num // g)
        den_col.append(den // g)
    out = pa.table(
        {
            "bin": pa.array(bins_col, pa.int32()),
            "cal_num_ref": pa.array(num_col, pa.int64()),
            "cal_den_ref": pa.array(den_col, pa.int64()),
            "corpus_fp": pa.array([corpus_fp] * len(bins_col), pa.int64()),
        }
    )
    if _os.path.exists(_ISO_REF_PATH):
        prev = pq.read_table(_ISO_REF_PATH)
        prev = prev.filter(pc.not_equal(prev.column("corpus_fp"), corpus_fp))
        out = pa.concat_tables([prev, out])
    tmp = _ISO_REF_PATH + ".tmp"
    pq.write_table(out, tmp)
    _os.replace(tmp, _ISO_REF_PATH)
    return True


ISO_ORACLE_SQL = f"""
WITH base AS (
    SELECT {_H32_SQL} AS s,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events WHERE event_type IS NOT NULL AND event_id IS NOT NULL
),
nd AS (SELECT CAST(SUM(s) AS BIGINT) AS fp FROM base),
b AS (
    SELECT CAST(s * {_ISO_BINS} // {_DENOM} AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS pos
    FROM base GROUP BY 1
)
SELECT b.bin, b.n, b.pos,
       r.cal_num_ref AS cal_num,
       r.cal_den_ref AS cal_den,
       {_r("CAST(r.cal_num_ref AS DOUBLE) / CAST(r.cal_den_ref AS DOUBLE)",
           9)} AS calibrated
FROM b
CROSS JOIN nd
JOIN read_parquet('{_ISO_REF_PATH}') r
  ON b.bin = r.bin AND r.corpus_fp = nd.fp
"""


@query("ml_isotonic_calibration", ISO_ORACLE_SQL)
def _ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.mleval import isotonic_calibration

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _ISO_ARTIFACTS:
        _ISO_ARTIFACTS[key] = _publish_isotonic_reference(sf_dir)
    ev = load_table(spark, sf_dir, "events", spread=True).filter(
        F.col("event_type").isNotNull() & F.col("event_id").isNotNull()
    )
    base = ev.select(
        hash32(F.col("event_id").cast("string")).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return isotonic_calibration(
        base, "score", "label", bins=_ISO_BINS, denom=_DENOM
    )
