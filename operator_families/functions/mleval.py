"""ML evaluation / monitoring operators: exact rank-based ROC AUC,
calibration report (reliability bins + ECE), and two-period categorical
drift (total-variation distance + chi-square homogeneity).

The reference pipeline (``/root/reference/src``) has no model-QA layer;
these extend the engine along SURVEY.md §2.12 — the offline-eval
counterpart of the ``ml_*`` training-data operators (score lift, churn
labels, class weights).  All three follow the repo-wide exactness
contract: every ratio is carried as cross-multiplied BIGINTs (or a
single deterministic IEEE division of exact BIGINTs) until ONE final
division per emitted column, so results hash-match any engine at any
partitioning and cluster size.

100 TB shape notes (per operator, also asserted in tests/test_plan_shapes):

- ``auc_roc`` never materializes per-row ranks.  A naive rank() over the
  raw fact table is a full-table sort per group; here the rank-sum runs
  over the (group, DISTINCT score) frame — one partial-aggregated
  shuffle, one cumulative window on the SAME key, one group agg.  State
  per group is the distinct-score count, not the row count.
- ``calibration_report`` is one partial agg over (group, bin) — bins are
  map-side arithmetic — plus a 1-row-per-group totals broadcast for ECE.
- ``categorical_drift`` is one partial agg over (bucket, period) pivoted
  to two BIGINT count columns plus a 1-row totals broadcast; the
  chi-square cell is two IEEE ops over exact BIGINT cross products.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def auc_roc(
    df: DataFrame,
    group_cols: list[str],
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """Exact tie-corrected ROC AUC per group via the rank-sum identity.

    ``AUC = (S_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg)`` where
    ``S_pos`` is the sum of MIDRANKS of the positive class (ties get the
    average rank — the Mann-Whitney convention, equal to the area under
    the tie-interpolated ROC curve).  Everything stays integer until the
    final division: for a tied block of ``cnt`` rows preceded by ``cum``
    rows, the midrank is ``(2*cum + cnt + 1) / 2``, so

        2*S_pos = SUM_blocks pos * (2*cum + cnt + 1)        (BIGINT)
        AUC     = (2*S_pos - n_pos*(n_pos+1)) / (2*n_pos*n_neg)

    Returns (group_cols..., n_pos, n_neg, auc) with ``auc`` NULL when a
    group lacks either class (never a division by zero).

    ``label_col`` must be 0/1-valued (cast to BIGINT internally).
    """
    g = [F.col(c) for c in group_cols]
    by_score = df.groupBy(*g, F.col(score_col).alias("_s")).agg(
        F.count("*").alias("_cnt"),
        F.sum(F.col(label_col).cast("bigint")).alias("_pos"),
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = by_score.withColumn(
        "_cum", F.coalesce(F.sum("_cnt").over(w), F.lit(0).cast("bigint"))
    )
    per_group = cum.groupBy(*group_cols).agg(
        F.sum(
            F.col("_pos") * (F.lit(2) * F.col("_cum") + F.col("_cnt") + 1)
        ).alias("_2spos"),
        F.sum("_pos").alias("n_pos"),
        F.sum(F.col("_cnt") - F.col("_pos")).alias("n_neg"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.round(
            (
                F.col("_2spos") - F.col("n_pos") * (F.col("n_pos") + 1)
            ).cast("double")
            / (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("double"),
            9,
        ),
    )
    return per_group.select(*group_cols, "n_pos", "n_neg", auc.alias("auc"))


def calibration_report(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    n_bins: int = 10,
    denom: int = 2**32,
) -> DataFrame:
    """Reliability diagram bins + Expected Calibration Error, EXACT.

    Contract: ``score_col`` must be an INTEGER-valued column in
    ``[0, denom)`` — e.g. the repo-wide 32-bit md5 hash contract
    (``functions/text.py::hash32``, denom=2^32) or any quantized model
    score.  Keeping the score integral makes every emitted number a
    ratio of exact BIGINTs:

        accuracy_b   = pos_b / n_b
        confidence_b = sum_score_b / (n_b * denom)
        ECE          = SUM_b |pos_b*denom - sum_score_b| / (denom * N)

    (the |acc - conf| * n_b/N ECE term telescopes to that single
    integer numerator).  One final IEEE division per column.

    Returns one row per non-empty bin: (bin, n, pos, accuracy,
    confidence, abs_gap_num) plus the group-constant (ece, total_n).
    Plan: one (bin) partial agg + a 1-row totals broadcast.
    """
    if n_bins <= 0:
        raise ValueError("n_bins must be positive")
    s = F.col(score_col).cast("bigint")
    binned = df.select(
        F.floor(s * n_bins / F.lit(denom)).cast("int").alias("bin"),
        s.alias("_s"),
        F.col(label_col).cast("bigint").alias("_y"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("_y").alias("pos"),
        F.sum("_s").alias("_sum_s"),
    )
    gap_num = F.abs(F.col("pos") * F.lit(denom) - F.col("_sum_s"))
    per_bin = per_bin.withColumn("_gap_num", gap_num)
    totals = per_bin.agg(
        F.sum("n").alias("total_n"),
        F.sum("_gap_num").alias("_gap_total"),
    )
    out = per_bin.crossJoin(F.broadcast(totals))
    return out.select(
        "bin",
        "n",
        "pos",
        F.round(
            F.col("pos").cast("double") / F.col("n").cast("double"), 9
        ).alias("accuracy"),
        F.round(
            F.col("_sum_s").cast("double")
            / (F.col("n") * F.lit(denom)).cast("double"),
            9,
        ).alias("confidence"),
        F.col("_gap_num").alias("abs_gap_num"),
        F.round(
            F.col("_gap_total").cast("double")
            / (F.lit(denom) * F.col("total_n")).cast("double"),
            9,
        ).alias("ece"),
        "total_n",
    )


def categorical_drift(
    df: DataFrame,
    bucket_col: str = "bucket",
    period_col: str = "period",
) -> DataFrame:
    """Two-period categorical drift: per-bucket shares, total-variation
    distance, and the chi-square homogeneity statistic — the exact
    counterpart of the PSI drift monitor (PSI's ``ln(p/q)`` is
    transcendental and engine-divergent in the last ulp; TVD and
    chi-square carry the identical signal with exact arithmetic).

    ``period_col`` must be 0/1-valued (reference vs current window).
    For a 2xK contingency table the chi-square row contribution
    collapses to one cross-product difference: with ``d = a*NB - b*NA``
    (a, b the bucket counts; NA, NB the period totals; rt = a + b),

        chi2_bucket = d^2 / (rt * NA * NB)
        TVD         = SUM |d| / (2 * NA * NB)

    ``d``, ``rt*NA*NB`` and ``SUM|d|`` are exact BIGINTs; ``chi2_bucket``
    is two IEEE ops on their exact double images; ``chi2_total`` sums the
    rounded per-bucket values as exact decimals (order-insensitive).

    Returns one row per bucket with the group-constant totals attached.
    """
    counts = (
        df.groupBy(F.col(bucket_col).alias("bucket"))
        .agg(
            F.sum(
                (F.col(period_col).cast("bigint") == 0).cast("bigint")
            ).alias("cnt_a"),
            F.sum(
                (F.col(period_col).cast("bigint") == 1).cast("bigint")
            ).alias("cnt_b"),
        )
    )
    totals = counts.agg(
        F.sum("cnt_a").alias("_na"), F.sum("cnt_b").alias("_nb")
    )
    j = counts.crossJoin(F.broadcast(totals))
    d = F.col("cnt_a") * F.col("_nb") - F.col("cnt_b") * F.col("_na")
    rt = F.col("cnt_a") + F.col("cnt_b")
    chi2 = F.round(
        d.cast("double")
        * d.cast("double")
        / (rt * F.col("_na") * F.col("_nb")).cast("double"),
        9,
    )
    per_bucket = j.select(
        "bucket",
        "cnt_a",
        "cnt_b",
        F.round(
            (F.col("cnt_a") * 100).cast("double") / F.col("_na").cast("double"),
            9,
        ).alias("share_a_pct"),
        F.round(
            (F.col("cnt_b") * 100).cast("double") / F.col("_nb").cast("double"),
            9,
        ).alias("share_b_pct"),
        F.abs(d).alias("abs_d"),
        chi2.alias("chi2_bucket"),
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
    )
    grand = per_bucket.agg(
        F.sum("abs_d").alias("_sum_abs_d"),
        F.sum(F.col("chi2_bucket").cast("decimal(38,20)")).alias("_chi2_sum"),
    )
    return per_bucket.crossJoin(F.broadcast(grand)).select(
        "bucket",
        "cnt_a",
        "cnt_b",
        "share_a_pct",
        "share_b_pct",
        "chi2_bucket",
        F.round(
            F.col("_sum_abs_d").cast("double")
            / (F.lit(2) * F.col("n_a") * F.col("n_b")).cast("double"),
            9,
        ).alias("tvd"),
        F.round(F.col("_chi2_sum").cast("double"), 9).alias("chi2_total"),
    )


def pr_curve(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """Precision/recall/F1 at every distinct score threshold — the PR
    curve companion of :func:`auc_roc`, same exactness and same
    distinct-score-frame shape.

    For each threshold t (predict positive when score >= t):
    ``tp``/``fp``/``fn`` come from DESCENDING cumulative sums over the
    (distinct score) partial-agg frame; ``precision = tp/pp``,
    ``recall = tp/P`` and — via the harmonic identity
    ``F1 = 2PR/(P+R) = 2*tp/(pp + P)`` — every metric is ONE IEEE
    division of exact BIGINTs.  ``score_col`` must be integer-valued
    (quantize upstream: thresholds on a raw float score are one
    ``floor`` away).

    Plan: one (score) partial agg, one cumulative window over the
    distinct-score frame (ungrouped — the window partition is the
    distinct-threshold set, bounded by the score quantization, never
    the fact table), one 1-row totals broadcast.
    """
    by_s = df.groupBy(F.col(score_col).alias("threshold")).agg(
        F.count("*").alias("_cnt"),
        F.sum(F.col(label_col).cast("bigint")).alias("_pos"),
    )
    w = (
        Window.orderBy(F.desc("threshold"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = by_s.select(
        "threshold",
        F.sum("_cnt").over(w).alias("_pp"),
        F.sum("_pos").over(w).alias("tp"),
    )
    totals = by_s.agg(F.sum("_pos").alias("_p_total"))
    out = cum.crossJoin(F.broadcast(totals))
    return out.select(
        "threshold",
        "tp",
        (F.col("_pp") - F.col("tp")).alias("fp"),
        (F.col("_p_total") - F.col("tp")).alias("fn"),
        F.round(
            F.col("tp").cast("double") / F.col("_pp").cast("double"), 9
        ).alias("precision"),
        F.round(
            F.col("tp").cast("double") / F.col("_p_total").cast("double"),
            9,
        ).alias("recall"),
        F.round(
            (F.lit(2) * F.col("tp")).cast("double")
            / (F.col("_pp") + F.col("_p_total")).cast("double"),
            9,
        ).alias("f1"),
    )


def stratified_ate(
    df: DataFrame,
    stratum_col: str = "stratum",
    treat_col: str = "treat",
    outcome_col: str = "outcome",
) -> DataFrame:
    """Stratified average treatment effect with exact arithmetic — the
    observational-causal estimator where the propensity score is the
    within-stratum treatment share (subclassification; with strata as
    the propensity model, IPW and stratification coincide).

    ``treat_col`` and ``outcome_col`` must be 0/1.  Per stratum s:

        p_score_s = n_treat_s / n_s
        ate_s     = y1/n1 - y0/n0 = (y1*n0 - y0*n1) / (n1*n0)
        contrib_s = n_s * (y1*n0 - y0*n1) / (N * n1 * n0)
        ATE       = SUM_s contrib_s          (precision-weighted by n_s/N)

    Every numerator/denominator is an exact BIGINT (ranges safe to
    ~3e5 subjects per stratum); each emitted value is ONE IEEE
    division; the cross-stratum ATE total sums the single-division
    contributions as exact decimals (order-insensitive).  Strata
    missing an arm get NULL ate_s and are excluded from the total
    (the standard overlap/positivity exclusion — emitted, not hidden).

    Returns one row per stratum plus the group-constant (ate_total, n_total).
    Plan: one stratum partial agg + a 1-row totals broadcast + a 1-row
    contribution sum — no fact re-scan.
    """
    agg = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count("*").alias("n"),
        F.sum(F.col(treat_col).cast("bigint")).alias("n_treat"),
        F.sum(
            F.when(F.col(treat_col) == 1, F.col(outcome_col))
            .otherwise(0)
            .cast("bigint")
        ).alias("y_treat"),
        F.sum(
            F.when(F.col(treat_col) == 0, F.col(outcome_col))
            .otherwise(0)
            .cast("bigint")
        ).alias("y_control"),
    )
    agg = agg.withColumn("n_control", F.col("n") - F.col("n_treat"))
    totals = agg.agg(F.sum("n").alias("n_total"))
    j = agg.crossJoin(F.broadcast(totals))
    d = F.col("y_treat") * F.col("n_control") - F.col("y_control") * F.col(
        "n_treat"
    )
    both_arms = (F.col("n_treat") > 0) & (F.col("n_control") > 0)
    per = j.select(
        "stratum",
        "n",
        "n_treat",
        "n_control",
        "y_treat",
        "y_control",
        F.round(
            F.col("n_treat").cast("double") / F.col("n").cast("double"), 9
        ).alias("p_score"),
        F.when(
            both_arms,
            F.round(
                d.cast("double")
                / (F.col("n_treat") * F.col("n_control")).cast("double"),
                9,
            ),
        ).alias("ate_stratum"),
        F.when(
            both_arms,
            (F.col("n") * d).cast("double")
            / (
                F.col("n_total") * F.col("n_treat") * F.col("n_control")
            ).cast("double"),
        ).alias("_contrib"),
        "n_total",
    )
    grand = per.agg(
        F.sum(F.col("_contrib").cast("decimal(38,20)")).alias("_ate_sum")
    )
    return per.crossJoin(F.broadcast(grand)).select(
        "stratum",
        "n",
        "n_treat",
        "n_control",
        "y_treat",
        "y_control",
        "p_score",
        "ate_stratum",
        F.round(F.col("_ate_sum").cast("double"), 9).alias("ate_total"),
        "n_total",
    )


def target_encode(
    df: DataFrame,
    category_cols: list[str],
    label_col: str = "label",
    smoothing: int = 10,
) -> DataFrame:
    """Smoothed (empirical-Bayes) target encoding of a categorical key —
    the standard high-cardinality feature encoder (micci-barreca 2001):

        enc = (sum_y + w * global_rate) / (n + w)
            = (sum_y * N + w * Y) / (N * (n + w))      -- exact BIGINTs

    Rare categories shrink toward the global rate; ``smoothing`` (w) is
    the pseudo-count weight.  ``label_col`` must be 0/1.  Emits one row
    per category with (n, sum_y, raw_rate, encoded, global_rate) — each
    a single IEEE division of exact BIGINT cross products.

    Leakage note: this is the FIT half (category table to join onto
    train/serve rows).  Leave-one-out/per-fold variants reuse the same
    aggregate minus the row's own label — derivable from this table and
    the row, no second aggregate.

    Plan: one category partial agg + a 1-row global broadcast.  BIGINT
    range: sum_y * N caps at ~3e9 rows before overflow — assert
    upstream beyond that (or pre-aggregate per shard).
    """
    if smoothing < 0:
        raise ValueError("smoothing must be >= 0")
    agg = df.groupBy(*category_cols).agg(
        F.count("*").alias("n"),
        F.sum(F.col(label_col).cast("bigint")).alias("sum_y"),
    )
    totals = agg.agg(
        F.sum("n").alias("_N"), F.sum("sum_y").alias("_Y")
    )
    j = agg.crossJoin(F.broadcast(totals))
    w = F.lit(smoothing)
    return j.select(
        *category_cols,
        "n",
        "sum_y",
        F.round(
            F.col("sum_y").cast("double") / F.col("n").cast("double"), 9
        ).alias("raw_rate"),
        F.round(
            (F.col("sum_y") * F.col("_N") + w * F.col("_Y")).cast("double")
            / (F.col("_N") * (F.col("n") + w)).cast("double"),
            9,
        ).alias("encoded"),
        F.round(
            F.col("_Y").cast("double") / F.col("_N").cast("double"), 9
        ).alias("global_rate"),
    )


def ndcg_at_k(
    ranked: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """NDCG@k per query over an already-ranked list with graded relevance
    — the standard ranking-quality metric (Järvelin & Kekäläinen, public
    literature) the retrieval gates were missing next to recall.

    ``DCG = sum_{rank<=k} rel / log2(rank + 1)``; IDCG re-sorts the SAME
    k-truncated pool by relevance (rel desc, original rank as tiebreak —
    ties share a rel value so the tiebreak cannot change the sum).
    Transcendental log2 differs across libm in the last ulp, so each
    term is rounded to 12 digits and summed as DECIMAL(28,12) — exact,
    partitioning-proof addition — with ONE closing division rounded to
    9 (the repo-wide pattern; the oracle mirrors the identical op
    chain).  NULL ndcg when IDCG is zero (an all-irrelevant pool).

    Scale shape: one query-keyed window for the ideal re-rank + one
    query-keyed aggregate over rows already k-bounded by the upstream
    ranker — never touches the corpus.
    """
    t = ranked.filter(F.col(rank_col) <= k).select(
        F.col(query_col),
        F.col(rank_col).cast("int").alias("_rk"),
        F.col(rel_col).cast("bigint").alias("_rel"),
    )
    ideal = Window.partitionBy(query_col).orderBy(
        F.desc("_rel"), F.asc("_rk")
    )
    t = t.withColumn("_irk", F.row_number().over(ideal))
    term = lambda pos: F.round(  # noqa: E731
        F.col("_rel").cast("double") / F.log2(pos.cast("double") + 1.0), 12
    ).cast("decimal(28,12)")
    agg = t.groupBy(query_col).agg(
        F.sum(term(F.col("_rk"))).alias("_dcg"),
        F.sum(term(F.col("_irk"))).alias("_idcg"),
        F.count("*").alias("n_ranked"),
    )
    return agg.select(
        query_col,
        "n_ranked",
        F.round(F.col("_dcg").cast("double"), 9).alias("dcg"),
        F.round(F.col("_idcg").cast("double"), 9).alias("idcg"),
        F.when(
            F.col("_idcg") > 0,
            F.round(
                F.col("_dcg").cast("double") / F.col("_idcg").cast("double"),
                9,
            ),
        ).alias("ndcg"),
    )


def cohens_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Cohen's kappa: agreement between two labelers beyond chance — the
    annotation-QA statistic for any human-labeled or model-vs-model
    training-data audit.  ``kappa = (po - pe) / (1 - pe)`` computed as
    exact BIGINT cross products with ONE closing division:
    ``kappa = (agree*n - sum_c a_c*b_c) / (n*n - sum_c a_c*b_c)`` where
    ``a_c``/``b_c`` are the per-category marginal counts.

    Scale shape: one category-keyed partial aggregate (two count columns
    per category) + a 1-row total — the per-category frame is
    vocabulary-sized, never row-sized.  Output: 1 row (n, n_agree,
    kappa), kappa NULL when pe = 1 (both raters constant and equal).
    """
    pairs = df.select(
        F.col(rater_a_col).alias("_a"), F.col(rater_b_col).alias("_b")
    )
    a_marg = pairs.groupBy(F.col("_a").alias("_c")).agg(
        F.count("*").alias("_na")
    )
    b_marg = pairs.groupBy(F.col("_b").alias("_c")).agg(
        F.count("*").alias("_nb")
    )
    chance = (
        a_marg.join(b_marg, "_c")
        # disjoint label sets -> empty join -> SUM is NULL; the correct
        # chance agreement is 0 (pe = 0, kappa = po), not NULL kappa
        .agg(
            F.coalesce(
                F.sum(F.col("_na") * F.col("_nb")), F.lit(0).cast("bigint")
            ).alias("_chance")
        )
    )
    tot = pairs.agg(
        F.count("*").alias("n"),
        F.count_if(F.col("_a") == F.col("_b")).alias("n_agree"),
    )
    return tot.crossJoin(F.broadcast(chance)).select(
        "n",
        "n_agree",
        F.when(
            F.col("n") * F.col("n") != F.col("_chance"),
            F.round(
                (F.col("n_agree") * F.col("n") - F.col("_chance")).cast(
                    "double"
                )
                / (F.col("n") * F.col("n") - F.col("_chance")).cast("double"),
                9,
            ),
        ).alias("kappa"),
    )


def label_vote(
    df: DataFrame,
    lf_cols: Sequence[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Weak-supervision majority vote (the Snorkel-style label model's
    zero-parameter baseline, public method): each labeling-function
    column holds 1 / 0 / NULL (abstain); the row's label is the strict
    majority of non-abstains, NULL on ties or all-abstain.  The
    programmatic-labeling primitive a training-data pipeline uses to
    bootstrap classifiers from rules.

    Pure map-side codegen — a fixed CASE chain over the LF columns, no
    shuffle at all; per-LF coverage/agreement audits aggregate downstream
    however the caller groups.  Output: (id, each LF, n_votes, n_pos,
    n_neg, label).
    """
    if not lf_cols:
        raise ValueError("lf_cols must be non-empty")
    one = lambda c: F.when(F.col(c).isNotNull(), 1).otherwise(0)  # noqa: E731
    pos = lambda c: F.when(F.col(c) == 1, 1).otherwise(0)  # noqa: E731
    neg = lambda c: F.when(F.col(c) == 0, 1).otherwise(0)  # noqa: E731
    n_votes = sum(one(c) for c in lf_cols[1:]) + one(lf_cols[0])
    n_pos = sum(pos(c) for c in lf_cols[1:]) + pos(lf_cols[0])
    n_neg = sum(neg(c) for c in lf_cols[1:]) + neg(lf_cols[0])
    label = (
        F.when(F.col("n_pos") > F.col("n_neg"), F.lit(1))
        .when(F.col("n_neg") > F.col("n_pos"), F.lit(0))
        .otherwise(F.lit(None).cast("int"))
    )
    return (
        df.select(
            id_col,
            *lf_cols,
            n_votes.cast("int").alias("n_votes"),
            n_pos.cast("int").alias("n_pos"),
            n_neg.cast("int").alias("n_neg"),
        )
        .withColumn("label", label)
    )


def conformal_bounds(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    ts_col: str,
    cutoff: str,
    alpha_pct: int = 10,
) -> DataFrame:
    """Split-conformal prediction interval per group, with its empirical
    coverage audit — the distribution-free uncertainty wrapper (Vovk;
    Angelopoulos & Bates tutorial, public method) a forecast/scoring
    pipeline ships alongside point predictions.

    Rows before ``cutoff`` are the calibration split; the point
    predictor is the calibration LOWER MEDIAN (exact order statistic),
    the conformity score is ``|v - med|`` (exact decimal), and the
    radius ``qhat`` is the ``ceil((1 - alpha) * (n_cal + 1))``-th
    smallest score — computed with INTEGER arithmetic
    (``(pct * (n+1) + 9) div 100`` for pct = 100 - alpha_pct), capped at
    ``n_cal`` (the standard finite-sample cap).  Coverage is then
    audited on the held-out rows: ``share(|v - med| <= qhat)``, which by
    the conformal guarantee should be >= 1 - alpha up to discreteness.

    Everything except the one closing coverage division is exact
    (decimal values, bigint ranks), so the gate hash-matches at any
    partitioning.  Plan: ONE group-keyed shuffle shared by two windows
    (rank for the order statistics) + the final conditional aggregate —
    no joins except the qhat broadcast-back, which is group-sized.
    """
    if not 0 < alpha_pct < 100:
        raise ValueError(f"alpha_pct must be in (0, 100), got {alpha_pct}")
    pct = 100 - alpha_pct
    cut = F.lit(cutoff).cast("timestamp")
    v = F.col(value_col).cast("string").cast("decimal(18,6)")
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        *group_cols, v.alias("_v"), (F.col(ts_col) < cut).alias("_cal")
    )
    gw = Window.partitionBy(*group_cols)
    calw = Window.partitionBy(*group_cols).orderBy("_v")
    cal = (
        base.filter("_cal")
        .withColumn("_rn", F.row_number().over(calw))
        .withColumn("_n", F.count("*").over(gw))
    )
    # integer lower-median position: (n+1) div 2
    med = cal.filter(F.col("_rn") == F.expr("(_n + 1) div 2")).select(
        *group_cols,
        F.col("_v").alias("_med"),
        F.col("_n").alias("n_cal"),
    )
    scored = (
        base.filter("_cal")
        .join(F.broadcast(med), list(group_cols))
        .select(
            *group_cols,
            "n_cal",
            F.abs(F.col("_v") - F.col("_med")).alias("_r"),
        )
    )
    rw = Window.partitionBy(*group_cols).orderBy("_r")
    qhat = (
        scored.withColumn("_rrn", F.row_number().over(rw))
        .filter(
            F.col("_rrn")
            == F.least(
                F.col("n_cal"),
                F.expr(f"({pct} * (n_cal + 1) + 99) div 100"),
            )
        )
        .select(*group_cols, "n_cal", F.col("_r").alias("_q"))
    )
    test = base.filter(~F.col("_cal")).join(
        F.broadcast(med.select(*group_cols, "_med")), list(group_cols)
    ).join(F.broadcast(qhat), list(group_cols))
    return (
        test.groupBy(*group_cols)
        .agg(
            F.first("n_cal").alias("n_cal"),
            F.count("*").alias("n_test"),
            F.first(F.col("_med").cast("double")).alias("point"),
            F.first(F.col("_q").cast("double")).alias("qhat"),
            F.count_if(
                F.abs(F.col("_v") - F.col("_med")) <= F.col("_q")
            ).alias("covered"),
        )
        .select(
            *group_cols,
            "n_cal",
            "n_test",
            "point",
            "qhat",
            "covered",
            F.round(
                F.col("covered").cast("double")
                / F.col("n_test").cast("double"),
                9,
            ).alias("coverage"),
        )
    )


def psi_drift(
    df: DataFrame,
    value_col: str,
    period_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index over quantile buckets — the numeric
    companion of :func:`categorical_drift` (which deliberately carries
    TVD/chi-square instead; PSI's ``ln(p/q)`` is transcendental, but
    the quantized-term contract that later shipped with
    :func:`ndcg_at_k` — round each term to 12 digits, sum as
    DECIMAL(28,12) — makes the industry-standard monitor engine-stable
    too, so both live side by side).

    ``period_col`` must be 0/1-valued (reference vs current).  Bucket
    edges are the reference period's EXACT ``1/n .. (n-1)/n`` quantiles
    (sort-based ``percentile`` rounded to 6, the X20 quantile contract;
    values equal to an edge go UP, matching stats.quantile_bucketize);
    both periods are then binned against those shared edges.  Shares
    are Laplace-smoothed — ``(c + 1) / (n + n_buckets)`` — so empty
    buckets stay finite without an epsilon hyperparameter, and

        psi_contrib = (p_cur - p_ref) * ln(p_cur / p_ref)
        psi_total   = sum over buckets

    Conventional read: < 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted.

    Plan: one 1-row broadcast of the reference edges, one map-side
    bucket assignment, ONE (bucket, period) partial-agg shuffle, and a
    bounded (<= n_buckets rows) final frame — the totals ride a 1-row
    broadcast back.  Output per bucket: (bucket, cnt_ref, cnt_cur,
    share_ref, share_cur, psi_contrib, psi_total).
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    base = df.select(
        F.col(value_col).cast("double").alias("_v"),
        F.col(period_col).cast("int").alias("_p"),
    ).filter(F.col("_v").isNotNull() & F.col("_p").isin(0, 1))
    qs = [i / n_buckets for i in range(1, n_buckets)]
    edges = base.filter(F.col("_p") == 0).agg(
        *[
            F.round(F.percentile(F.col("_v"), q), 6).alias(f"_e{i}")
            for i, q in enumerate(qs)
        ]
    )
    edge_cols = [F.col(f"_e{i}") for i in range(len(qs))]
    v = F.col("_v")
    bucket = F.size(F.filter(F.array(*edge_cols), lambda e: v >= e))
    binned = base.crossJoin(F.broadcast(edges)).select(
        bucket.cast("int").alias("bucket"), "_p"
    )
    observed = binned.groupBy("bucket").agg(
        F.count_if(F.col("_p") == 0).cast("bigint").alias("cnt_ref"),
        F.count_if(F.col("_p") == 1).cast("bigint").alias("cnt_cur"),
    )
    # Full bucket spine: a bucket empty in BOTH periods never appears in
    # the grouped frame, yet its Laplace-smoothed contribution
    # (p_cur - p_ref) * ln(p_cur / p_ref) is nonzero whenever
    # n_ref != n_cur — dropping it would make psi_total deviate from the
    # documented formula (and the smoothed shares no longer sum to 1)
    # exactly when duplicate-heavy data collapses quantile edges.
    spine = df.sparkSession.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    per = spine.join(observed, "bucket", "left").select(
        "bucket",
        F.coalesce("cnt_ref", F.lit(0)).cast("bigint").alias("cnt_ref"),
        F.coalesce("cnt_cur", F.lit(0)).cast("bigint").alias("cnt_cur"),
    )
    tot = per.agg(
        F.sum("cnt_ref").cast("bigint").alias("_nr"),
        F.sum("cnt_cur").cast("bigint").alias("_nc"),
    )
    w = per.crossJoin(F.broadcast(tot))
    p_ref = (F.col("cnt_ref") + 1).cast("double") / (
        F.col("_nr") + n_buckets
    ).cast("double")
    p_cur = (F.col("cnt_cur") + 1).cast("double") / (
        F.col("_nc") + n_buckets
    ).cast("double")
    contrib = F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 12)
    rows = w.select(
        "bucket",
        "cnt_ref",
        "cnt_cur",
        F.round(p_ref, 9).alias("share_ref"),
        F.round(p_cur, 9).alias("share_cur"),
        contrib.cast("decimal(28,12)").alias("_contrib"),
    )
    total = rows.agg(
        F.sum("_contrib").cast("double").alias("_psi")
    )
    return rows.crossJoin(F.broadcast(total)).select(
        "bucket",
        "cnt_ref",
        "cnt_cur",
        "share_ref",
        "share_cur",
        F.round(F.col("_contrib").cast("double"), 9).alias("psi_contrib"),
        F.round(F.col("_psi"), 9).alias("psi_total"),
    )


def woe_iv(
    df: DataFrame,
    bucket_col: str,
    label_col: str,
) -> DataFrame:
    """Weight of Evidence / Information Value per feature bucket against
    a binary label — the credit-scoring feature-screening pair (public
    literature; IV > 0.3 = strong predictor, < 0.02 = useless).

    With per-bucket event/non-event counts Laplace-smoothed as
    ``(c + 1) / (n + k)`` (k buckets — keeps empty cells finite, the
    psi_drift convention):

        woe  = ln(p_event / p_nonevent)
        iv   = sum_buckets (p_event - p_nonevent) * woe

    The transcendental ln rides the quantized-term contract
    (:func:`ndcg_at_k`): IV contributions round to 12 digits and sum as
    DECIMAL(28,12); closings round to 9.  Plan: ONE bucket-keyed
    partial-agg shuffle, a 1-row totals broadcast, bucket-count frame
    all the way down.  Output per bucket: (bucket, n_event, n_nonevent,
    share_event, share_nonevent, woe, iv_contrib, iv_total).
    """
    base = df.select(
        F.col(bucket_col).alias("_b"),
        F.col(label_col).cast("int").alias("_y"),
    ).filter(F.col("_b").isNotNull() & F.col("_y").isin(0, 1))
    per = base.groupBy("_b").agg(
        F.count_if(F.col("_y") == 1).cast("bigint").alias("n_event"),
        F.count_if(F.col("_y") == 0).cast("bigint").alias("n_nonevent"),
    )
    tot = per.agg(
        F.sum("n_event").cast("bigint").alias("_ne"),
        F.sum("n_nonevent").cast("bigint").alias("_nn"),
        F.count("*").cast("bigint").alias("_k"),
    )
    w = per.crossJoin(F.broadcast(tot))
    pe = (F.col("n_event") + 1).cast("double") / (
        F.col("_ne") + F.col("_k")
    ).cast("double")
    pn = (F.col("n_nonevent") + 1).cast("double") / (
        F.col("_nn") + F.col("_k")
    ).cast("double")
    woe = F.log(pe / pn)
    contrib = F.round((pe - pn) * woe, 12).cast("decimal(28,12)")
    rows = w.select(
        F.col("_b").alias(bucket_col),
        "n_event",
        "n_nonevent",
        F.round(pe, 9).alias("share_event"),
        F.round(pn, 9).alias("share_nonevent"),
        F.round(woe, 9).alias("woe"),
        contrib.alias("_c"),
    )
    total = rows.agg(F.sum("_c").cast("double").alias("_iv"))
    return rows.crossJoin(F.broadcast(total)).select(
        bucket_col,
        "n_event",
        "n_nonevent",
        "share_event",
        "share_nonevent",
        "woe",
        F.round(F.col("_c").cast("double"), 9).alias("iv_contrib"),
        F.round(F.col("_iv"), 9).alias("iv_total"),
    )


def diff_in_diff(
    df: DataFrame,
    value_col: str,
    treat_col: str,
    period_col: str,
) -> DataFrame:
    """Two-by-two difference-in-differences estimator (Card & Krueger
    1994 canon, public literature): the treatment effect under the
    parallel-trends assumption,

        did = (mean_t1 - mean_t0) - (mean_c1 - mean_c0)

    over the (treated 0/1, period 0/1) cell grid — the causal companion
    of :func:`stratified_ate` for before/after designs.

    All four cell sums are exact DECIMAL (the repo's string-bridge
    cast); the four means and the closing double chain are fixed IEEE,
    rounded to 9.  Plan: ONE global aggregate with conditional sums (a
    single partial-agg pass, no joins at all).  Output ONE row: the
    four cell (n, mean) pairs, both trend deltas, and ``did``.
    """
    v = F.col(value_col).cast("string").cast("decimal(28,6)")
    t = F.col(treat_col).cast("int")
    p = F.col(period_col).cast("int")
    base = df.filter(
        F.col(value_col).isNotNull() & t.isin(0, 1) & p.isin(0, 1)
    )
    cells = {}
    agg_exprs = []
    for ti in (0, 1):
        for pi in (0, 1):
            tag = f"{'t' if ti else 'c'}{pi}"
            cond = (t == ti) & (p == pi)
            agg_exprs.append(
                F.count_if(cond).cast("bigint").alias(f"n_{tag}")
            )
            agg_exprs.append(
                F.sum(F.when(cond, v)).alias(f"_s_{tag}")
            )
            cells[tag] = None
    a = base.agg(*agg_exprs)
    mean = {
        tag: F.col(f"_s_{tag}").cast("double")
        / F.col(f"n_{tag}").cast("double")
        for tag in cells
    }
    d_treat = mean["t1"] - mean["t0"]
    d_ctrl = mean["c1"] - mean["c0"]
    return a.select(
        *[F.col(f"n_{tag}") for tag in ("c0", "c1", "t0", "t1")],
        *[
            F.round(mean[tag], 9).alias(f"mean_{tag}")
            for tag in ("c0", "c1", "t0", "t1")
        ],
        F.round(d_treat, 9).alias("delta_treated"),
        F.round(d_ctrl, 9).alias("delta_control"),
        F.round(d_treat - d_ctrl, 9).alias("did"),
    )


def propensity_match(
    units: DataFrame,
    id_col: str,
    score_col: str,
    treat_col: str,
    outcome_col: str,
    caliper: int,
) -> DataFrame:
    """1-nearest-neighbor propensity matching WITH replacement under an
    integer caliper (Rosenbaum & Rubin 1983 canon, public literature):
    every treated unit matches the control whose score is closest
    (|score diff| <= ``caliper``), ties broken on the lowest control id
    — with replacement, so each treated unit's match is independent and
    the whole operator parallelizes (greedy without-replacement is
    inherently sequential; that variant belongs in a driver loop, not a
    cluster operator).

    CONTRACT: ``score_col`` must be INTEGER-valued (the repo's
    hash-propensity / quantized-score convention) so every distance is
    an exact BIGINT — no float comparisons anywhere in the match.

    The candidate generator is a BLOCKED equi-join, never a cross join:
    controls replicate into their score block and both neighbor blocks
    (block width = ``caliper``), treated units probe ONE block key, and
    any in-caliper pair is provably within one block of the treated
    unit's.  Per-treated argmin is one window over the blocked
    candidates.  ATT = mean over matched pairs of (treated outcome -
    matched control outcome), each pair term quantized to 12 digits and
    summed as exact DECIMAL (the ndcg contract).

    Output one row per treated unit: (id, score, matched_control,
    control_score, score_dist, outcome_treated, outcome_control,
    matched, att_mean [replicated; NULL-safe over zero matches]).
    """
    from pyspark.sql import Window

    if caliper < 1:
        raise ValueError("caliper must be >= 1")
    t = units.select(
        F.col(id_col).alias("_id"),
        F.col(score_col).cast("bigint").alias("_s"),
        F.col(treat_col).cast("int").alias("_t"),
        F.col(outcome_col).cast("double").alias("_y"),
    ).filter(F.col("_t").isin(0, 1))
    treated = t.filter(F.col("_t") == 1).select(
        "_id", "_s", "_y", (F.col("_s") - F.col("_s") % caliper).alias("_blk")
    )
    controls = t.filter(F.col("_t") == 0).select(
        F.col("_id").alias("_cid"),
        F.col("_s").alias("_cs"),
        F.col("_y").alias("_cy"),
    )
    blocks = controls.select(
        "*",
        F.explode(
            F.array(
                F.col("_cs") - F.col("_cs") % caliper - caliper,
                F.col("_cs") - F.col("_cs") % caliper,
                F.col("_cs") - F.col("_cs") % caliper + caliper,
            )
        ).alias("_blk"),
    )
    cand = treated.join(blocks, "_blk").filter(
        F.abs(F.col("_s") - F.col("_cs")) <= caliper
    )
    w = Window.partitionBy("_id").orderBy(
        F.abs(F.col("_s") - F.col("_cs")), F.asc("_cid")
    )
    best = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "_id",
            F.col("_cid"),
            F.col("_cs"),
            F.col("_cy"),
            F.abs(F.col("_s") - F.col("_cs")).alias("_dist"),
        )
    )
    out = treated.join(best, "_id", "left")
    pair_term = F.when(
        F.col("_cid").isNotNull(),
        F.round(F.col("_y") - F.col("_cy"), 12).cast("decimal(28,12)"),
    )
    rows = out.select(
        F.col("_id").alias(id_col),
        F.col("_s").alias("score"),
        F.col("_cid").alias("matched_control"),
        F.col("_cs").alias("control_score"),
        F.col("_dist").alias("score_dist"),
        F.round(F.col("_y"), 9).alias("outcome_treated"),
        F.round(F.col("_cy"), 9).alias("outcome_control"),
        F.col("_cid").isNotNull().alias("matched"),
        pair_term.alias("_pt"),
    )
    att = rows.agg(
        F.when(
            F.count("_pt") > 0,
            F.sum("_pt").cast("double") / F.count("_pt").cast("double"),
        ).alias("_att")
    )
    return rows.crossJoin(F.broadcast(att)).select(
        id_col,
        "score",
        "matched_control",
        "control_score",
        "score_dist",
        "outcome_treated",
        "outcome_control",
        "matched",
        F.round(F.col("_att"), 9).alias("att_mean"),
    )


def cuped(
    units: DataFrame,
    x_col: str,
    y_col: str,
    treat_col: str,
) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013, public literature):
    adjust the experiment metric with a pre-period covariate,
    ``y' = y - theta * (x - mean(x))`` with ``theta = cov(x, y) /
    var(x)`` pooled over all units — the standard online-experiment
    sensitivity boost next to :func:`diff_in_diff`.

    Arm-level identity: the adjusted arm mean needs NO per-unit
    adjusted values — ``adj_arm = mean_y_arm - theta * (mean_x_arm -
    mean_x)`` — so the whole operator is ONE aggregation pass of
    quantized cross-moments (each x, y, x*x, x*y term rounded to 12
    digits and summed as DECIMAL(28,12), the ndcg contract; x and y are
    typically ratios, hence transcendental-free but still
    order-sensitive in float).  ``rho2 = cov^2 / (var_x * var_y)`` is
    the theoretical variance-reduction fraction.

    ``treat_col`` must be 0/1.  Output ONE row: per-arm n and raw means,
    mean_x, theta, adjusted arm means, effect_raw, effect_cuped, rho2.
    NULL theta/adjusted values when var(x) is zero.
    """
    q = lambda c: F.round(c, 12).cast("decimal(28,12)")  # noqa: E731
    t = units.select(
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
        F.col(treat_col).cast("int").alias("_t"),
    ).filter(
        F.col("_x").isNotNull()
        & F.col("_y").isNotNull()
        & F.col("_t").isin(0, 1)
    )
    a = t.agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_if(F.col("_t") == 0).cast("bigint").alias("n0"),
        F.count_if(F.col("_t") == 1).cast("bigint").alias("n1"),
        F.sum(q(F.col("_x"))).cast("double").alias("sx"),
        F.sum(q(F.col("_y"))).cast("double").alias("sy"),
        F.sum(q(F.col("_x") * F.col("_x"))).cast("double").alias("sxx"),
        F.sum(q(F.col("_x") * F.col("_y"))).cast("double").alias("sxy"),
        F.sum(q(F.col("_y") * F.col("_y"))).cast("double").alias("syy"),
        F.sum(F.when(F.col("_t") == 0, q(F.col("_x")))).cast("double").alias("sx0"),
        F.sum(F.when(F.col("_t") == 1, q(F.col("_x")))).cast("double").alias("sx1"),
        F.sum(F.when(F.col("_t") == 0, q(F.col("_y")))).cast("double").alias("sy0"),
        F.sum(F.when(F.col("_t") == 1, q(F.col("_y")))).cast("double").alias("sy1"),
    )
    n = F.col("n").cast("double")
    mx = F.col("sx") / n
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vary = F.col("syy") - F.col("sy") * F.col("sy") / n
    theta = F.when(varx > 0, cov / varx)
    my0 = F.col("sy0") / F.col("n0").cast("double")
    my1 = F.col("sy1") / F.col("n1").cast("double")
    mx0 = F.col("sx0") / F.col("n0").cast("double")
    mx1 = F.col("sx1") / F.col("n1").cast("double")
    adj0 = F.when(varx > 0, my0 - (cov / varx) * (mx0 - mx))
    adj1 = F.when(varx > 0, my1 - (cov / varx) * (mx1 - mx))
    rho2 = F.when(
        (varx > 0) & (vary > 0), (cov * cov) / (varx * vary)
    )
    return a.select(
        "n0",
        "n1",
        F.round(my0, 9).alias("mean_y_control"),
        F.round(my1, 9).alias("mean_y_treated"),
        F.round(mx, 9).alias("mean_x"),
        F.round(theta, 9).alias("theta"),
        F.round(adj0, 9).alias("adj_control"),
        F.round(adj1, 9).alias("adj_treated"),
        F.round(my1 - my0, 9).alias("effect_raw"),
        F.round(
            F.when(
                varx > 0,
                (my1 - (cov / varx) * (mx1 - mx))
                - (my0 - (cov / varx) * (mx0 - mx)),
            ),
            9,
        ).alias("effect_cuped"),
        F.round(rho2, 9).alias("rho2"),
    )


def brier_decomposition(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    n_bins: int = 10,
    denom: int = 2**20,
) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score over forecast
    bins — Brier = reliability - resolution + uncertainty — the
    calibration-vs-sharpness readout next to :func:`calibration_report`
    (public method; the identity is exact when the bin forecast is the
    bin mean).

    Same contract as calibration_report: ``score_col`` INTEGER-valued in
    ``[0, denom)``.  With the default ``denom = 2**20`` the Brier
    numerator ``sum (s_i - y_i * denom)^2`` stays exact BIGINT
    end-to-end (per-row square <= 2^40); the per-bin reliability /
    resolution terms involve divisions, so they ride the quantized-term
    contract (round each to 12, sum as DECIMAL(28,12), close at 9) —
    engine-exact, which is what the oracle hash needs.

    Output per non-empty bin: (bin, n, pos, bin_confidence,
    bin_accuracy) plus the group constants (base_rate, brier,
    reliability, resolution, uncertainty, total_n).  Plan: ONE bin-keyed
    partial-agg shuffle + a 1-row totals broadcast.
    """
    if n_bins <= 0:
        raise ValueError("n_bins must be positive")
    s = F.col(score_col).cast("bigint")
    y = F.col(label_col).cast("bigint")
    binned = df.select(
        F.floor(s * n_bins / F.lit(denom)).cast("int").alias("bin"),
        s.alias("_s"),
        y.alias("_y"),
        ((s - y * denom) * (s - y * denom)).alias("_sq"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("_y").cast("bigint").alias("pos"),
        F.sum("_s").cast("bigint").alias("_sum_s"),
        F.sum("_sq").cast("bigint").alias("_brier_num"),
    )
    totals = per_bin.agg(
        F.sum("n").cast("bigint").alias("total_n"),
        F.sum("pos").cast("bigint").alias("_p"),
        F.sum("_brier_num").cast("bigint").alias("_bn"),
    )
    w = per_bin.crossJoin(F.broadcast(totals))
    f_k = F.col("_sum_s").cast("double") / (
        F.col("n") * F.lit(denom)
    ).cast("double")
    o_k = F.col("pos").cast("double") / F.col("n").cast("double")
    obar = F.col("_p").cast("double") / F.col("total_n").cast("double")
    rel_t = F.round(F.col("n").cast("double") * (f_k - o_k) * (f_k - o_k), 12)
    res_t = F.round(F.col("n").cast("double") * (o_k - obar) * (o_k - obar), 12)
    rows = w.select(
        "bin",
        "n",
        "pos",
        F.round(f_k, 9).alias("bin_confidence"),
        F.round(o_k, 9).alias("bin_accuracy"),
        "total_n",
        "_p",
        "_bn",
        rel_t.cast("decimal(28,12)").alias("_rel"),
        res_t.cast("decimal(28,12)").alias("_res"),
    )
    comp = rows.agg(
        F.sum("_rel").alias("_rel_s"), F.sum("_res").alias("_res_s")
    )
    obar2 = F.col("_p").cast("double") / F.col("total_n").cast("double")
    return rows.crossJoin(F.broadcast(comp)).select(
        "bin",
        "n",
        "pos",
        "bin_confidence",
        "bin_accuracy",
        F.round(obar2, 9).alias("base_rate"),
        F.round(
            F.col("_bn").cast("double")
            / (
                F.col("total_n").cast("double")
                * F.lit(float(denom) * float(denom))
            ),
            9,
        ).alias("brier"),
        F.round(
            F.col("_rel_s").cast("double") / F.col("total_n").cast("double"),
            9,
        ).alias("reliability"),
        F.round(
            F.col("_res_s").cast("double") / F.col("total_n").cast("double"),
            9,
        ).alias("resolution"),
        F.round(obar2 * (F.lit(1.0) - obar2), 9).alias("uncertainty"),
        "total_n",
    )


def cumulative_gains(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    n_buckets: int = 10,
    denom: int = 2**32,
) -> DataFrame:
    """Cumulative gains / lift chart over score bins — "what share of
    positives does the top-k% of scores capture" (the campaign-targeting
    readout; public method).  Same integer-score contract as
    calibration_report, and the same tie story: bucketing by score
    VALUE ranges (not ntile row counts) keeps ties engine-stable —
    ntile splits tied rows arbitrarily and never hash-matches.

    Everything is exact BIGINT until the closing divisions:
    ``gain = cum_pos / P``; ``lift = (cum_pos * N) / (cum_n * P)`` —
    one cross-multiplied ratio, no intermediate float.

    Plan: ONE bin-keyed partial-agg shuffle, a cumulative window over
    the <= n_buckets bin frame (metadata-sized single partition by
    construction), a 1-row totals broadcast.  Output per non-empty bin,
    highest scores first: (bin, n, pos, cum_n, cum_pos, gain, lift).
    """
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    s = F.col(score_col).cast("bigint")
    per_bin = (
        df.select(
            F.floor(s * n_buckets / F.lit(denom)).cast("int").alias("bin"),
            F.col(label_col).cast("bigint").alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("_y").cast("bigint").alias("pos"),
        )
    )
    w = (
        Window.orderBy(F.col("bin").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_bin.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        F.sum("pos").over(w).cast("bigint").alias("cum_pos"),
    )
    tot = per_bin.agg(
        F.sum("n").cast("bigint").alias("_tn"),
        F.sum("pos").cast("bigint").alias("_tp"),
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "pos",
        "cum_n",
        "cum_pos",
        F.when(
            F.col("_tp") > 0,
            F.round(
                F.col("cum_pos").cast("double") / F.col("_tp").cast("double"),
                9,
            ),
        ).alias("gain"),
        F.when(
            F.col("_tp") > 0,
            F.round(
                (F.col("cum_pos") * F.col("_tn")).cast("double")
                / (F.col("cum_n") * F.col("_tp")).cast("double"),
                9,
            ),
        ).alias("lift"),
    )


def pinball_loss(
    df: DataFrame,
    pred_col: str,
    y_col: str = "value",
    taus: tuple = (0.1, 0.5, 0.9),
) -> DataFrame:
    """Pinball (quantile) loss of a quantile forecast at each ``tau`` —
    THE evaluation metric for quantile-regression / probabilistic
    forecasting:  loss_i = max(tau * (y - q), (tau - 1) * (y - q)),
    reported as the mean per tau.

    Exactness: y and the prediction are decimal-quantized, the tau
    factors are decimal literals, so every per-row term — including the
    max of the two branches — is EXACT decimal arithmetic; the only
    IEEE step is the closing mean division.  Taus must have one
    decimal digit (the exactness contract).

    Plan: one explode (|taus| = 3 rows per event, map-side) + ONE
    tau-keyed aggregate.  Output: (tau, n, pinball) per tau.
    """
    from .stats import _dec

    for t in taus:
        if abs(t * 10 - round(t * 10)) > 1e-12:
            raise ValueError(f"tau {t} must have one decimal digit")
    y = _dec(F.col(y_col))
    q = _dec(F.col(pred_col))
    tau_rows = F.array(
        *[F.lit(int(round(t * 10))) for t in taus]
    )
    base = df.filter(
        F.col(y_col).isNotNull() & F.col(pred_col).isNotNull()
    ).select(
        y.alias("_y"), q.alias("_q"),
        F.explode(tau_rows).alias("_t10"),
    )
    # tau as exact decimal(2,1): t10 / 10 via string round-trip
    tau_dec = F.concat(
        (F.col("_t10") / 10).cast("int").cast("string"),
        F.lit("."),
        (F.col("_t10") % 10).cast("string"),
    ).cast("decimal(2,1)")
    diff = F.col("_y") - F.col("_q")
    term = F.greatest(
        tau_dec * diff, (tau_dec - F.lit(1).cast("decimal(2,1)")) * diff
    )
    agg = base.select(F.col("_t10"), term.alias("_loss")).groupBy(
        "_t10"
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("_loss").alias("_sum"),
    )
    return agg.select(
        (F.col("_t10").cast("double") / 10).alias("tau"),
        "n",
        F.round(
            F.col("_sum").cast("double") / F.col("n").cast("double"), 9
        ).alias("pinball"),
    ).orderBy("tau")


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 64,
    denom: int = 2**32,
) -> DataFrame:
    """Isotonic (PAV) probability calibration over score bins — the
    order-restricted regression used to calibrate ranker / reward-model
    scores: pool-adjacent-violators makes the per-bin positive rate
    monotone non-decreasing in the score while minimizing squared error
    (Ayer et al. 1955; Zadrozny & Elkan 2002).

    EXACT-FRACTION contract: pooled rates are rationals
    (sum pos / sum n); PAV compares and merges them by integer
    cross-multiplication only, and the output carries the gcd-reduced
    ``cal_num / cal_den`` BIGINTs next to the display double — so an
    independent plain-Python reference reproduces every block boundary
    bit-for-bit (no float comparisons anywhere inside the algorithm).

    Scale shape: facts reduce to <= ``bins`` rows via ONE bin-keyed
    shuffle; PAV itself is inherently sequential, so it runs as one
    Arrow kernel task over the metadata-sized bin frame (never over
    facts).  Output: (bin, n, pos, cal_num, cal_den, calibrated).
    """
    binned = isotonic_bin_stats(df, score_col, label_col, bins, denom)
    return isotonic_close(binned)


def isotonic_bin_stats(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 64,
    denom: int = 2**32,
) -> DataFrame:
    """Per-bin (count, positives) — the mergeable state
    :func:`isotonic_close` consumes.  Both aggregates merge
    associatively across partial aggregations."""
    s = F.col(score_col)
    b = F.floor(s * bins / F.lit(denom)).cast("int").alias("bin")
    return (
        df.select(b, F.col(label_col).cast("bigint").alias("_y"))
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("_y").cast("bigint").alias("pos"),
        )
    )


def isotonic_close(binned: DataFrame) -> DataFrame:
    """PAV over the (bin, n, pos) frame — see
    :func:`isotonic_calibration` for the exact-fraction contract."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("bin", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("pos", T.LongType()),
            T.StructField("cal_num", T.LongType()),
            T.StructField("cal_den", T.LongType()),
        ]
    )

    def pav(pdf):
        import math

        import pandas as pd

        rows = sorted(
            zip(pdf["bin"], pdf["n"], pdf["pos"]), key=lambda r: r[0]
        )
        # stack of pooled blocks [start_idx, n_sum, pos_sum]
        stack: list[list[int]] = []
        for i, (_, n_i, p_i) in enumerate(rows):
            stack.append([i, int(n_i), int(p_i)])
            # merge while the last block's rate < the previous block's:
            # pos1/n1 > pos2/n2  <=>  pos1*n2 > pos2*n1 (integers only)
            while (
                len(stack) >= 2
                and stack[-2][2] * stack[-1][1]
                > stack[-1][2] * stack[-2][1]
            ):
                s2 = stack.pop()
                stack[-1][1] += s2[1]
                stack[-1][2] += s2[2]
        out = []
        blk = 0
        for i, (bin_i, n_i, p_i) in enumerate(rows):
            if blk + 1 < len(stack) and i >= stack[blk + 1][0]:
                blk += 1
            num, den = stack[blk][2], stack[blk][1]
            g = math.gcd(num, den) or 1
            out.append(
                (int(bin_i), int(n_i), int(p_i), num // g, den // g)
            )
        return pd.DataFrame(
            out, columns=["bin", "n", "pos", "cal_num", "cal_den"]
        )

    pooled = binned.groupBy(F.lit(0).alias("_g")).applyInPandas(
        lambda key, pdf: pav(pdf), out_schema
    )
    return pooled.select(
        "bin", "n", "pos", "cal_num", "cal_den",
        F.round(
            F.col("cal_num").cast("double") / F.col("cal_den").cast("double"),
            9,
        ).alias("calibrated"),
    )


def mcc_thresholds(
    df: DataFrame,
    score_col: str,
    label_col: str,
    denom: int,
    n_thresholds: int = 9,
) -> DataFrame:
    """Matthews correlation coefficient of the binary classifier
    ``score >= k * denom / (n_thresholds + 1)`` for k = 1..n_thresholds
    — the threshold-sweep companion of :func:`auc_roc`/``pr_curve``,
    using the balanced single-number summary that survives class skew
    (Matthews 1975, public literature).

    ``score_col`` is an integer pseudo-score in [0, denom) (the repo's
    md5/hash32 contract), and the threshold grid divides [0, denom)
    evenly, so bucket membership b = floor(score * (n+1) / denom) is an
    exact integer and "score >= threshold_k" == "b >= k".  ONE
    bucket-keyed partial-agg pass over the facts yields (count, pos)
    per bucket — n_thresholds+1 rows — and every confusion cell derives
    from cumulative sums over that metadata-sized frame (NO per-
    threshold fact pass: the naive sweep re-scans the corpus once per
    threshold).  MCC's numerator TP*TN - FP*FN stays integer; the
    denominator converts each margin to double BEFORE multiplying (the
    product of four ~n margins overflows BIGINT at corpus scale) —
    sqrt over one fixed IEEE op tree.

    Output n_thresholds rows: (threshold_units, tp, fp, tn, fn, mcc).
    """
    return mcc_close(
        mcc_bucket_stats(df, score_col, label_col, denom, n_thresholds),
        denom,
        n_thresholds,
    )


def mcc_bucket_stats(
    df: DataFrame,
    score_col: str,
    label_col: str,
    denom: int,
    n_thresholds: int = 9,
) -> DataFrame:
    """The mergeable state of :func:`mcc_thresholds`: per-bucket
    (count, positives) — both sum associatively across partitions."""
    nb = n_thresholds + 1
    base = df.select(
        (F.col(score_col).cast("bigint") * nb / denom)
        .cast("bigint")
        .alias("_b"),
        F.col(label_col).cast("int").alias("_y"),
    )
    return base.groupBy("_b").agg(
        F.count("*").cast("bigint").alias("_cnt"),
        F.sum("_y").cast("bigint").alias("_pos"),
    )


def mcc_close(
    per_bucket: DataFrame,
    denom: int,
    n_thresholds: int = 9,
) -> DataFrame:
    """Close :func:`mcc_thresholds` from the bucket-state frame."""
    nb = n_thresholds + 1
    tot = per_bucket.agg(
        F.sum("_cnt").cast("bigint").alias("_n"),
        F.sum("_pos").cast("bigint").alias("_p"),
    )
    ks = F.broadcast(
        per_bucket.sparkSession.range(1, nb).select(
            F.col("id").alias("_k")
        )
    )
    # >= is a theta-join, but BOTH sides are metadata-sized (n_thresholds
    # + 1 buckets x n_thresholds grid rows) — the fact table never meets
    # a non-equi condition
    present = (
        per_bucket.join(ks, per_bucket["_b"] >= ks["_k"])
        .groupBy("_k")
        .agg(
            F.sum("_cnt").cast("bigint").alias("_cge"),
            F.sum("_pos").cast("bigint").alias("_pge"),
        )
    )
    allk = (
        ks.join(present, "_k", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "_k", "_n", "_p",
            F.coalesce("_cge", F.lit(0)).cast("bigint").alias("_cge"),
            F.coalesce("_pge", F.lit(0)).cast("bigint").alias("_pge"),
        )
    )
    tp = F.col("_pge")
    fp = F.col("_cge") - F.col("_pge")
    fn = F.col("_p") - F.col("_pge")
    tn = (F.col("_n") - F.col("_p")) - fp
    den = F.sqrt(
        (tp + fp).cast("double")
        * (tp + fn).cast("double")
        * (tn + fp).cast("double")
        * (tn + fn).cast("double")
    )
    valid = (tp + fp > 0) & (tp + fn > 0) & (tn + fp > 0) & (tn + fn > 0)
    return allk.select(
        (F.col("_k") * denom / nb).cast("bigint").alias("threshold_units"),
        tp.alias("tp"),
        fp.alias("fp"),
        tn.alias("tn"),
        fn.alias("fn"),
        F.when(
            valid, F.round((tp * tn - fp * fn).cast("double") / den, 9)
        ).alias("mcc"),
    ).orderBy("threshold_units")


def log_loss(
    df: DataFrame,
    score_col: str,
    label_col: str,
    denom: int,
) -> DataFrame:
    """Mean binary cross-entropy of the pseudo-probability
    ``p = (score + 1) / (denom + 2)`` against the 0/1 label — the
    proper-scoring companion of ``brier_decomposition`` (log loss
    penalizes confident misses unboundedly; Brier quadratically).

    The +1/+2 Laplace shift keeps p strictly inside (0, 1) with NO
    clamping branch (a clamp would put an engine-specific epsilon into
    the hash).  The transcendental ln rides the repo's quantized-term
    contract (woe_iv, js_divergence): each per-row term
    -(y ln p + (1-y) ln(1-p)) is rounded to 12 digits and summed as
    DECIMAL(28,12) — exact, order-insensitive, partitioning-proof; the
    closing mean is one IEEE division rounded to 9.

    Plan: map-side term chain, ONE global partial agg; nothing keyed,
    nothing collected.  Output one row: (n, n_pos, loss_sum_q12 as
    double, log_loss).
    """
    return log_loss_close(log_loss_state(df, score_col, label_col, denom))


def log_loss_state(
    df: DataFrame,
    score_col: str,
    label_col: str,
    denom: int,
) -> DataFrame:
    """The mergeable state of :func:`log_loss`: one row of (count,
    positive count, exact DECIMAL(28,12) sum of quantized per-row
    terms) — all three merge associatively across partitions."""
    p = (F.col(score_col).cast("double") + F.lit(1.0)) / F.lit(
        float(denom + 2)
    )
    y = F.col(label_col).cast("int")
    term = -(
        F.when(y == 1, F.log(p)).otherwise(F.log(F.lit(1.0) - p))
    )
    base = df.select(
        y.alias("_y"), F.round(term, 12).cast("decimal(28,12)").alias("_t")
    )
    return base.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("_y").cast("bigint").alias("n_pos"),
        F.sum("_t").alias("_ts"),
    )


def log_loss_close(row: DataFrame) -> DataFrame:
    """Close :func:`log_loss` from its one-row state frame."""
    return row.select(
        "n",
        "n_pos",
        F.round(F.col("_ts").cast("double"), 9).alias("loss_sum"),
        F.when(
            F.col("n") > 0,
            F.round(
                F.col("_ts").cast("double") / F.col("n").cast("double"), 9
            ),
        ).alias("log_loss"),
    )


def krippendorff_alpha_nominal(
    ratings: DataFrame,
    unit_col: str,
    value_col: str,
) -> DataFrame:
    """Krippendorff's alpha for nominal data — the inter-annotator
    agreement coefficient that handles MISSING ratings and any number
    of raters (Krippendorff 2004, public literature), the general
    companion to the two-rater ``cohens_kappa``.

    Exactness: with per-unit value counts n_uc and unit rater totals
    m_u (units with m_u < 2 are unpairable and excluded), the observed
    disagreement collapses to the closed form
    sum_u (m_u^2 - sum_c n_uc^2) / (m_u - 1); carried DOUBLED it stays
    an exact integer whenever m_u <= 3 (and generally rides one exact
    rational per unit).  The expected disagreement is
    (n^2 - sum_c n_c^2) over marginals.  alpha = 1 -
    (n-1) * Do2 / (2 * De_num) — every operand an exact BIGINT, one
    closing IEEE division rounded to 9.  This implementation fixes the
    rater budget small enough (callers: <= 3) that Do2 is exactly
    integral; a wider panel needs the lcm-scaled variant.

    Plan: ONE (unit, value)-keyed partial-agg shuffle; the unit frame
    and the value-marginal frame both derive from it (unit cardinality
    and label cardinality, never fact-sized twice); one global close.
    Output one row: (n_units, n_values, n, do2, de_num, alpha).
    """
    cells = (
        ratings.filter(
            F.col(unit_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(unit_col).alias("_u"), F.col(value_col).alias("_c")
        )
        .agg(F.count("*").cast("bigint").alias("_nuc"))
    )
    per_u = cells.groupBy("_u").agg(
        F.sum("_nuc").cast("bigint").alias("_mu"),
        F.sum(F.col("_nuc") * F.col("_nuc")).cast("bigint").alias("_sq"),
    ).filter(F.col("_mu") >= 2)
    do_row = per_u.agg(
        F.count("*").cast("bigint").alias("n_units"),
        F.sum("_mu").cast("bigint").alias("n"),
        F.sum(
            F.lit(2)
            * (F.col("_mu") * F.col("_mu") - F.col("_sq"))
            / (F.col("_mu") - 1)
        ).cast("bigint").alias("do2"),
    )
    marg = (
        cells.join(per_u.select("_u"), "_u")
        .groupBy("_c")
        .agg(F.sum("_nuc").cast("bigint").alias("_nc"))
    )
    de_row = marg.agg(
        F.count("*").cast("bigint").alias("n_values"),
        F.sum(F.col("_nc") * F.col("_nc")).cast("bigint").alias("_sqc"),
    )
    row = do_row.crossJoin(F.broadcast(de_row))
    de_num = F.col("n") * F.col("n") - F.col("_sqc")
    valid = (F.col("n") > 1) & (de_num > 0)
    return row.select(
        "n_units",
        "n_values",
        "n",
        "do2",
        de_num.cast("bigint").alias("de_num"),
        F.when(
            valid,
            F.round(
                F.lit(1.0)
                - (F.col("n") - 1).cast("double")
                * F.col("do2").cast("double")
                / (F.lit(2.0) * de_num.cast("double")),
                9,
            ),
        ).alias("alpha"),
    )
