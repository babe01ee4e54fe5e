"""Statistical moments, standardization, correlation, and OLS trend fits —
deterministic enough to hash-match a DuckDB oracle.

Built-in ``stddev``/``corr`` aggregate floats in partition order, so their
last ulps differ run-to-run and engine-to-engine.  Here every SUM is exact:
values quantize to DECIMAL through the double's shortest-roundtrip string
(exact while inputs carry <= 6 fractional digits — assert upstream for
wilder data), products stay inside DECIMAL(37,12), and integer sums are
BIGINT.  The exact aggregates are then cast to double ONCE and combined in
a fixed, parenthesized IEEE chain (+ ``sqrt``, which IEEE 754 requires to
be correctly rounded — unlike exp/log it is safe cross-engine).  Same
aggregates, same chain, same bits.

Scale shape: every operator is one partial-aggregated key shuffle (moments)
plus, for z-scores, a group-keyed join back (AQE broadcasts the moments
side when small).  No windows, no collects.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["group_moments", "zscore", "pearson_corr", "ols_fit", "quantile_bucketize", "ewma_halving", "ewma", "weighted_median", "gini_concentration", "cusum_changepoint", "spearman_rank_corr", "mann_whitney_u", "welch_t", "ks_statistic", "winsorize", "rolling_ols_slope", "quantile_normalize", "seasonal_dow_index", "wilson_interval", "decile_lift", "seasonal_naive_backtest", "corr_matrix", "period_decomposition", "dow_adjusted", "share_of_parent", "poisson_bootstrap_ci", "flag_runs", "page_hinkley", "anova_f", "anova_group_stats", "anova_close", "sax_symbols", "kruskal_wallis", "levene_bf", "friedman_q", "cramers_v", "kendall_tau_b"]


def _dec(col: Column) -> Column:
    """Exact decimal image of a double with <= 6 fractional digits."""
    return col.cast("string").cast("decimal(18,6)")


def _var_expr(n: Column, s: Column, ss: Column) -> Column:
    """Sample variance from exact aggregates, clamped at 0 (the cast to
    double can leave a tiny negative residue for constant groups)."""
    return F.greatest(
        (ss - (s * s) / n) / (n - 1), F.lit(0.0)
    )


def group_moments(
    df: DataFrame, value_col: str, group_cols: Sequence[str]
) -> DataFrame:
    """Per group: (group..., n, mean, std) with sample (n-1) std.

    Returns the internal exact sums too (``_s``, ``_ss`` as doubles) so
    :func:`zscore` can reuse the frame without re-aggregating.
    """
    keys = list(group_cols)
    v = _dec(F.col(value_col))
    agg = df.groupBy(*keys).agg(
        F.count(value_col).alias("n"),
        F.sum(v).cast("double").alias("_s"),
        F.sum(v * v).cast("double").alias("_ss"),
    )
    mean = F.col("_s") / F.col("n")
    std = F.when(
        F.col("n") > 1,
        F.sqrt(_var_expr(F.col("n"), F.col("_s"), F.col("_ss"))),
    )
    return agg.select(*keys, "n", "_s", "_ss", mean.alias("mean"), std.alias("std"))


def zscore(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    out_col: str = "z",
) -> DataFrame:
    """Per-row standardization against the group moments: ``(x - mean) /
    std``; NULL for groups with zero variance or fewer than 2 rows."""
    keys = list(group_cols)
    m = group_moments(df, value_col, keys).select(*keys, "mean", "std")
    z = F.when(
        F.col("std") > 0, (F.col(value_col) - F.col("mean")) / F.col("std")
    )
    return df.join(m, keys).withColumn(out_col, z)


def pearson_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: Sequence[str],
    out_col: str = "r",
) -> DataFrame:
    """Per-group Pearson correlation from exact decimal cross-moments:
    ``(n*sxy - sx*sy) / (sqrt(n*sxx - sx^2) * sqrt(n*syy - sy^2))``.
    NULL when either marginal variance is zero."""
    keys = list(group_cols)
    x, y = _dec(F.col(x_col)), _dec(F.col(y_col))
    agg = df.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n = F.col("n")
    vx = F.greatest(n * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0))
    vy = F.greatest(n * F.col("syy") - F.col("sy") * F.col("sy"), F.lit(0.0))
    r = F.when(
        (vx > 0) & (vy > 0),
        (n * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.sqrt(vx) * F.sqrt(vy)),
    )
    return agg.select(*keys, "n", r.alias(out_col))


def ols_fit(
    points: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: Sequence[str],
) -> DataFrame:
    """Per-group least-squares line ``y = slope*x + intercept`` over
    INTEGER points (exact bigint sums — feed it aggregated series like
    (epoch_day, daily_count); for float inputs go through
    :func:`pearson_corr`-style decimal quantization instead).

    ``slope = (n*sxy - sx*sy) / (n*sxx - sx^2)``, NULL for degenerate x.
    """
    keys = list(group_cols)
    x, y = F.col(x_col).cast("bigint"), F.col(y_col).cast("bigint")
    agg = points.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    den = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    slope = F.when(den > 0, num / den)
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / n
    return agg.select(
        *keys, "n", slope.alias("slope"), intercept.alias("intercept")
    )


def quantile_bucketize(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 4,
    id_col: str = "event_id",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Quantile discretizer (the QuantileDiscretizer / feature-binning
    step of ML feature prep): assign each row the bucket its value falls
    into between the EXACT ``1/n .. (n-1)/n`` quantile edges — per group
    when ``group_cols`` is given, so a per-segment binning never leaks
    another segment's distribution.

    Bucket ids are 0-based; a value EQUAL to an edge goes to the upper
    bucket (ties up — documented, engine-stable because both engines
    compare the same 6-decimal-rounded edges); NULL values get a NULL
    bucket.  Returns (group_cols..., id_col, value_col, bucket).

    Plan shape: one aggregation computes ALL edges (sort-based exact
    ``percentile``, bit-matched to DuckDB's quantile_cont per the repo's
    X20 contract) — a group-cardinality frame that broadcast-joins back
    (1-row cross join when ungrouped); the assignment is a map-side
    array scan over n-1 edges.  Two passes over the fact, zero windows,
    no per-row shuffle beyond the edge join.
    """
    keys = list(group_cols)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    edge_aggs = [
        F.round(F.percentile(F.col(value_col), q), 6).alias(f"_e{i}")
        for i, q in enumerate(qs)
    ]
    edge_cols = [F.col(f"_e{i}") for i in range(len(qs))]
    if keys:
        edges = df.groupBy(*keys).agg(*edge_aggs)
        joined = df.join(F.broadcast(edges), keys)
    else:
        edges = df.agg(*edge_aggs)
        joined = df.crossJoin(F.broadcast(edges))
    v = F.col(value_col)
    bucket = F.size(F.filter(F.array(*edge_cols), lambda e: v >= e))
    return joined.select(
        *keys,
        F.col(id_col),
        v,
        F.when(v.isNotNull(), bucket).cast("int").alias("bucket"),
    )


def _ewma_packed_fold(
    df: DataFrame,
    fold_expr: str,
    value_col: str,
    ts_col: str,
    key_cols: Sequence[str],
    id_col: str,
) -> DataFrame:
    """Shared skeleton of the two EWMA variants: NULL filter, one key
    shuffle into a per-key (ts, id)-sorted packed list, the per-position
    prefix fold given by ``fold_expr`` (a SQL lambda body over
    ``(acc, x)``), and the exploded (keys..., id, ts, value, ewma)
    output.  Both variants MUST share this plan — their equivalence
    contract depends on identical NULL handling, fold order, and output
    shape."""
    keys = list(key_cols)
    packed = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("ts"),
                        F.col(id_col).alias("id"),
                        F.col(value_col).cast("double").alias("v"),
                    )
                )
            ).alias("_l")
        )
    )
    run = F.expr(
        "transform(_l, (e, i) -> struct("
        "e.id AS id, e.ts AS ts, e.v AS v, "
        "aggregate(transform(slice(_l, 2, i), x -> x.v), "
        f"element_at(_l, 1).v, (acc, x) -> {fold_expr}) AS s))"
    )
    return (
        packed.select(*keys, F.explode(run).alias("_r"))
        .select(
            *keys,
            F.col("_r.id").alias(id_col),
            F.col("_r.ts").alias(ts_col),
            F.col("_r.v").alias(value_col),
            F.col("_r.s").alias("ewma"),
        )
    )


def ewma_halving(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("user_id",),
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key running EWMA with alpha = 1/2 — each event's smoothed
    baseline ``s_1 = v_1, s_i = (s_{i-1} + v_i) / 2``.

    alpha = 1/2 is the deliberately chosen smoothing constant: halving is
    EXACT in binary floating point (an exponent decrement plus one
    addition), so the whole recurrence is a fixed IEEE chain that any
    engine replays bit-identically — general-alpha EWMA multiplies by a
    non-dyadic constant and drifts in the last ulp across engines.  NULL
    values are excluded from the stream (they neither emit nor decay the
    state); ties on the timestamp order by ``id_col``, so the fold order
    is total.

    Returns (key_cols..., id_col, ts_col, value, ewma) — one row per
    non-null input event.

    Plan shape: ONE key shuffle into a per-key ordered fold
    (``array_sort`` + higher-order ``aggregate`` inside the aggregation
    buffer — bounded by the key's own event count, the same contract as
    the behavioral family; a whale key bounds at its history length, and
    the per-position prefix folds are O(n^2) IN-MEMORY arithmetic on
    that buffer, acceptable for per-entity histories and documented).
    """
    return _ewma_packed_fold(
        df, "(acc + x) / 2", value_col, ts_col, key_cols, id_col
    )


def ewma(
    df: DataFrame,
    alpha: float = 0.5,
    value_col: str = "value",
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("user_id",),
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key running EWMA for ARBITRARY alpha in (0, 1] — the
    general-smoothing upgrade over :func:`ewma_halving` (which stays the
    alpha=1/2 special case and is delegated to, preserving its exact
    one-rounding-per-step halving chain).

    ``s_1 = v_1, s_i = s_{i-1} * (1-alpha) + v_i * alpha``.

    Cross-engine determinism contract: the fold is a FIXED sequence of
    IEEE-double basic ops (*, +), each correctly rounded by every IEEE
    engine, with both constants bound once as ``CAST('<repr>' AS
    DOUBLE)`` — Python ``repr`` round-trips the exact double, and
    parsing a decimal string to double is correctly rounded everywhere —
    so ANY engine replaying the same token sequence (the DuckDB oracle
    does) reproduces every
    ``ewma`` bit-identically, even for non-dyadic alpha like 0.3.  What
    is NOT contracted is algebraic equivalence across different
    formulations: ``s + alpha*(v - s)`` rounds differently — replays
    must use this exact form.  (This closes the r5 "alpha=1/2 only"
    gap: bit-identity never needed exactness of each step, only an
    identical rounding sequence; halving's per-step exactness remains a
    nice-to-have for its twin.)

    NULL handling, (ts, id) total fold order, output shape
    (keys..., id, ts, value, ewma) and the one-key-shuffle packed-fold
    plan are identical to :func:`ewma_halving`.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"ewma: alpha must be in (0, 1], got {alpha!r}")
    if alpha == 0.5:
        return ewma_halving(
            df, value_col=value_col, ts_col=ts_col, key_cols=key_cols,
            id_col=id_col,
        )
    a_lit = f"CAST('{float(alpha)!r}' AS DOUBLE)"
    oma_lit = f"CAST('{1.0 - float(alpha)!r}' AS DOUBLE)"
    return _ewma_packed_fold(
        df,
        f"acc * {oma_lit} + x * {a_lit}",
        value_col,
        ts_col,
        key_cols,
        id_col,
    )


def chisq_cells(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Chi-square-of-independence contingency cells over two categorical
    columns: (row_col, col_col, obs, row_total, col_total, chi2_contrib),
    where ``chi2_contrib`` is the cell's (O - E)^2 / E term computed as
    the algebraically identical (obs*N - r*c)^2 / (N*r*c) — integer
    deviations, ONE fixed IEEE division chain, ROUND 6.

    Scale shape: one fact aggregate reduces any input to
    <= |dom(row)| x |dom(col)| cells; row/col/grand totals re-aggregate
    the CELL table and broadcast back (two-pass broadcast idiom) — no
    empty-partition window funnel, nothing after the first agg touches
    fact-sized data.  Exact while obs*N < 2^63 (~3e9 rows at 100%
    concentration); beyond that promote the products to DECIMAL(38,0).
    """
    from .dedup import _materialize

    # compute-once barrier: rt/ct/nt/joined all consume `cells`, and
    # without it each branch re-embeds the FACT aggregate — four full
    # input scans instead of one.  The cell table is domain-sized.
    cells = _materialize(
        df.groupBy(row_col, col_col).agg(
            F.count("*").cast("bigint").alias("obs")
        )
    )
    rt = cells.groupBy(row_col).agg(
        F.sum("obs").cast("bigint").alias("row_total")
    )
    ct = cells.groupBy(col_col).agg(
        F.sum("obs").cast("bigint").alias("col_total")
    )
    nt = cells.agg(F.sum("obs").cast("bigint").alias("n_total"))
    joined = (
        cells.join(F.broadcast(rt), row_col)
        .join(F.broadcast(ct), col_col)
        .crossJoin(F.broadcast(nt))
    )
    dev = (
        F.col("obs") * F.col("n_total")
        - F.col("row_total") * F.col("col_total")
    ).cast("double")
    den = (
        F.col("n_total") * F.col("row_total") * F.col("col_total")
    ).cast("double")
    return joined.select(
        row_col,
        col_col,
        "obs",
        "row_total",
        "col_total",
        F.round(dev * dev / den, 6).alias("chi2_contrib"),
    )


def weighted_median(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str = "value",
    weight_col: str = "wt",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Exact weighted median per group — the importance-weighted quantile
    a sampling/reweighting pipeline needs: the smallest ``(value,
    tiebreak)`` row whose running weight reaches half the group total,
    decided as ``2*cumsum >= total`` in exact integers (no division, no
    float ranks).

    Plan: ONE group-keyed shuffle carries both windows (running weight
    sum + group total over the same sort); the qualifying-row pick is a
    lexicographic MIN(struct) aggregate — no second sort, no self-join
    (plan-asserted in test_plan_shapes.py).  Output: group columns,
    ``weighted_median``, ``total_weight``.
    """
    from pyspark.sql import Window

    run = (
        Window.partitionBy(*group_cols)
        .orderBy(value_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    whole = Window.partitionBy(*group_cols)
    c = df.select(
        *group_cols,
        value_col,
        tiebreak_col,
        F.sum(weight_col).over(run).alias("cw"),
        F.sum(weight_col).over(whole).alias("tw"),
    )
    q = c.filter(2 * F.col("cw") >= F.col("tw"))
    return q.groupBy(*group_cols).agg(
        F.min(F.struct(value_col, tiebreak_col)).getField(value_col)
        .alias("weighted_median"),
        F.max("tw").cast("bigint").alias("total_weight"),
    )


def gini_concentration(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Gini coefficient per group — the inequality/imbalance diagnostic a
    data-mixing pipeline runs per domain/source (is 1% of the corpus
    carrying 90% of the tokens?).  Classic rank formula
    ``G = (2*sum(i*x_(i)) - (n+1)*sum(x)) / (n*sum(x))`` over
    ascending-sorted non-negative values (NULL gini for an all-zero
    group, where the coefficient is undefined); numerator and
    denominator are
    EXACT (decimal value image via :func:`_dec`, bigint ranks), so the
    only float op is one cast-and-divide at the end — bit-identical
    cross-engine per the module's moments contract.

    Plan: ONE group-keyed shuffle carries the rank window and the final
    aggregate (same key — ENSURE_REQUIREMENTS reuses the exchange;
    plan-asserted).  Output: group columns, ``n``, ``total_value``,
    ``gini`` (rounded to 9 digits).
    """
    from pyspark.sql import Window

    r = df.select(
        *group_cols,
        _dec(F.col(value_col)).alias("_dv"),
        F.row_number()
        .over(
            Window.partitionBy(*group_cols).orderBy(value_col, tiebreak_col)
        )
        .alias("_i"),
    )
    agg = r.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum("_dv").alias("_t"),
        F.sum(F.col("_i") * F.col("_dv")).alias("_it"),
    )
    return agg.select(
        *group_cols,
        "n",
        F.round(F.col("_t").cast("double"), 6).alias("total_value"),
        F.when(
            F.col("_t") > 0,
            F.round(
                (2 * F.col("_it") - (F.col("n") + 1) * F.col("_t"))
                .cast("double")
                / (F.col("n") * F.col("_t")).cast("double"),
                9,
            ),
        ).alias("gini"),
    )


def cusum_changepoint(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str = "value",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """CUSUM change-point per group — where did this metric's level
    shift?  The textbook statistic ``argmax_i |cumsum_i - i*mean|``
    involves a float mean; multiplying through by n makes it EXACT:
    ``dev_i = |n*cumsum_i - i*total|`` (decimal x bigint), and the
    argmax over exact decimals is unambiguous.  The flagged row is the
    LAST point of the pre-shift regime (deviation peaks just before the
    level changes); ties in deviation break toward the EARLIEST index.

    Plan: ONE group-keyed shuffle carries the running-sum window, the
    rank window, both group totals, and the final aggregate; the argmax
    is a lexicographic MAX(struct) with ``-i`` encoding the earliest-
    index tiebreak (plan-asserted).  Output: group columns,
    ``change_idx``, ``change_<id_col>``, ``max_deviation``, ``n``.
    """
    from pyspark.sql import Window

    run = (
        Window.partitionBy(*group_cols)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rank = Window.partitionBy(*group_cols).orderBy(ts_col, id_col)
    whole = Window.partitionBy(*group_cols)
    c = df.select(
        *group_cols,
        id_col,
        F.sum(_dec(F.col(value_col))).over(run).alias("_cum"),
        F.row_number().over(rank).alias("_i"),
        F.sum(_dec(F.col(value_col))).over(whole).alias("_total"),
        F.count("*").over(whole).alias("_n"),
    )
    d = c.select(
        *group_cols,
        "_i",
        id_col,
        "_n",
        F.abs(
            F.col("_n") * F.col("_cum") - F.col("_i") * F.col("_total")
        ).alias("_dev"),
    )
    best = d.groupBy(*group_cols).agg(
        F.max(
            F.struct(
                F.col("_dev"),
                (-F.col("_i")).alias("neg_i"),
                F.col(id_col).alias("cid"),
            )
        ).alias("_b"),
        F.max("_n").alias("n"),
    )
    return best.select(
        *group_cols,
        (-F.col("_b.neg_i")).alias("change_idx"),
        F.col("_b.cid").alias(f"change_{id_col}"),
        F.round(F.col("_b._dev").cast("double"), 6).alias("max_deviation"),
        "n",
    )


def spearman_rank_corr(
    df: DataFrame,
    group_cols: Sequence[str],
    x_order: Sequence[str] = ("ts", "event_id"),
    y_order: Sequence[str] = ("value", "event_id"),
) -> DataFrame:
    """Spearman rank correlation per group between two total orders —
    the monotonic-trend strength test (is value drifting with time?)
    that Pearson-on-raw-values misses for nonlinear drifts.

    Both orders carry an id tiebreak, so ranks are exact PERMUTATIONS of
    1..n and the d-squared shortcut applies: ``rho = 1 - 6*sum(d^2) /
    (n*(n^2-1))`` — every term an exact integer (DECIMAL against
    overflow at corpus-scale n) until ONE float division, per the
    module's exactness contract.  Groups of size 1 return NULL (the
    statistic is undefined).

    Plan: ONE group-keyed shuffle carries both rank windows (different
    sort keys, same partitioning — a sort per window, no second
    exchange) and the final aggregate.  Output: group columns, ``n``,
    ``sum_d2``, ``rho`` (rounded to 9 digits).
    """
    from pyspark.sql import Window

    gw = Window.partitionBy(*group_cols)
    r = df.select(
        *group_cols,
        F.row_number().over(gw.orderBy(*x_order)).alias("_i"),
        F.row_number().over(gw.orderBy(*y_order)).alias("_j"),
    )
    d2 = (F.col("_i") - F.col("_j")) * (F.col("_i") - F.col("_j"))
    agg = r.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum(d2).cast("decimal(38,0)").alias("sum_d2"),
    )
    nn = F.col("n").cast("decimal(38,0)")
    denom = nn * (nn * nn - 1)
    return agg.select(
        *group_cols,
        "n",
        F.col("sum_d2").cast("bigint").alias("sum_d2"),
        F.when(
            F.col("n") > 1,
            F.round(
                F.lit(1.0)
                - (6 * F.col("sum_d2")).cast("double")
                / denom.cast("double"),
                9,
            ),
        ).alias("rho"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_cols: Sequence[str],
    side_col: str,
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Mann-Whitney U (rank-sum) test statistic per group between the two
    sides of ``side_col`` (0/1) — the nonparametric A/B comparison: did
    treatment shift the metric's distribution?

    Ranks are assigned over the COMBINED sample with the id tiebreak, so
    they are exact permutations of 1..n (the textbook midrank-for-ties
    variant is documented out of scope — the deterministic variant is
    what both engines can agree on bit for bit).  ``U1 = R1 -
    n1(n1+1)/2`` is exact integers; ``auc = U1/(n1*n2)`` — the
    probability a random side-0 value exceeds a random side-1 value,
    the effect size — is ONE float division (rounded to 9 digits).
    NULL auc when either side is empty.

    Plan: ONE group-keyed shuffle carries the combined rank window and
    the conditional aggregates.  Output: group columns, ``n1``, ``n2``,
    ``u1``, ``auc``.
    """
    from pyspark.sql import Window

    r = df.select(
        *group_cols,
        F.col(side_col).alias("_side"),
        F.row_number()
        .over(
            Window.partitionBy(*group_cols).orderBy(value_col, tiebreak_col)
        )
        .alias("_rk"),
    )
    is0 = F.col("_side") == 0
    agg = r.groupBy(*group_cols).agg(
        F.count_if(is0).alias("n1"),
        F.count_if(~is0).alias("n2"),
        F.sum(F.when(is0, F.col("_rk")).otherwise(F.lit(0))).alias("_r1"),
    )
    # n1*(n1+1) is always even, so integer `div` is exact — routing
    # through `/` (double division) would silently lose precision once
    # rank sums exceed 2^53 (~1.3e8 rows per group).
    u1 = F.expr("_r1 - (n1 * (n1 + 1)) div 2").cast("bigint")
    return agg.select(
        *group_cols,
        "n1",
        "n2",
        u1.alias("u1"),
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0),
            F.round(
                u1.cast("double")
                / (F.col("n1") * F.col("n2")).cast("double"),
                9,
            ),
        ).alias("auc"),
    )


def welch_t(
    df: DataFrame,
    group_cols: Sequence[str],
    side_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Welch's unequal-variance t statistic per group between the two
    sides of ``side_col`` (0/1) — the parametric companion to
    :func:`mann_whitney_u`: how many standard errors apart are the two
    side means?

    Per the module contract every SUM is exact (decimal quantization);
    the statistic is then ONE fixed, parenthesized IEEE chain over the
    six exact aggregates — identical op tree in the oracle SQL, so the
    doubles agree bit for bit:
    ``t = (s1/n1 - s2/n2) / sqrt(v1/n1 + v2/n2)`` with
    ``v_i = (ss_i - s_i*s_i/n_i) / (n_i - 1)``.  NULL when either side
    has fewer than 2 rows or both variances vanish.

    Plan: ONE group-keyed partial aggregate — no windows, no joins.
    Output: group columns, ``n1``, ``n2``, ``t_stat`` (rounded to 9
    digits).
    """
    v = _dec(F.col(value_col))
    is0 = F.col(side_col) == 0
    z = F.lit(0).cast("decimal(18,6)")
    agg = df.groupBy(*group_cols).agg(
        F.count_if(is0).alias("n1"),
        F.count_if(~is0).alias("n2"),
        F.sum(F.when(is0, v).otherwise(z)).cast("double").alias("_s1"),
        F.sum(F.when(~is0, v).otherwise(z)).cast("double").alias("_s2"),
        F.sum(F.when(is0, v * v).otherwise(z)).cast("double").alias("_ss1"),
        F.sum(F.when(~is0, v * v).otherwise(z)).cast("double").alias("_ss2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    s1, s2 = F.col("_s1"), F.col("_s2")
    v1 = (F.col("_ss1") - s1 * s1 / n1) / (n1 - 1)
    v2 = (F.col("_ss2") - s2 * s2 / n2) / (n2 - 1)
    se2 = v1 / n1 + v2 / n2
    t = F.when(
        (n1 > 1) & (n2 > 1) & (se2 > 0),
        F.round((s1 / n1 - s2 / n2) / F.sqrt(se2), 9),
    )
    return agg.select(*group_cols, "n1", "n2", t.alias("t_stat"))


def ks_statistic(
    df: DataFrame,
    group_cols: Sequence[str],
    side_col: str,
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per group between the two
    sides of ``side_col`` (0/1) — the distribution-shape member of the
    A/B family (:func:`mann_whitney_u` tests location, :func:`welch_t`
    means, KS the whole CDF): ``D = max_x |F1(x) - F2(x)|``.

    Over the combined (value, id)-sorted stream the empirical CDF gap at
    each step is ``|c1*n2 - c2*n1| / (n1*n2)`` with c1/c2 the running
    side counts — cross-multiplied, the max is over EXACT integers and
    the single closing division is the only float op (rounded to 9
    digits).  NULL when either side is empty.

    Plan: ONE group-keyed shuffle carries the running-count window, the
    group totals, and the max aggregate.  Output: group columns, ``n1``,
    ``n2``, ``d_scaled`` (the exact integer max of ``|c1*n2 - c2*n1|``),
    ``ks`` .
    """
    from pyspark.sql import Window

    run = (
        Window.partitionBy(*group_cols)
        .orderBy(value_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    whole = Window.partitionBy(*group_cols)
    is0 = F.col(side_col) == 0
    one0 = F.when(is0, F.lit(1)).otherwise(F.lit(0))
    one1 = F.when(is0, F.lit(0)).otherwise(F.lit(1))
    c = df.select(
        *group_cols,
        F.sum(one0).over(run).alias("_c1"),
        F.sum(one1).over(run).alias("_c2"),
        F.sum(one0).over(whole).alias("_n1"),
        F.sum(one1).over(whole).alias("_n2"),
    )
    dev = F.abs(F.col("_c1") * F.col("_n2") - F.col("_c2") * F.col("_n1"))
    agg = c.groupBy(*group_cols).agg(
        F.max("_n1").alias("n1"),
        F.max("_n2").alias("n2"),
        F.max(dev).alias("d_scaled"),
    )
    return agg.select(
        *group_cols,
        "n1",
        "n2",
        "d_scaled",
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0),
            F.round(
                F.col("d_scaled").cast("double")
                / (F.col("n1") * F.col("n2")).cast("double"),
                9,
            ),
        ).alias("ks"),
    )


def winsorize(
    df: DataFrame,
    value_col: str = "value",
    group_cols: Sequence[str] = (),
    lower_q: float = 0.05,
    upper_q: float = 0.95,
) -> DataFrame:
    """Winsorization: CLIP values at the exact per-group quantile edges
    instead of dropping them (the outlier treatment that keeps row
    counts stable for downstream joins — the clip twin of the
    Tukey-fence trim in corpus_quality_trim).

    Edges are the exact sort-based ``percentile`` quantiles rounded to 6
    decimals (the repo's X20 cross-engine contract with DuckDB's
    quantile_cont); values outside [lo, hi] are replaced by the edge and
    flagged.  Plan: the edge aggregation is one partial-aggregated group
    pass whose result broadcast-joins back (1-row cross join when
    ungrouped); the clip itself is map-side.  Appends ``w_value``
    (clipped, 6-dec rounded), ``clipped_low``, ``clipped_high``.
    """
    keys = list(group_cols)
    edge_aggs = [
        F.round(F.percentile(F.col(value_col), lower_q), 6).alias("_lo"),
        F.round(F.percentile(F.col(value_col), upper_q), 6).alias("_hi"),
    ]
    if keys:
        edges = df.groupBy(*keys).agg(*edge_aggs)
        joined = df.join(F.broadcast(edges), keys)
    else:
        joined = df.crossJoin(F.broadcast(df.agg(*edge_aggs)))
    v = F.col(value_col)
    return joined.select(
        *df.columns,
        F.round(
            F.least(F.greatest(v, F.col("_lo")), F.col("_hi")), 6
        ).alias("w_value"),
        (v < F.col("_lo")).alias("clipped_low"),
        (v > F.col("_hi")).alias("clipped_high"),
    )


def rolling_ols_slope(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str = "value",
    ts_col: str = "ts",
    id_col: str = "event_id",
    window_rows: int = 7,
) -> DataFrame:
    """Trailing-window least-squares slope per row — the local drift
    detector (is this metric trending up RIGHT NOW?) that a global
    :func:`ols_fit` smooths away.

    x is the row's global rank within its group (slope is invariant to
    the shift, so absolute ranks work for every frame position); over
    the trailing ``window_rows`` frame the five sums (n, sum x, sum y,
    sum x^2, sum xy) are EXACT (bigint ranks, decimal values), and
    ``slope = (n*sxy - sx*sy) / (n*sxx - sx*sx)`` is one float division
    of exact operands (rounded to 9 digits); NULL while the frame holds
    fewer than 2 rows.

    Plan: ONE group-keyed shuffle carries the rank window and all five
    frame sums (same sort).  Output: group columns, ``id_col``,
    ``slope``.
    """
    from pyspark.sql import Window

    rank = Window.partitionBy(*group_cols).orderBy(ts_col, id_col)
    r = df.select(
        *group_cols,
        ts_col,
        id_col,
        _dec(F.col(value_col)).alias("_y"),
        F.row_number().over(rank).alias("_x"),
    )
    frame = (
        Window.partitionBy(*group_cols)
        .orderBy(ts_col, id_col)
        .rowsBetween(-(window_rows - 1), 0)
    )
    c = r.select(
        *group_cols,
        id_col,
        F.count("*").over(frame).alias("_n"),
        F.sum("_x").over(frame).alias("_sx"),
        F.sum("_y").over(frame).alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).over(frame).alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).over(frame).alias("_sxy"),
    )
    n = F.col("_n")
    num = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    den = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    return c.select(
        *group_cols,
        id_col,
        F.when(n > 1, F.round(num / den, 9)).alias("slope"),
    )


def quantile_normalize(
    df: DataFrame,
    group_cols: Sequence[str],
    side_col: str,
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Quantile normalization per group: map every side-1 value onto
    side 0's empirical quantile function — the distribution-matching
    transform (batch-effect removal, score calibration across model
    versions) that makes two populations comparable rank-for-rank.

    The side-1 row at rank ``r`` (of n1) maps to reference position
    ``p = (r-1)*(n0-1)/(n1-1)`` and interpolates between the side-0
    order statistics at ``floor(p)+1`` and ``floor(p)+2``.  Positions
    and the interpolation weight stay EXACT rational (integer floor
    division + remainder); the closing chain ``v_lo + (v_hi - v_lo) *
    (rem/(n1-1))`` is fixed IEEE over identical operands both engines.
    NULL when either side has fewer than 2 rows.

    Plan: one group-keyed shuffle ranks both sides; the side-1 frame
    then equi-joins the side-0 rank frame twice on (group, rank) — a
    rank-keyed shuffle join, never a range scan.  Output: group
    columns, ``tiebreak_col``, ``value_col``, ``norm_value``.
    """
    from pyspark.sql import Window

    is0 = F.col(side_col) == 0
    side_rank = Window.partitionBy(*group_cols, side_col).orderBy(
        value_col, tiebreak_col
    )
    whole = Window.partitionBy(*group_cols)
    r = df.select(
        *group_cols,
        side_col,
        value_col,
        tiebreak_col,
        F.row_number().over(side_rank).alias("_r"),
        F.sum(F.when(is0, 1).otherwise(0)).over(whole).alias("_n0"),
        F.sum(F.when(is0, 0).otherwise(1)).over(whole).alias("_n1"),
    )
    ref = r.filter(is0).select(
        *group_cols,
        F.col("_r").alias("_pos"),
        F.col(value_col).alias("_v"),
    )
    tgt = r.filter(~is0)
    num = (F.col("_r") - 1) * (F.col("_n0") - 1)
    den = F.col("_n1") - 1
    # exact integer floor division: remainder first (bigint-exact), then
    # a decimal division of the now-divisible numerator — never a double
    # floor, which would drift past 2^53
    rem = num % den
    lo = (
        (num - rem).cast("decimal(38,0)") / den.cast("decimal(38,0)")
    ).cast("bigint")
    tgt = tgt.filter((F.col("_n0") > 1) & (F.col("_n1") > 1)).select(
        *group_cols,
        tiebreak_col,
        value_col,
        (lo + 1).alias("_lo_pos"),
        F.least(lo + 2, F.col("_n0")).alias("_hi_pos"),
        rem.cast("double").alias("_rem"),
        den.cast("double").alias("_den"),
    )
    keys = list(group_cols)
    lo_ref = ref.select(
        *keys, F.col("_pos").alias("_lo_pos"), F.col("_v").alias("_v_lo")
    )
    hi_ref = ref.select(
        *keys, F.col("_pos").alias("_hi_pos"), F.col("_v").alias("_v_hi")
    )
    out = tgt.join(lo_ref, keys + ["_lo_pos"]).join(
        hi_ref, keys + ["_hi_pos"]
    )
    norm = F.col("_v_lo") + (F.col("_v_hi") - F.col("_v_lo")) * (
        F.col("_rem") / F.col("_den")
    )
    return out.select(
        *keys,
        tiebreak_col,
        value_col,
        F.round(norm, 9).alias("norm_value"),
    )


def seasonal_dow_index(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Day-of-week seasonal index per group — the multiplicative
    seasonality profile (how much busier is a Monday than an average
    day) that seasonal-adjustment and capacity planning start from.

    ``index = dow_mean / overall_daily_mean`` evaluated as ONE IEEE
    division of exact BIGINT cross-products::

        (events_on_dow * total_active_days)
        / (active_days_on_dow * total_events)

    so the hash is engine-stable.  Days count only when ACTIVE (>= 1
    event) — a day with zero events contributes to neither mean.
    ISO day numbering (1 = Monday ... 7 = Sunday) on both engines.

    Plan: one (group, day) partial-agg shuffle over the fact stream;
    the dow re-aggregation and the per-group totals window both run on
    the post-agg daily frame (metadata scale).  Output: group columns,
    ``iso_dow``, ``n_days``, ``n_events``, ``seasonal_index``.
    """
    from pyspark.sql import Window

    keys = list(group_cols)
    daily = df.groupBy(
        *keys, F.to_date(ts_col).alias("_day")
    ).agg(F.count("*").alias("_n"))
    dow = daily.groupBy(
        *keys, (F.weekday("_day") + 1).cast("bigint").alias("iso_dow")
    ).agg(
        F.count("*").alias("n_days"),
        F.sum("_n").alias("n_events"),
    )
    whole = Window.partitionBy(*keys)
    return dow.select(
        *keys,
        "iso_dow",
        "n_days",
        "n_events",
        F.round(
            (F.col("n_events") * F.sum("n_days").over(whole)).cast(
                "double"
            )
            / (F.col("n_days") * F.sum("n_events").over(whole)).cast(
                "double"
            ),
            9,
        ).alias("seasonal_index"),
    )


def wilson_interval(
    df: DataFrame,
    group_cols: Sequence[str],
    success_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Wilson score confidence interval for a per-group proportion —
    the interval that stays inside [0, 1] and behaves at small n where
    the naive normal (Wald) interval collapses; the standard guardrail
    for conversion-rate and A/B readouts.

    From the exact counts ``n`` (rows) and ``k`` (successes)::

        denom  = n + z^2
        center = (k + z^2/2) / denom
        rad    = z * sqrt(k*(n-k)/n + z^2/4) / denom

    ``k*(n-k)`` stays an exact BIGINT product, each double enters the
    chain via one cast, ``z^2/2`` and ``z^2/4`` are exact halvings, and
    ``sqrt`` is IEEE-correctly-rounded — the oracle mirrors the chain
    operand for operand, so the hash is engine-stable.

    Plan: ONE partial-aggregated group shuffle (two counting
    aggregates), zero joins, zero windows.  Output: group columns,
    ``n``, ``k``, ``p_hat``, ``wilson_low``, ``wilson_high``.
    """
    z2 = z * z
    agg = df.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.count_if(F.col(success_col)).alias("k"),
    )
    n = F.col("n").cast("double")
    k = F.col("k").cast("double")
    kk = (F.col("k") * (F.col("n") - F.col("k"))).cast("double")
    denom = n + F.lit(z2)
    center = k + F.lit(z2 / 2.0)
    rad = F.lit(z) * F.sqrt(kk / n + F.lit(z2 / 4.0))
    return agg.select(
        *group_cols,
        "n",
        "k",
        F.round(k / n, 9).alias("p_hat"),
        F.round((center - rad) / denom, 9).alias("wilson_low"),
        F.round((center + rad) / denom, 9).alias("wilson_high"),
    )


def rolling_corr(
    daily: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    x_col: str,
    y_col: str,
    window_rows: int = 7,
) -> DataFrame:
    """Trailing-window Pearson correlation between two per-period
    series — the local co-movement detector (are volume and value
    moving together THIS week?) that a single global
    :func:`pearson_corr` coefficient averages away.

    Input is an already-aggregated per-group frame (group..., period,
    x BIGINT, y DECIMAL(18,6)) — the caller's aggregation is the one
    fact-sized shuffle.  Over the trailing ``window_rows`` row frame
    the six sums (n, sum x, sum y, sum x^2, sum y^2, sum xy) are EXACT
    (bigint / decimal products), each enters the closing chain through
    ONE cast to double, and ``r = (n*sxy - sx*sy) / (sqrt(n*sxx -
    sx^2) * sqrt(n*syy - sy^2))`` is fixed IEEE over identical
    operands both engines (sqrt is correctly rounded) — the hash is
    engine-stable.  NULL while either marginal variance is zero (which
    covers frames of one row).

    Plan: ONE group-keyed sort carries all six frame sums; runs on the
    post-aggregation frame (periods x groups scale), so the window
    never sees the event stream.  Output: group columns, ``order_col``,
    ``n``, ``roll_r``.
    """
    from pyspark.sql import Window

    keys = list(group_cols)
    frame = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(-(window_rows - 1), 0)
    )
    x, y = F.col(x_col), F.col(y_col)
    c = daily.select(
        *keys,
        order_col,
        F.count("*").over(frame).alias("_n"),
        F.sum(x).over(frame).cast("double").alias("_sx"),
        F.sum(y).over(frame).cast("double").alias("_sy"),
        F.sum(x * x).over(frame).cast("double").alias("_sxx"),
        F.sum(y * y).over(frame).cast("double").alias("_syy"),
        F.sum(x * y).over(frame).cast("double").alias("_sxy"),
    )
    n = F.col("_n")
    vx = F.greatest(n * F.col("_sxx") - F.col("_sx") * F.col("_sx"), F.lit(0.0))
    vy = F.greatest(n * F.col("_syy") - F.col("_sy") * F.col("_sy"), F.lit(0.0))
    r = F.when(
        (vx > 0) & (vy > 0),
        (n * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
        / (F.sqrt(vx) * F.sqrt(vy)),
    )
    return c.select(
        *keys, order_col, n.alias("n"), F.round(r, 9).alias("roll_r")
    )


def category_diversity(
    df: DataFrame,
    group_cols: Sequence[str],
    cat_col: str,
) -> DataFrame:
    """Categorical concentration/diversity profile per group — the
    Herfindahl-Hirschman index (how dominated is this user by one
    event type?) and the unbiased Simpson diversity (probability two
    events drawn WITHOUT replacement differ in type), the log-free
    diversity pair that stays exact-rational where Shannon entropy
    would drag in a library ``ln``.

        hhi     = sum(c_i^2) / n^2
        simpson = 1 - sum(c_i*(c_i-1)) / (n*(n-1))    (NULL at n < 2)

    Counts and both numerator/denominator products stay exact BIGINT;
    each index is ONE double division (plus Simpson's fixed ``1 -``),
    rounded to 9 — engine-stable.  hhi = 1 means single-category;
    simpson = 0 likewise (the unbiased estimator hits the bounds
    exactly, unlike the plug-in form).

    Plan: one (group, category) partial-agg shuffle over the fact
    stream; the per-group rollup runs on the post-agg frame (bounded
    by distinct categories per group).  Output: group columns, ``n``,
    ``k_categories``, ``hhi``, ``simpson``.
    """
    keys = list(group_cols)
    c = df.groupBy(*keys, cat_col).agg(F.count("*").alias("_c"))
    g = c.groupBy(*keys).agg(
        F.sum("_c").alias("n"),
        F.count("*").alias("k_categories"),
        F.sum(F.col("_c") * F.col("_c")).alias("_s2"),
        F.sum(F.col("_c") * (F.col("_c") - 1)).alias("_sp"),
    )
    n = F.col("n")
    hhi = F.col("_s2").cast("double") / (n * n).cast("double")
    simpson = F.when(
        n > 1,
        F.lit(1.0) - F.col("_sp").cast("double") / (n * (n - 1)).cast("double"),
    )
    return g.select(
        *keys,
        "n",
        "k_categories",
        F.round(hhi, 9).alias("hhi"),
        F.round(simpson, 9).alias("simpson"),
    )


def decile_lift(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    buckets: int = 10,
) -> DataFrame:
    """Lift / cumulative-gains table for a score against a binary label
    — the standard model-eval readout ("the top decile captures 31% of
    positives, 2.8x lift").

    Rows are ranked by (score DESC, id ASC) — the id tiebreak makes the
    ranking total, so ``ntile`` bucket boundaries land identically in
    any engine — then per bucket: ``n``, ``positives``, the exact-
    rational rates, and the cumulative gain.  Every rate is a ratio of
    exact BIGINTs computed as ONE integer cross-product division
    (``positives * total_n / (n * total_pos)`` for lift), so no IEEE
    accumulation order exists to diverge.

    Plan note (honest 100 TB shape): ``ntile`` over a global order is a
    single-partition window — fine for the frames this table is FOR
    (scored eval/holdout sets, orders of magnitude smaller than facts),
    wrong for a full fact table.  For fact-scale bucketing use
    ``quantile_bucketize`` (exact edges broadcast back, map-side
    binning); this operator documents the boundary rather than hiding
    it.

    Output: (bucket, n, positives, pos_rate, lift, cum_positives,
    cum_gain_pct).
    """
    from pyspark.sql import Window

    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    w_rank = Window.orderBy(F.desc(score_col), F.asc(id_col))
    ranked = df.select(
        F.ntile(buckets).over(w_rank).alias("bucket"),
        F.col(label_col).cast("bigint").alias("_y"),
    )
    per = ranked.groupBy("bucket").agg(
        F.count("*").alias("n"), F.sum("_y").alias("positives")
    )
    w_cum = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy()
    return (
        per.withColumn("cum_positives", F.sum("positives").over(w_cum))
        .withColumn("_tn", F.sum("n").over(tot))
        .withColumn("_tp", F.sum("positives").over(tot))
        .select(
            "bucket",
            "n",
            "positives",
            F.round(
                F.col("positives").cast("double") / F.col("n").cast("double"),
                9,
            ).alias("pos_rate"),
            F.round(
                (F.col("positives") * F.col("_tn")).cast("double")
                / (F.col("n") * F.col("_tp")).cast("double"),
                9,
            ).alias("lift"),
            "cum_positives",
            F.round(
                F.lit(100.0)
                * F.col("cum_positives").cast("double")
                / F.col("_tp").cast("double"),
                9,
            ).alias("cum_gain_pct"),
        )
    )


def seasonal_naive_backtest(
    daily: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    y_col: str,
    season: int = 7,
) -> DataFrame:
    """Backtest of the seasonal-naive forecast (predict period t with
    the actual from t - season) — the baseline every real forecasting
    model must beat, and the cheapest drift alarm when error jumps.

    Input is an already-aggregated per-group period frame; the forecast
    is one ``lag(season)`` over the in-group period order.  Error
    metrics are the WEIGHTED forms whose numerators and denominators
    are plain sums of exact integers/decimals — ``wmape = SUM|a - f| /
    SUM(a)`` and ``bias_pct = (SUM f - SUM a) / SUM(a)`` over evaluable
    periods — so each metric is ONE IEEE division of exact aggregates.
    (Plain MAPE averages per-row IEEE ratios, whose sum is partition-
    order-dependent; WMAPE is the standard scale-stable substitute.)

    Output: group cols, n_eval (periods with a forecast), sum_actual,
    sum_abs_err, wmape, bias_pct.  Groups whose evaluable actuals sum
    to zero return NULL metrics.

    Plan: one group-keyed window (the lag) over the POST-AGGREGATION
    period frame, then one partial-aggregated group shuffle.  The fact
    stream never reaches the window.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(order_col)
    lagged = daily.select(
        *group_cols,
        F.col(y_col).alias("_a"),
        F.lag(y_col, season).over(w).alias("_f"),
    ).filter(F.col("_f").isNotNull())
    agg = lagged.groupBy(*group_cols).agg(
        F.count("*").alias("n_eval"),
        F.sum("_a").alias("sum_actual"),
        F.sum(F.abs(F.col("_a") - F.col("_f"))).alias("sum_abs_err"),
        F.sum("_f").alias("_sum_f"),
    )
    sa = F.col("sum_actual").cast("double")
    return agg.select(
        *group_cols,
        "n_eval",
        "sum_actual",
        "sum_abs_err",
        F.when(
            F.col("sum_actual") != 0,
            F.round(F.col("sum_abs_err").cast("double") / sa, 9),
        ).alias("wmape"),
        F.when(
            F.col("sum_actual") != 0,
            F.round(
                (F.col("_sum_f") - F.col("sum_actual")).cast("double") / sa, 9
            ),
        ).alias("bias_pct"),
    )


def corr_matrix(
    df: DataFrame,
    metric_cols: Sequence[str],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """All pairwise Pearson correlations between k metric columns in ONE
    aggregation pass — the k-metric generalization of
    :func:`pearson_corr` (k(k+1)/2 product sums + k sums + n, a single
    partial-aggregated shuffle, versus k(k-1)/2 separate passes).

    CONTRACT: metric columns must already carry EXACT types (BIGINT or
    DECIMAL) — counts, exact-decimal sums, distinct counts.  Raw doubles
    must be quantized upstream (``_dec`` pattern); the function refuses
    float/double inputs loudly rather than aggregating IEEE values in
    partition order.  Every sum and cross-product is exact; each pair's
    coefficient is the fixed IEEE closing chain (two correctly-rounded
    sqrts, one division), so the result hash-matches any engine.

    Output: one row per unordered pair (group..., var_x, var_y, n, r) —
    var_x < var_y lexicographically; ``r`` NULL when either marginal
    variance is zero.  Metadata-scale (k(k-1)/2 rows per group).
    """
    if len(metric_cols) < 2:
        raise ValueError("corr_matrix needs >= 2 metric columns")
    for c in metric_cols:
        t = dict(df.dtypes)[c]
        if t in ("double", "float"):
            raise ValueError(
                f"corr_matrix: column {c!r} is {t}; quantize to DECIMAL "
                "upstream (stats._dec) so sums stay exact"
            )
    cols = sorted(metric_cols)
    aggs = [F.count("*").alias("_n")]
    for c in cols:
        aggs.append(F.sum(F.col(c)).alias(f"_s_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i:]:
            # promote the left operand one digit: DuckDB's 18x18-digit
            # decimal multiply overflows int64;
            # Spark is exact either way, and the oracle mirrors the cast.
            left = F.col(a).cast("decimal(19,6)")
            aggs.append(F.sum(left * F.col(b)).alias(f"_p_{a}_{b}"))
    g = df.groupBy(*group_cols).agg(*aggs)
    n = F.col("_n").cast("double")
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            sa = F.col(f"_s_{a}").cast("double")
            sb = F.col(f"_s_{b}").cast("double")
            saa = F.col(f"_p_{a}_{a}").cast("double")
            sbb = F.col(f"_p_{b}_{b}").cast("double")
            sab = F.col(f"_p_{a}_{b}").cast("double")
            va = F.greatest(n * saa - sa * sa, F.lit(0.0))
            vb = F.greatest(n * sbb - sb * sb, F.lit(0.0))
            r = F.when(
                (va > 0) & (vb > 0),
                F.round((n * sab - sa * sb) / (F.sqrt(va) * F.sqrt(vb)), 9),
            )
            pairs.append(
                F.struct(
                    F.lit(a).alias("var_x"),
                    F.lit(b).alias("var_y"),
                    F.col("_n").alias("n"),
                    r.alias("r"),
                )
            )
    return g.select(
        *group_cols, F.explode(F.array(*pairs)).alias("_pair")
    ).select(
        *group_cols,
        F.col("_pair.var_x").alias("var_x"),
        F.col("_pair.var_y").alias("var_y"),
        F.col("_pair.n").alias("n"),
        F.col("_pair.r").alias("r"),
    )


def period_decomposition(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    split_ts: str,
) -> DataFrame:
    """Volume/rate mix-shift decomposition between two periods — the BI
    bridge that answers "did revenue move because we did MORE events or
    because each event got BIGGER?"

    Rows before ``split_ts`` form the baseline period, the rest the
    comparison.  Per group: exact counts ``c0``/``c1`` and exact-decimal
    value sums ``v0``/``v1`` from ONE conditional-aggregate pass, then
    the Laspeyres-style split evaluated per group (no cross-group sum of
    IEEE terms anywhere)::

        volume_effect = (c1 - c0) * (v0 / c0)     -- change in count at
                                                     baseline rate
        rate_effect   = c1 * (v1/c1 - v0/c0)      -- change in rate at
                                                     new volume

    which reconciles exactly: volume_effect + rate_effect = v1 - v0 (in
    exact arithmetic; the emitted doubles follow one fixed chain).
    Groups with an empty baseline or comparison get NULL effects —
    there is no rate to baseline against.

    Plan: ONE group-keyed partial-aggregated shuffle, conditional
    aggregates only; zero joins, zero windows.  Output: group cols, c0,
    c1, v0, v1, total_change (exact decimal), volume_effect,
    rate_effect.
    """
    cut = F.lit(split_ts).cast("timestamp")
    before = F.col(ts_col) < cut
    dec = F.col(value_col).cast("string").cast("decimal(18,6)")
    g = df.groupBy(*group_cols).agg(
        F.count_if(before).alias("c0"),
        F.count_if(~before).alias("c1"),
        F.sum(F.when(before, dec)).cast("decimal(18,6)").alias("v0"),
        F.sum(F.when(~before, dec)).cast("decimal(18,6)").alias("v1"),
    )
    c0 = F.col("c0").cast("double")
    c1 = F.col("c1").cast("double")
    v0 = F.col("v0").cast("double")
    v1 = F.col("v1").cast("double")
    ok = (F.col("c0") > 0) & (F.col("c1") > 0)
    return g.select(
        *group_cols,
        "c0",
        "c1",
        # decimal math stays internal (the effects below read the exact
        # v0/v1); outputs cross the boundary as correctly-rounded
        # doubles (driver-safe — see registry output-type contract)
        F.col("v0").cast("double").alias("v0"),
        F.col("v1").cast("double").alias("v1"),
        (F.col("v1") - F.col("v0")).cast("decimal(18,6)").cast("double")
        .alias("total_change"),
        F.when(ok, F.round((c1 - c0) * (v0 / c0), 9)).alias(
            "volume_effect"
        ),
        F.when(ok, F.round(c1 * (v1 / c1 - v0 / c0), 9)).alias(
            "rate_effect"
        ),
    )


def dow_adjusted(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Each day's activity as a share of its OWN day-of-week's normal —
    "today ran at 137% of a typical Tuesday" — the seasonality-aware
    anomaly readout a plain daily z-score gets wrong on weekly-cycled
    traffic (every Saturday looks like an outlier against the global
    mean).

    ``pct_of_normal = 100 * y / dow_mean`` evaluated as ONE IEEE
    division of exact BIGINT cross-products ``(y * dow_days * 100) /
    dow_events`` — no intermediate mean is materialized, so the hash is
    engine-stable.  ISO day numbering.

    Plan: one (group, day) partial-agg shuffle over the fact stream;
    the per-(group, dow) totals ride a window over the POST-AGG daily
    frame.  Output: group cols, day, iso_dow, y, dow_days, dow_events,
    pct_of_normal.
    """
    from pyspark.sql import Window

    daily = df.groupBy(
        *group_cols, F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.count("*").alias("y"))
    daily = daily.withColumn(
        "iso_dow", F.dayofweek(F.col("day"))
    ).withColumn(
        # ISO: Monday=1..Sunday=7 from Spark's Sunday=1..Saturday=7
        "iso_dow",
        F.when(F.col("iso_dow") == 1, F.lit(7)).otherwise(
            F.col("iso_dow") - 1
        ).cast("int"),
    )
    w = Window.partitionBy(*group_cols, "iso_dow")
    return daily.select(
        *group_cols,
        "day",
        "iso_dow",
        "y",
        F.count("*").over(w).alias("dow_days"),
        F.sum("y").over(w).alias("dow_events"),
        F.round(
            (F.col("y") * F.count("*").over(w) * F.lit(100)).cast("double")
            / F.sum("y").over(w).cast("double"),
            9,
        ).alias("pct_of_normal"),
    )


def share_of_parent(
    agg: DataFrame,
    parent_col: str,
    child_col: str,
    value_col: str,
) -> DataFrame:
    """Each child's share of its parent's total plus its rank within
    the parent — the hierarchy readout (nation within region, category
    within department) every drill-down report opens with.

    Input is an ALREADY-AGGREGATED (parent, child, value) frame with
    exact-typed values (the caller's partial agg did the fact-scale
    work); share is one IEEE division of the exact value by the exact
    parent-total window sum, rank is value-desc with a child-name
    tiebreak so it is total and portable.

    Plan: two windows over the post-aggregation frame, both partitioned
    by parent — metadata scale.  Output: parent, child, value,
    share_pct, rank_in_parent.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(parent_col)
    w_rank = Window.partitionBy(parent_col).orderBy(
        F.desc(value_col), F.asc(child_col)
    )
    return agg.select(
        parent_col,
        child_col,
        value_col,
        F.round(
            (F.col(value_col).cast("double") * F.lit(100.0))
            / F.sum(value_col).over(w).cast("double"),
            9,
        ).alias("share_pct"),
        F.row_number().over(w_rank).alias("rank_in_parent"),
    )


#: Cumulative Poisson(1) CDF, exact IEEE doubles — the inverse-CDF table
#: of the Poisson bootstrap (P(K <= k) for k = 0..8; u above the last
#: entry draws weight 9).  Identical literals on the oracle side.
_POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
    0.999998874797402,
)


def poisson_bootstrap_ci(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    id_col: str,
    replicates: int = 40,
    salt: str = "boot",
) -> DataFrame:
    """Percentile bootstrap confidence interval for the per-group mean —
    via the POISSON bootstrap (Chamandy et al., the resampling scheme
    that works on data too large to index): instead of drawing n rows
    with replacement (which needs global coordination), each row enters
    replicate ``b`` with an independent Poisson(1) weight, which
    converges to the multinomial bootstrap and is embarrassingly
    parallel — the only bootstrap with a 100 TB shape.

    Determinism: the weight is the Poisson(1) inverse CDF applied to
    ``u = hash32(salt:b:id) / 2^32`` (repo md5 contract) against exact
    double CDF literals, so every replicate is bit-reproducible on any
    engine/partitioning.  Replicate sums are EXACT (integer weights x
    exact-decimal values); each replicate mean is one IEEE division;
    the CI bounds are ORDER STATISTICS of the replicate means (ranks
    ``max(1, floor(0.025 B))`` / ``min(B, ceil(0.975 B))`` via exact
    integer arithmetic) — no interpolation, no accumulation-order
    hazard anywhere.

    Plan: map-side explode x B -> ONE (group, replicate) partial-agg
    shuffle -> B-row-per-group windows for the rank pick.  Cost is
    exactly B x the input scan; state is B rows per group.

    Output: group cols, n, mean (exact-sum point estimate), ci_low,
    ci_high, n_replicates.
    """
    from pyspark.sql import Window

    from .text import hash32

    if replicates < 4:
        raise ValueError(f"replicates must be >= 4, got {replicates}")
    dec = F.col(value_col).cast("string").cast("decimal(18,6)")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols, dec.alias("_v"), F.col(id_col).alias("_id")
    )
    point = base.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.round(
            F.sum("_v").cast("double") / F.count("*").cast("double"), 9
        ).alias("mean"),
    )
    exploded = base.select(
        *group_cols,
        "_v",
        "_id",
        F.explode(
            F.sequence(F.lit(1), F.lit(int(replicates)))
        ).alias("_b"),
    )
    u = hash32(
        F.concat(
            F.lit(f"{salt}:"),
            F.col("_b").cast("string"),
            F.lit(":"),
            F.col("_id").cast("string"),
        )
    ).cast("double") / F.lit(4294967296.0)
    w = F.lit(9)
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    per = (
        exploded.withColumn("_w", w)
        .groupBy(*group_cols, "_b")
        .agg(
            F.sum("_w").alias("_n_eff"),
            F.sum(F.col("_w") * F.col("_v")).alias("_s"),
        )
        .filter(F.col("_n_eff") > 0)
        .select(
            *group_cols,
            "_b",
            (F.col("_s").cast("double") / F.col("_n_eff").cast("double"))
            .alias("_m"),
        )
    )
    wg = Window.partitionBy(*group_cols)
    w_rank = Window.partitionBy(*group_cols).orderBy("_m", "_b")
    ranked = per.select(
        *group_cols,
        "_m",
        F.row_number().over(w_rank).alias("_rn"),
        F.count("*").over(wg).alias("_bv"),
    )
    # exact integer rank arithmetic — float 0.025*B/0.975*B sit within
    # an ulp of integers and floor/ceil the wrong way
    lo = F.greatest(
        F.lit(1).cast("bigint"),
        F.expr("CAST((25 * _bv) DIV 1000 AS BIGINT)"),
    )
    hi = F.least(
        F.col("_bv").cast("bigint"),
        F.expr("CAST((975 * _bv + 999) DIV 1000 AS BIGINT)"),
    )
    ci = (
        ranked.withColumn("_lo", lo)
        .withColumn("_hi", hi)
        .groupBy(*group_cols)
        .agg(
            F.max(
                F.when(F.col("_rn") == F.col("_lo"), F.col("_m"))
            ).alias("ci_low"),
            F.max(
                F.when(F.col("_rn") == F.col("_hi"), F.col("_m"))
            ).alias("ci_high"),
            F.max("_bv").alias("n_replicates"),
        )
    )
    return point.join(ci, list(group_cols)).select(
        *group_cols,
        "n",
        "mean",
        F.round(F.col("ci_low"), 9).alias("ci_low"),
        F.round(F.col("ci_high"), 9).alias("ci_high"),
        "n_replicates",
    )


def flag_runs(
    daily: DataFrame,
    group_cols: Sequence[str],
    day_col: str,
    flag_col: str,
    min_run: int = 2,
) -> DataFrame:
    """Consecutive-calendar-day runs of a boolean flag per group — the
    alert debouncer: raise only after ``min_run`` straight flagged days,
    so one noisy day never pages anyone.  The gaps-and-islands key
    (``day - row_number`` over flagged days) splits on any calendar gap,
    flagged-but-separated days never merge.

    Input is an already-aggregated per-(group, day) frame with the flag
    computed upstream (exact integer cross-multiplied thresholds keep it
    engine-portable).  Output: group cols, start_day, end_day, run_len
    for runs of at least ``min_run``.

    Plan: one group-keyed window (row_number over flagged days) + one
    island partial agg, both on the POST-AGG daily frame.
    """
    from pyspark.sql import Window

    if min_run < 1:
        raise ValueError(f"min_run must be >= 1, got {min_run}")
    w = Window.partitionBy(*group_cols).orderBy(day_col)
    flagged = daily.filter(F.col(flag_col)).withColumn(
        "_island", F.date_sub(F.col(day_col), F.row_number().over(w))
    )
    return (
        flagged.groupBy(*group_cols, "_island")
        .agg(
            F.min(day_col).alias("start_day"),
            F.max(day_col).alias("end_day"),
            F.count("*").alias("run_len"),
        )
        .filter(F.col("run_len") >= min_run)
        .select(*group_cols, "start_day", "end_day", "run_len")
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Kaplan-Meier survival curve over right-censored integer durations.

    Input: one row per subject with a non-negative integer duration and
    ``event`` 1 (event observed, e.g. churned) / 0 (censored — still
    alive at cutoff).  Output: one row per DISTINCT duration t with the
    at-risk count ``n_risk`` (subjects whose duration >= t), events
    ``d_events`` and censorings ``c_censored`` at t, the step factor
    ``(n_risk - d) / n_risk``, and the KM estimate
    ``survival(t) = PROD_{t_j <= t} factor_j``.

    Exactness contract: ``n_risk``/``d``/``c`` and each factor's
    numerator/denominator are exact BIGINTs; ``factor`` is ONE IEEE
    division.  The cumulative product is the one place this module
    permits transcendentals — ``exp(sum(ln(factor)))`` — because an
    exact rational product overflows any fixed precision after a few
    hundred steps.  Error bound: |ln ulp| <= 2^-52 per term over <=
    |distinct durations| terms, so the relative error is < 1e-12 at
    10^3 steps; ``survival`` is therefore rounded to SIX decimals (not
    the house 9) and documented as such.  Zero factors (everyone at
    risk dies at t) force survival to exactly 0.0 from that step on —
    never fed to ln.

    Plan: one (duration) partial agg + an ordered cumulative window over
    the distinct-duration frame + a 1-row total broadcast.  Window state
    is bounded by the number of distinct durations, never the cohort.
    """
    from pyspark.sql import Window

    per_t = df.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum(F.col(event_col).cast("bigint")).alias("d_events"),
        F.sum(F.lit(1) - F.col(event_col).cast("bigint")).alias(
            "c_censored"
        ),
        F.count("*").alias("_n_t"),
    )
    total = per_t.agg(F.sum("_n_t").alias("_N"))
    w_prev = (
        Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cur = (
        per_t.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("_N")
            - F.coalesce(F.sum("_n_t").over(w_prev), F.lit(0).cast("bigint")),
        )
        .withColumn(
            "_factor_raw",
            (F.col("n_risk") - F.col("d_events")).cast("double")
            / F.col("n_risk").cast("double"),
        )
        .withColumn(
            "_zeros",
            F.sum(
                (F.col("n_risk") == F.col("d_events")).cast("int")
            ).over(w_cum),
        )
    )
    survival = F.when(F.col("_zeros") > 0, F.lit(0.0)).otherwise(
        F.round(
            F.exp(
                F.sum(
                    F.ln(
                        F.when(
                            F.col("_factor_raw") > 0, F.col("_factor_raw")
                        )
                    )
                ).over(w_cum)
            ),
            6,
        )
    )
    return cur.select(
        "t",
        "n_risk",
        "d_events",
        "c_censored",
        F.round("_factor_raw", 9).alias("factor"),
        survival.alias("survival"),
    )


def theil_sen_slope(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Theil-Sen robust trend estimator per group: the MEDIAN of all
    pairwise slopes ``(y_j - y_i) / (x_j - x_i)`` over ``x_i < x_j`` —
    the outlier-resistant alternative to the OLS slope (breakdown
    point ~29%; Sen 1968).

    ``x``/``y`` must be integer-valued (day indexes, counts): each
    pairwise slope is then ONE IEEE division of exact BIGINTs, and the
    median (both engines average the two middle values on even counts)
    interpolates identical doubles — hash-exact cross-engine.

    Scale contract: pairs are quadratic in the GROUP's point count, so
    this is for series bounded by a time axis (daily aggregates: 365
    points -> 66k pairs/group), not raw facts — aggregate first.  The
    pair generator is a group-keyed equi-self-join, never a cartesian.
    """
    g = list(group_cols)
    a = df.select(
        *g, F.col(x_col).alias("_x1"), F.col(y_col).alias("_y1")
    )
    b = df.select(
        *g, F.col(x_col).alias("_x2"), F.col(y_col).alias("_y2")
    )
    pairs = a.join(b, g).filter(F.col("_x1") < F.col("_x2"))
    slope = (F.col("_y2") - F.col("_y1")).cast("double") / (
        F.col("_x2") - F.col("_x1")
    ).cast("double")
    return (
        pairs.select(*g, slope.alias("_slope"))
        .groupBy(*g)
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.median("_slope"), 9).alias("slope"),
        )
    )


def runs_test(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str = "value",
) -> DataFrame:
    """Wald-Wolfowitz runs test per group: is the above/below-median
    sign sequence random, or does it trend/cluster?

    Signs come from comparing each value to the group MEDIAN (ties with
    the median are dropped — the standard convention); a run is a
    maximal same-sign stretch in ``order_cols`` order (pass a total
    order: ties in the sort key would make run counts engine-dependent).
    With ``n1``/``n2`` the sign counts, ``R`` the run count:

        E[R]   = 2*n1*n2/n + 1
        Var[R] = 2*n1*n2*(2*n1*n2 - n) / (n^2 * (n-1))
        z      = (R - E[R]) / sqrt(Var[R])

    ``R``, ``n1``, ``n2`` and every numerator/denominator are exact
    BIGINTs; ``z`` is a fixed four-op IEEE chain (two divisions, one
    correctly-rounded sqrt, one division) — hash-exact cross-engine.
    |z| > 1.96 rejects randomness at 5%.

    Plan: one group-keyed median agg joined back (broadcast at dim
    scale), one group-keyed lag window for run boundaries, one group
    agg.  BIGINT ranges: n up to ~3e6 per group before
    ``2*n1*n2*(2*n1*n2-n)`` nears 2^63 — assert upstream for wilder
    groups.
    """
    g = list(group_cols)
    med = df.groupBy(*g).agg(F.median(value_col).alias("_med"))
    signed = (
        df.join(med, g)
        .filter(F.col(value_col) != F.col("_med"))
        .select(
            *g,
            *order_cols,
            (F.col(value_col) > F.col("_med")).cast("int").alias("_sign"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(*g).orderBy(*[F.asc(c) for c in order_cols])
    flagged = signed.select(
        *g,
        "_sign",
        (
            F.lag("_sign").over(w).isNull()
            | (F.lag("_sign").over(w) != F.col("_sign"))
        )
        .cast("bigint")
        .alias("_new_run"),
    )
    agg = flagged.groupBy(*g).agg(
        F.sum("_sign").alias("n1"),
        F.sum(F.lit(1) - F.col("_sign")).alias("n2"),
        F.sum("_new_run").alias("runs"),
    )
    n = F.col("n1") + F.col("n2")
    two_n1n2 = F.lit(2) * F.col("n1") * F.col("n2")
    # z = ((R*n - 2*n1*n2 - n) / n) / sqrt(num / den): exact BIGINTs
    # into a fixed IEEE chain
    num = two_n1n2 * (two_n1n2 - n)
    den = n * n * (n - 1)
    z = F.when(
        (F.col("n1") > 0) & (F.col("n2") > 0) & (n > 1) & (num > 0),
        F.round(
            (
                (F.col("runs") * n - two_n1n2 - n).cast("double")
                / n.cast("double")
            )
            / F.sqrt(num.cast("double") / den.cast("double")),
            9,
        ),
    )
    return agg.select(*g, "n1", "n2", "runs", z.alias("z"))


def trimmed_mean(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    trim_pct: int = 10,
) -> DataFrame:
    """Per-group symmetric trimmed mean: drop the lowest and highest
    ``floor(trim_pct% * n)`` values, average the middle — the robust
    location estimate between the mean (trim 0) and the median (trim
    50), standard for latency/value metrics with junk tails.

    Exact by the module contract: decimal value image, BIGINT ranks
    (``t = trim_pct * n div 100`` in integer arithmetic), exact decimal
    sum of the kept order statistics, ONE closing IEEE division.  Empty
    keep-ranges (tiny groups with aggressive trim) return NULL.

    Plan: ONE group-keyed exchange shared by the rank window and the
    final aggregate — the family's one-shuffle sequential-statistic
    shape.  Output: group cols, n, n_trimmed (per side), trimmed_mean.
    """
    from pyspark.sql import Window

    if not 0 <= trim_pct < 50:
        raise ValueError(f"trim_pct must be in [0, 50), got {trim_pct}")
    v = _dec(F.col(value_col))
    base = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols, v.alias("_v")
    )
    w = Window.partitionBy(*group_cols).orderBy("_v")
    gw = Window.partitionBy(*group_cols)
    ranked = base.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(gw)
    ).withColumn("_t", F.expr(f"{int(trim_pct)} * _n div 100"))
    kept = (F.col("_rn") > F.col("_t")) & (
        F.col("_rn") <= F.col("_n") - F.col("_t")
    )
    return (
        ranked.groupBy(*group_cols)
        .agg(
            F.first("_n").alias("n"),
            F.first("_t").alias("n_trimmed"),
            F.sum(F.when(kept, F.col("_v"))).alias("_s"),
            F.count_if(kept).alias("_k"),
        )
        .select(
            *group_cols,
            "n",
            "n_trimmed",
            F.when(
                F.col("_k") > 0,
                F.round(
                    F.col("_s").cast("double") / F.col("_k").cast("double"),
                    9,
                ),
            ).alias("trimmed_mean"),
        )
    )


def simpson_flip(
    df: DataFrame,
    stratum_cols: Sequence[str],
    flag_col: str,
    value_col: str,
) -> DataFrame:
    """Simpson's-paradox audit: does the per-stratum direction of a
    binary split's effect on a metric contradict the aggregate
    direction?  The lurking-variable check every segment-level readout
    should run before shipping an "X is better" conclusion.

    ``flag_col`` must be 0/1.  For each stratum (and the aggregate) the
    effect direction is the SIGN of ``s1*n0 - s0*n1`` — the
    cross-multiplied image of ``mean1 - mean0`` — carried as an exact
    DECIMAL x BIGINT product (never a float comparison; overflow bound
    is the registry INT128/decimal(38) note).  Output per stratum: both
    group sizes, the two means and their gap (fixed IEEE closing
    chains), the exact direction, the aggregate direction, and
    ``flips_aggregate`` (strict sign opposition; zero directions never
    flag).  Strata missing either arm are excluded — there is no
    within-stratum direction to compare.

    Plan: ONE stratum-keyed partial agg + a 1-row aggregate broadcast.
    """
    f = F.col(flag_col).cast("bigint")
    v = _dec(F.col(value_col))
    base = df.filter(F.col(value_col).isNotNull()).select(
        *stratum_cols, f.alias("_f"), v.alias("_v")
    )
    per = base.groupBy(*stratum_cols).agg(
        F.count_if(F.col("_f") == 0).alias("n0"),
        F.count_if(F.col("_f") == 1).alias("n1"),
        F.sum(F.when(F.col("_f") == 0, F.col("_v"))).alias("_s0"),
        F.sum(F.when(F.col("_f") == 1, F.col("_v"))).alias("_s1"),
    ).filter((F.col("n0") > 0) & (F.col("n1") > 0))
    tot = per.agg(
        F.sum("n0").alias("_tn0"),
        F.sum("n1").alias("_tn1"),
        F.sum("_s0").alias("_ts0"),
        F.sum("_s1").alias("_ts1"),
    )

    def direction(d: F.Column) -> F.Column:
        return (
            F.when(d > 0, 1).when(d < 0, -1).otherwise(0).cast("int")
        )

    d_str = F.col("_s1") * F.col("n0") - F.col("_s0") * F.col("n1")
    d_agg = (
        F.col("_ts1") * F.col("_tn0") - F.col("_ts0") * F.col("_tn1")
    )
    mean0 = F.col("_s0").cast("double") / F.col("n0").cast("double")
    mean1 = F.col("_s1").cast("double") / F.col("n1").cast("double")
    return per.crossJoin(F.broadcast(tot)).select(
        *stratum_cols,
        "n0",
        "n1",
        F.round(mean0, 9).alias("mean0"),
        F.round(mean1, 9).alias("mean1"),
        F.round(mean1 - mean0, 9).alias("gap"),
        direction(d_str).alias("stratum_dir"),
        direction(d_agg).alias("aggregate_dir"),
        (direction(d_str) * direction(d_agg) == -1).alias(
            "flips_aggregate"
        ),
    )


def holt_linear(
    df: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.2,
    value_col: str = "value",
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("user_id",),
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key Holt double-exponential smoothing (level + linear trend;
    Holt 1957, public literature) — the trend-aware upgrade over
    :func:`ewma`:

        l_1 = v_1,  b_1 = 0
        l_t = v_t * alpha + (l_{t-1} + b_{t-1}) * (1 - alpha)
        b_t = (l_t - l_{t-1}) * beta + b_{t-1} * (1 - beta)

    plus the one-step-ahead ``forecast = l_t + b_t`` (what a capacity
    monitor actually consumes).  Initialization ``b_1 = 0`` is the
    lookahead-free convention — the alternative ``b_1 = v_2 - v_1``
    needs the future and breaks incremental replay.

    Determinism rides the general-alpha :func:`ewma` contract: the fold
    is a FIXED sequence of correctly-rounded IEEE double ops with all
    four constants bound as ``CAST('<repr>' AS DOUBLE)``; ``l_t``
    inside the trend update is RECOMPUTED with the identical token
    sequence (never algebraically rearranged), so any engine replaying
    the same ops — the DuckDB oracle's ``list_reduce`` over struct
    state does — reproduces every (level, trend) pair bit-identically.

    NULL handling, (ts, id) total fold order, and the one-key-shuffle
    packed-fold plan (state folded INSIDE the aggregation buffer,
    bounded by the key's own history) are identical to the EWMA family.
    Output: (keys..., id, ts, value, level, trend, forecast).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"holt_linear: alpha must be in (0, 1], got {alpha!r}")
    if not 0.0 <= beta <= 1.0:
        raise ValueError(f"holt_linear: beta must be in [0, 1], got {beta!r}")
    a = f"CAST('{float(alpha)!r}' AS DOUBLE)"
    oma = f"CAST('{1.0 - float(alpha)!r}' AS DOUBLE)"
    b = f"CAST('{float(beta)!r}' AS DOUBLE)"
    omb = f"CAST('{1.0 - float(beta)!r}' AS DOUBLE)"
    lt = f"x * {a} + (acc.l + acc.b) * {oma}"
    keys = list(key_cols)
    packed = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("ts"),
                        F.col(id_col).alias("id"),
                        F.col(value_col).cast("double").alias("v"),
                    )
                )
            ).alias("_l")
        )
    )
    run = F.expr(
        "transform(_l, (e, i) -> struct("
        "e.id AS id, e.ts AS ts, e.v AS v, "
        "aggregate(transform(slice(_l, 2, i), x -> x.v), "
        "struct(element_at(_l, 1).v AS l, CAST(0.0 AS DOUBLE) AS b), "
        f"(acc, x) -> struct(({lt}) AS l, "
        f"(({lt}) - acc.l) * {b} + acc.b * {omb} AS b)) AS s))"
    )
    return (
        packed.select(*keys, F.explode(run).alias("_r"))
        .select(
            *keys,
            F.col("_r.id").alias(id_col),
            F.col("_r.ts").alias(ts_col),
            F.col("_r.v").alias(value_col),
            F.col("_r.s.l").alias("level"),
            F.col("_r.s.b").alias("trend"),
            (F.col("_r.s.l") + F.col("_r.s.b")).alias("forecast"),
        )
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    key_cols: Sequence[str],
    alpha: float = 0.1,
) -> DataFrame:
    """Benjamini-Hochberg step-up FDR correction (1995, public
    literature) over a frame of per-hypothesis p-values — the
    multiple-testing closer for any metric sweep (every per-segment
    test family in this engine emits one p/score per cell; BH is what
    makes 500 simultaneous cells honest).

    ``adj_p(i) = min_{j >= i} (p_(j) * n / j)`` clamped at 1, with
    hypotheses ranked ascending by ``(p, key...)`` — the key tiebreak
    makes the rank (and therefore every adjusted value) total-ordered
    and engine-portable.  ``significant = adj_p <= alpha``.  The raw
    step values are a fixed double chain (``p * n / rank``); the
    running suffix minimum is order-only (no accumulation), so the
    whole operator is engine-exact without quantization.

    Plan: the input is a HYPOTHESIS frame (one row per tested cell —
    metadata scale by construction), so the two unpartitioned windows
    (rank, suffix-min) run on a bounded frame, the repo's
    post-aggregation window contract.  Output: (keys..., p_value, rank,
    n_tests, adj_p, significant).
    """
    from pyspark.sql import Window

    keys = list(key_cols)
    w_rank = Window.orderBy(F.col("_p"), *keys)
    t = df.select(
        *keys, F.col(p_col).cast("double").alias("_p")
    ).withColumn("rank", F.row_number().over(w_rank))
    n = t.agg(F.count("*").cast("bigint").alias("_n"))
    t = t.crossJoin(F.broadcast(n))
    raw = F.col("_p") * F.col("_n").cast("double") / F.col("rank").cast(
        "double"
    )
    w_suffix = Window.orderBy(F.desc("rank")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    t = t.withColumn("_adj", F.least(F.min(raw).over(w_suffix), F.lit(1.0)))
    return t.select(
        *keys,
        F.round(F.col("_p"), 9).alias("p_value"),
        F.col("rank").cast("int").alias("rank"),
        F.col("_n").alias("n_tests"),
        F.round(F.col("_adj"), 9).alias("adj_p"),
        (F.col("_adj") <= alpha).alias("significant"),
    )


def mann_kendall(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Mann-Kendall trend test per group (Mann 1945 / Kendall canon,
    public literature) — the non-parametric companion of
    :func:`theil_sen_slope`: ``S = sum over ordered pairs of
    sign(v_j - v_i)``, with the tie-corrected variance

        var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18

    and the continuity-corrected ``z = (S -/+ 1) / sqrt(var)`` (0 when
    S = 0).  S and both variance terms are exact BIGINTs; z is two IEEE
    ops (one sqrt, one division) over their exact double images —
    engine-stable without quantization.  No CDF is emitted (no erf in
    either engine); |z| > 1.96 is the caller's 5% line.

    The pair enumeration is a self-join on the PER-GROUP AGGREGATED
    series (one row per order key — daily series, not raw events), the
    deliberate O(series^2) on a bounded frame, same class as the
    oracle-side theta joins.  Output: (group..., n, s_stat, var_s, z).
    """
    keys = list(group_cols)
    t = df.select(
        *keys,
        F.col(order_col).alias("_o"),
        _dec(F.col(value_col)).alias("_v"),
    )
    a, b = t.alias("a"), t.alias("b")
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    pairs = a.join(b, cond).filter(F.col("a._o") < F.col("b._o"))
    s = pairs.groupBy(*[F.col(f"a.{k}").alias(k) for k in keys]).agg(
        F.sum(
            F.signum(
                (F.col("b._v") - F.col("a._v")).cast("double")
            ).cast("bigint")
        ).alias("s_stat"),
    )
    n_g = t.groupBy(*keys).agg(F.count("*").cast("bigint").alias("n"))
    ties = (
        t.groupBy(*keys, "_v")
        .agg(F.count("*").cast("bigint").alias("_t"))
        .groupBy(*keys)
        .agg(
            F.sum(
                F.col("_t")
                * (F.col("_t") - 1)
                * (F.lit(2) * F.col("_t") + 5)
            )
            .cast("bigint")
            .alias("_tie_term")
        )
    )
    j = n_g.join(ties, keys).join(s, keys, "left")
    n = F.col("n")
    var_num = (
        n * (n - 1) * (F.lit(2) * n + 5) - F.col("_tie_term")
    ).cast("bigint")
    ss = F.coalesce(F.col("s_stat"), F.lit(0).cast("bigint"))
    var_d = var_num.cast("double") / F.lit(18.0)
    z = F.when(var_num <= 0, F.lit(None).cast("double")).otherwise(
        F.when(ss > 0, (ss - 1).cast("double") / F.sqrt(var_d))
        .when(ss < 0, (ss + 1).cast("double") / F.sqrt(var_d))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        *keys,
        "n",
        ss.alias("s_stat"),
        F.round(var_d, 9).alias("var_s"),
        F.round(z, 9).alias("z"),
    )


def power_mde(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    z_alpha: float = 1.959963985,
    z_beta: float = 0.841621234,
) -> DataFrame:
    """A/B sizing from observed variance (standard two-sample normal
    approximation, public canon): per group, the minimum detectable
    effect at the group's own n and the required per-arm n for a
    target effect of 5% of the mean:

        mde        = (z_a + z_b) * sqrt(2 * var / n)
        n_required = ceil(2 * var * (z_a + z_b)^2 / delta^2)

    z constants default to two-sided 5% / 80% power and are bound once
    as doubles (repr-exact in both engines).  Variance comes from the
    exact decimal moment sums (the group_moments contract); the closing
    chains are fixed IEEE, rounded to 9.  ONE group-keyed aggregate,
    nothing else.  Output: (group..., n, mean, variance, mde,
    mde_pct_of_mean, delta_target, n_required).  NULL sizing when the
    variance is zero or the mean is zero (no 5% target definable).
    """
    keys = list(group_cols)
    v = _dec(F.col(value_col))
    agg = df.filter(F.col(value_col).isNotNull()).groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(v).cast("double").alias("_s"),
        F.sum(v * v).cast("double").alias("_ss"),
    )
    n = F.col("n").cast("double")
    mean = F.col("_s") / n
    var = F.greatest(
        (F.col("_ss") - F.col("_s") * F.col("_s") / n) / (n - 1),
        F.lit(0.0),
    )
    zsum = F.lit(float(z_alpha) + float(z_beta))
    mde = F.when(
        (F.col("n") > 1) & (var > 0), zsum * F.sqrt(F.lit(2.0) * var / n)
    )
    delta = F.lit(0.05) * mean
    n_req = F.when(
        (F.col("n") > 1) & (var > 0) & (mean != 0),
        F.ceil(F.lit(2.0) * var * zsum * zsum / (delta * delta)).cast(
            "bigint"
        ),
    )
    return agg.select(
        *keys,
        "n",
        F.round(mean, 9).alias("mean"),
        F.round(var, 9).alias("variance"),
        F.round(mde, 9).alias("mde"),
        F.round(
            F.when(mean != 0, mde / mean * 100.0), 9
        ).alias("mde_pct_of_mean"),
        F.round(delta, 9).alias("delta_target"),
        n_req.alias("n_required"),
    )


def page_hinkley(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str = "value",
    ts_col: str = "ts",
    id_col: str = "event_id",
    delta: float = 0.05,
    lam: float = 10.0,
) -> DataFrame:
    """Page-Hinkley sequential drift test per group (Page 1954 / the
    standard stream-drift detector, public method): with running mean
    x̄_i over the ordered series,

        m_t  = sum_{i<=t} (x_i - x̄_i - delta)
        PH_t = m_t - min_{i<=t} m_i ;  alarm when PH_t > lambda

    — the one-sided "level has increased" form; delta absorbs noise,
    lambda sets the detection threshold.

    Engine-exactness: the running mean involves a per-step division, so
    each step's term rides the quantized-term contract — x̄_i from the
    EXACT decimal running sum cast once to double, the term rounded to
    9 and accumulated as DECIMAL(28,12); the running min and the alarm
    comparison are then exact decimal ops.  Total order (ts, id) makes
    every step reproducible.

    Plan: ONE group-keyed exchange shared by three stacked windows
    (running sum -> term cumsum -> running min; same partition + order
    key, one sort) and the final aggregate.  Output per group:
    (group..., n, n_alarms, first_alarm_idx, first_alarm_<id>, max_ph).
    """
    from pyspark.sql import Window

    g = list(group_cols)
    run = (
        Window.partitionBy(*g)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rank = Window.partitionBy(*g).orderBy(ts_col, id_col)
    lam_dec = F.lit(lam).cast("decimal(28,12)")
    base = df.select(
        *g,
        id_col,
        F.col(value_col).cast("double").alias("_x"),
        F.sum(_dec(F.col(value_col))).over(run).alias("_s"),
        F.row_number().over(rank).alias("_i"),
    )
    # downstream windows order by _i (the materialized total order; the
    # ts column is projected away after the first pass)
    irun = (
        Window.partitionBy(*g)
        .orderBy("_i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    termed = base.select(
        *g,
        id_col,
        "_i",
        F.round(
            F.col("_x")
            - F.col("_s").cast("double") / F.col("_i").cast("double")
            - F.lit(delta),
            9,
        )
        .cast("decimal(28,12)")
        .alias("_term"),
    )
    m = termed.select(
        *g, id_col, "_i", F.sum("_term").over(irun).alias("_m")
    )
    ph = m.select(
        *g,
        id_col,
        "_i",
        (F.col("_m") - F.min("_m").over(irun)).alias("_ph"),
    ).withColumn("_alarm", F.col("_ph") > lam_dec)
    return ph.groupBy(*g).agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_if(F.col("_alarm")).cast("bigint").alias("n_alarms"),
        F.min(F.when(F.col("_alarm"), F.col("_i")))
        .cast("int")
        .alias("first_alarm_idx"),
        F.expr(f"min_by({id_col}, _i) FILTER (WHERE _alarm)").alias(
            f"first_alarm_{id_col}"
        ),
        F.round(F.max("_ph").cast("double"), 9).alias("max_ph"),
    )


def anova_f(
    df: DataFrame,
    group_col: str,
    value_col: str = "value",
) -> DataFrame:
    """One-way ANOVA F statistic across the levels of ``group_col`` —
    does the group explain variance in ``value``?  The classical
    decomposition SS_total = SS_between + SS_within with
    F = (SSB / (k-1)) / (SSW / (n-k)).

    Exactness: per-group n / sum / sum-of-squares are exact decimal
    aggregates (module contract).  The ONE order-sensitive reduction —
    sum over groups of s_g^2 / n_g — is a strict LEFT FOLD over the
    group stats sorted by group key (``F.aggregate`` over a sorted
    struct array; the oracle mirrors it with ``list_reduce`` over
    ``list(... ORDER BY ...)``), so the k-term double accumulation is
    bit-reproducible cross-engine; everything after is one fixed IEEE
    op tree.  Grand sums stay decimal (order-free).

    Plan: ONE group-keyed partial-agg shuffle, then a k-row (group
    cardinality — metadata-scale) final reduction.  Output one row:
    (k, n, ssb, ssw, f_stat), doubles rounded to 9.
    """
    per = anova_group_stats(df, group_col, value_col)
    return anova_close(per, group_col)


def anova_group_stats(
    df: DataFrame,
    group_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Per-group (count, exact decimal sum, exact decimal sum of
    squares) — the mergeable state :func:`anova_close` consumes.  All
    three aggregates merge associatively across partial aggregations."""
    v = _dec(F.col(value_col))
    return (
        df.filter(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(group_col)
        .agg(
            F.count("*").alias("_ng"),
            F.sum(v).alias("_sg"),
            F.sum(v * v).alias("_ssg"),
        )
    )


def anova_close(per: DataFrame, group_col: str) -> DataFrame:
    """Closing arithmetic of :func:`anova_f` over the per-group stats
    frame (see there for the exactness contract: decimal grand sums,
    strict left fold for the one order-sensitive double reduction)."""
    row = per.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("_ng").cast("bigint").alias("n"),
        F.sum("_sg").cast("double").alias("_s"),
        F.sum("_ssg").cast("double").alias("_ss"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(group_col).alias("g"),
                        F.col("_sg").cast("double").alias("sg"),
                        F.col("_ng").alias("ng"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["sg"] * x["sg"] / x["ng"],
        ).alias("_fold"),
    )
    k, n = F.col("k"), F.col("n")
    ssb = F.col("_fold") - F.col("_s") * F.col("_s") / n
    ssw = (F.col("_ss") - F.col("_s") * F.col("_s") / n) - ssb
    f = F.when(
        (k > 1) & (n > k) & (ssw > 0),
        F.round((ssb / (k - 1)) / (ssw / (n - k)), 9),
    )
    return row.select(
        "k", "n",
        F.round(ssb, 6).alias("ssb"),
        F.round(ssw, 6).alias("ssw"),
        f.alias("f_stat"),
    )


#: SAX breakpoints for a 4-symbol alphabet (standard Gaussian
#: quartiles): z < -0.6745 -> 'a', < 0 -> 'b', < 0.6745 -> 'c', else 'd'.
_SAX_BREAK = 0.6745


def sax_symbols(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """SAX symbolization (Lin et al. 2003) of each group's daily-count
    series: z-normalize the per-day counts within the group, then map
    each day to a 4-letter alphabet by the standard Gaussian quartile
    breakpoints — the symbolic time-series representation motif
    discovery and anomaly shingling build on.

    Exactness: the series values are integer COUNTs, so group mean /
    variance inputs are exact BIGINT sums in any order; z and the
    symbol comparison are ONE fixed IEEE op tree from those exact
    aggregates, identical in the oracle.  Constant series (sd = 0) get
    symbol NULL rather than a fabricated letter.

    Plan: one (group, day)-keyed count aggregate, then a group-keyed
    window for the series stats — the window reuses the aggregate's
    partitioning, so the whole readout is TWO exchanges end to end.
    Output: (group, day, n, z, sym).
    """
    day = F.to_date(F.col(ts_col)).alias("day")
    from pyspark.sql import Window

    daily = (
        df.filter(F.col(group_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(F.col(group_col), day)
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = Window.partitionBy(group_col)
    kk = F.count("*").over(w)
    s = F.sum("n").over(w)
    ss = F.sum(F.col("n") * F.col("n")).over(w)
    stats = daily.select(
        group_col, "day", "n",
        kk.alias("_k"), s.alias("_s"), ss.alias("_ss"),
    )
    kd = F.col("_k").cast("double")
    sd2 = (
        F.col("_ss").cast("double")
        - F.col("_s").cast("double") * F.col("_s").cast("double") / kd
    ) / (kd - 1)
    z = (F.col("n").cast("double") - F.col("_s").cast("double") / kd) / F.sqrt(sd2)
    sym = (
        F.when(z < -_SAX_BREAK, "a")
        .when(z < 0, "b")
        .when(z < _SAX_BREAK, "c")
        .otherwise("d")
    )
    valid = (F.col("_k") > 1) & (sd2 > 0)
    return stats.select(
        group_col,
        "day",
        "n",
        F.when(valid, F.round(z, 6)).alias("z"),
        F.when(valid, sym).alias("sym"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Kruskal-Wallis H across the levels of ``group_col`` — the
    rank-based (nonparametric) companion to :func:`anova_f`, with the
    textbook MIDRANK tie handling and tie correction:

        H  = 3/(n(n+1)) * sum_g (2R_g)^2/(4 n_g) * 4 - 3(n+1)
           = 3/(n(n+1)) * sum_g S2_g^2/n_g / ... (S2_g = sum of 2*rank)
        C  = 1 - sum_v (t_v^3 - t_v) / (n^3 - n),   H' = H / C

    Exactness: midranks ride as DOUBLED ranks (2*avgrank = 2*cum_before
    + t + 1 — always an integer), so per-group rank sums ``S2_g`` and
    the tie mass are exact BIGINTs; the one order-sensitive double
    reduction (sum over groups of S2_g^2 / n_g) is the same strict
    LEFT FOLD over group stats sorted by key as :func:`anova_f`;
    everything after is one fixed IEEE op tree (n cast to double before
    cubing so the statistic survives row counts whose cube overflows
    BIGINT).

    Plan: one value-keyed count shuffle; the cumulative rank window
    rides the DISTINCT-VALUE frame (cardinality of the metric, not
    facts); one value-keyed equi-join back to facts; one group-keyed
    aggregate.  Output one row: (k, n, h_stat, tie_correction,
    h_corrected).
    """
    from pyspark.sql import Window

    base = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(group_col).alias("_g"), F.col(value_col).alias("_v"))
    vc = base.groupBy("_v").agg(F.count("*").cast("bigint").alias("_t"))
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, -1)
    ranks = vc.select(
        "_v",
        "_t",
        (
            F.lit(2) * F.coalesce(F.sum("_t").over(w), F.lit(0))
            + F.col("_t")
            + 1
        ).cast("bigint").alias("_r2"),
    )
    per = (
        base.join(ranks.select("_v", "_r2"), "_v")
        .groupBy("_g")
        .agg(
            F.count("*").cast("bigint").alias("_ng"),
            F.sum("_r2").cast("bigint").alias("_s2"),
        )
    )
    fold_row = per.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("_ng").cast("bigint").alias("n"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_g").alias("g"),
                        F.col("_s2").cast("double").alias("s2"),
                        F.col("_ng").alias("ng"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["s2"] * x["s2"] / x["ng"],
        ).alias("_fold"),
    )
    tie_row = vc.agg(
        F.sum(
            F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
        ).cast("bigint").alias("_tie")
    )
    row = fold_row.crossJoin(tie_row)
    nd = F.col("n").cast("double")
    # ranks were doubled: S2_g = 2*R_g, so sum R_g^2/n_g = fold/4 and
    # H = 12/(n(n+1)) * fold/4 - 3(n+1) = 3*fold/(n(n+1)) - 3(n+1)
    h = (
        F.lit(3.0) * F.col("_fold") / (nd * (nd + 1))
        - F.lit(3.0) * (nd + 1)
    )
    c = F.lit(1.0) - F.col("_tie").cast("double") / (nd * nd * nd - nd)
    valid = (F.col("k") > 1) & (F.col("n") > F.col("k"))
    return row.select(
        "k",
        "n",
        F.when(valid, F.round(h, 9)).alias("h_stat"),
        F.when(valid & (nd > 1), F.round(c, 9)).alias("tie_correction"),
        F.when(valid & (c > 0), F.round(h / c, 9)).alias("h_corrected"),
    )


def levene_bf(
    df: DataFrame,
    group_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Brown-Forsythe test for equality of group variances — the
    median-centered Levene variant (robust to non-normality; the form
    scipy.stats.levene(center='median') computes): W is the one-way
    ANOVA F statistic over z_ig = |v_ig - median_g|.

    Exactness: the group center is the LOWER median (the value at
    1-indexed position (n_g + 1) // 2 in sort order) — a concrete
    element both engines select identically, sidestepping cross-engine
    interpolation conventions; z is an exact decimal; the closing
    arithmetic is :func:`anova_close`'s fold contract verbatim.

    Plan: ONE group-keyed shuffle serves the median window; the k-row
    median frame broadcasts back; the ANOVA partial-agg re-keys on the
    same column.  Output one row: (k, n, ssb, ssw, w_stat).
    """
    from pyspark.sql import Window

    base = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(group_col).alias("_g"), _dec(F.col(value_col)).alias("_dv"))
    w = Window.partitionBy("_g")
    ranked = base.select(
        "_g", "_dv",
        F.row_number().over(w.orderBy("_dv")).alias("_rn"),
        F.count("*").over(w).alias("_ng"),
    )
    med = ranked.filter(
        F.col("_rn") == ((F.col("_ng") + 1) / 2).cast("bigint")
    ).select("_g", F.col("_dv").alias("_med"))
    z = base.join(F.broadcast(med), "_g").select(
        "_g", F.abs(F.col("_dv") - F.col("_med")).alias("_z")
    )
    out = anova_close(anova_group_stats(z, "_g", "_z"), "_g")
    return out.select(
        "k", "n", "ssb", "ssw", F.col("f_stat").alias("w_stat")
    )


def friedman_q(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
) -> DataFrame:
    """Friedman rank test for k related treatments over b complete
    blocks — the nonparametric repeated-measures companion to
    :func:`kruskal_wallis` (which assumes independent groups).  The
    response is the (block, treatment) cell's row count; blocks missing
    any treatment are EXCLUDED deterministically (the textbook
    complete-block requirement), so both engines rank identical frames.

    Midrank ties ride as DOUBLED ranks within each block (r2 = 2 *
    cum_before + t + 1, always an integer), which makes the
    tie-corrected statistic (Conover 1999, public literature) fully
    integer until ONE closing division:

        Q = (k-1) * (sum_j R2_j^2 - b^2 k (k+1)^2)
                  / (sum_ij r2_ij^2 - b k (k+1)^2)

    (both parenthesized terms are the textbook sums scaled by 4, and
    the 4s cancel).  Output one row: (k, b, q_stat).

    Plan: one (block, treatment)-keyed partial-agg shuffle builds the
    response cells; the complete-block filter is a block-keyed count;
    the within-block rank window rides the CELL frame (b*k rows, never
    fact-sized); one global aggregate closes.  At 100 TB the cell frame
    is |dates| x |types| — metadata-sized — so every post-shuffle stage
    is trivially bounded.
    """
    from pyspark.sql import Window

    cells = (
        df.filter(
            F.col(block_col).isNotNull() & F.col(treatment_col).isNotNull()
        )
        .groupBy(
            F.col(block_col).alias("_b"), F.col(treatment_col).alias("_t")
        )
        .agg(F.count("*").cast("bigint").alias("_v"))
    )
    k_row = cells.agg(F.countDistinct("_t").cast("bigint").alias("_k"))
    complete = (
        cells.groupBy("_b")
        .agg(F.count("*").cast("bigint").alias("_nt"))
        .join(F.broadcast(k_row), F.col("_nt") == F.col("_k"))
        .select("_b")
    )
    kept = cells.join(complete, "_b")
    # within-block midranks as doubled ranks: r2 = 2*cum_before + t + 1
    per_val = kept.groupBy("_b", "_v").agg(
        F.count("*").cast("bigint").alias("_tc")
    )
    wb = (
        Window.partitionBy("_b")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked_vals = per_val.select(
        "_b",
        "_v",
        (
            F.lit(2) * F.coalesce(F.sum("_tc").over(wb), F.lit(0))
            + F.col("_tc")
            + 1
        ).cast("bigint").alias("_r2"),
    )
    ranked = kept.join(ranked_vals, ["_b", "_v"])
    per_t = ranked.groupBy("_t").agg(
        F.sum("_r2").cast("bigint").alias("_rt2"),
        F.sum(F.col("_r2") * F.col("_r2")).cast("bigint").alias("_rsq"),
        F.countDistinct("_b").cast("bigint").alias("_nb"),
    )
    row = per_t.agg(
        F.count("*").cast("bigint").alias("k"),
        F.max("_nb").cast("bigint").alias("b"),
        F.sum(F.col("_rt2") * F.col("_rt2")).cast("bigint").alias("_num_s"),
        F.sum("_rsq").cast("bigint").alias("_den_s"),
    )
    kk, bb = F.col("k"), F.col("b")
    num = F.col("_num_s") - bb * bb * kk * (kk + 1) * (kk + 1)
    den = F.col("_den_s") - bb * kk * (kk + 1) * (kk + 1)
    valid = (kk > 1) & (bb > 0) & (den > 0)
    return row.select(
        "k",
        "b",
        F.when(
            valid,
            F.round(
                (kk - 1).cast("double")
                * num.cast("double")
                / den.cast("double"),
                9,
            ),
        ).alias("q_stat"),
    )


def cramers_v(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Cramér's V effect size for the association between two
    categorical columns — the bounded [0, 1] companion to the chi-square
    independence test (chi2 alone grows with n; V is comparable across
    table sizes).

    Exactness: chi2/n = sum over observed cells of o^2/(r_i * c_j) - 1;
    each cell term is one double division of exact BIGINTs, and the
    cell-sum is the strict LEFT FOLD over cells sorted by (row, col) —
    the anova_f fold contract — so the k-term double accumulation is
    bit-identical cross-engine.  V = sqrt(chi2 / (n * min(r-1, c-1))).
    Output one row: (n, n_rows, n_cols, chi2, v).

    Plan: ONE cell-keyed partial-agg shuffle; margins derive from the
    CELL frame (categorical cardinality squared, metadata-sized at any
    corpus scale); the fold runs over that same frame.
    """
    return cramers_close(cramers_cells(df, row_col, col_col))


def cramers_cells(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """The mergeable state of :func:`cramers_v`: per-(row, col) cell
    counts, summable across partitions."""
    base = df.filter(
        F.col(row_col).isNotNull() & F.col(col_col).isNotNull()
    ).select(F.col(row_col).alias("_r"), F.col(col_col).alias("_c"))
    return base.groupBy("_r", "_c").agg(
        F.count("*").cast("bigint").alias("_o")
    )


def cramers_close(cells: DataFrame) -> DataFrame:
    """Close :func:`cramers_v` from the cell-state frame."""
    rm = cells.groupBy("_r").agg(F.sum("_o").cast("bigint").alias("_rt"))
    cm = cells.groupBy("_c").agg(F.sum("_o").cast("bigint").alias("_ct"))
    joined = cells.join(F.broadcast(rm), "_r").join(F.broadcast(cm), "_c")
    row = joined.agg(
        F.sum("_o").cast("bigint").alias("n"),
        F.countDistinct("_r").cast("bigint").alias("n_rows"),
        F.countDistinct("_c").cast("bigint").alias("n_cols"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_r").alias("r"),
                        F.col("_c").alias("c"),
                        F.col("_o").cast("double").alias("o"),
                        F.col("_rt").cast("double").alias("rt"),
                        F.col("_ct").cast("double").alias("ct"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["o"] * x["o"] / (x["rt"] * x["ct"]),
        ).alias("_fold"),
    )
    nd = F.col("n").cast("double")
    chi2 = nd * (F.col("_fold") - F.lit(1.0))
    dmin = F.least(F.col("n_rows") - 1, F.col("n_cols") - 1).cast("double")
    valid = (F.col("n") > 0) & (dmin > 0)
    return row.select(
        "n",
        "n_rows",
        "n_cols",
        F.when(valid, F.round(chi2, 9)).alias("chi2"),
        F.when(valid, F.round(F.sqrt(chi2 / (nd * dmin)), 9)).alias("v"),
    )


def kendall_tau_b(
    pairs: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Exact Kendall tau-b rank correlation over a BOUNDED sample frame
    (the caller fences cardinality; see the gate's deterministic
    id-window selection).  Tau-b with the standard tie corrections:

        tau_b = (C - D) / sqrt((n0 - n1) * (n0 - n2))

    with n0 = n(n-1)/2, n1/n2 the x/y tie-pair masses — C, D and all
    tie masses are exact BIGINTs from one pair enumeration; the closing
    sqrt/division is one fixed IEEE op tree.

    Plan shape: the pair enumeration realizes as a bounded
    BroadcastNestedLoopJoin over the fenced sample (Catalyst folds the
    constant-key equality; never a fact-sized CartesianProduct) —
    pair count is bounded by the fence^2 BY CONSTRUCTION, independent of
    corpus scale.  For corpus-scale tau over unbounded frames, the
    O(n log n) merge-inversion algorithm is the documented path; this
    operator is the exact-arithmetic contract over the sampled frame.
    Output one row: (n, concordant, discordant, ties_x, ties_y, tau_b).
    """
    s = pairs.select(
        F.col(x_col).alias("_x"), F.col(y_col).alias("_y"),
        F.monotonically_increasing_id().alias("_i"),
    )
    # stable pair id: rank by (x, y, input order) so both sides of the
    # self-join enumerate identical (i < j) pairs regardless of plan
    from pyspark.sql import Window

    s = s.withColumn(
        "_rn", F.row_number().over(Window.orderBy("_x", "_y", "_i"))
    ).drop("_i").withColumn("_one", F.lit(1))
    a = s.select(
        F.col("_one").alias("_ka"),
        F.col("_x").alias("_xa"), F.col("_y").alias("_ya"),
        F.col("_rn").alias("_ra"),
    )
    b = s.select(
        F.col("_one").alias("_kb"),
        F.col("_x").alias("_xb"), F.col("_y").alias("_yb"),
        F.col("_rn").alias("_rb"),
    )
    pp = a.join(
        F.broadcast(b), F.col("_ka") == F.col("_kb")
    ).filter(F.col("_ra") < F.col("_rb"))
    sx = F.signum(F.col("_xa") - F.col("_xb"))
    sy = F.signum(F.col("_ya") - F.col("_yb"))
    agg = pp.agg(
        F.count("*").cast("bigint").alias("_npairs"),
        F.count_if(sx * sy > 0).cast("bigint").alias("concordant"),
        F.count_if(sx * sy < 0).cast("bigint").alias("discordant"),
        F.count_if((sx == 0) & (sy != 0)).cast("bigint").alias("ties_x"),
        F.count_if((sy == 0) & (sx != 0)).cast("bigint").alias("ties_y"),
        F.count_if((sx == 0) & (sy == 0)).cast("bigint").alias("_txy"),
    )
    n_row = s.agg(F.count("*").cast("bigint").alias("n"))
    row = agg.crossJoin(F.broadcast(n_row))
    n0 = F.col("_npairs")
    n1 = F.col("ties_x") + F.col("_txy")
    n2 = F.col("ties_y") + F.col("_txy")
    den = F.sqrt(
        (n0 - n1).cast("double") * (n0 - n2).cast("double")
    )
    valid = (n0 > n1) & (n0 > n2)
    return row.select(
        "n",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        F.when(
            valid,
            F.round(
                (F.col("concordant") - F.col("discordant")).cast("double")
                / den,
                9,
            ),
        ).alias("tau_b"),
    )


def esd_rounds(
    daily: DataFrame,
    day_col: str,
    value_col: str,
    rounds: int = 3,
) -> DataFrame:
    """Generalized-ESD anomaly candidates (Rosner 1983, public
    literature): ``rounds`` iterations of "remove the point with the
    largest |x - mean| / s", each round recomputing mean and sample
    standard deviation over the REMAINING points — the multi-outlier
    test that plain z-scoring gets wrong because outliers inflate the
    very std that should expose them.

    Determinism: the argmax tie-breaks on (z DESC, day ASC) — a total
    order both engines share; mean/std derive from exact decimal sums
    through one fixed IEEE op tree, so the selected point is identical
    cross-engine (the input values are integer counts, so the sums are
    exact BIGINTs).  Output ``rounds`` rows: (round, day, value, z).

    Plan: the input is the per-day aggregate (metadata-sized at any
    corpus scale); each round is a 1-row stats broadcast + an ordered
    LIMIT 1 + a day-keyed anti-join.  Never fact-sized.
    """
    picks = []
    rem = daily.select(
        F.col(day_col).alias("_d"),
        F.col(value_col).cast("bigint").alias("_v"),
    )
    for r in range(1, rounds + 1):
        st = rem.agg(
            F.count("*").cast("bigint").alias("_n"),
            F.sum("_v").cast("bigint").alias("_s"),
            F.sum(F.col("_v") * F.col("_v")).cast("bigint").alias("_ss"),
        )
        n = F.col("_n").cast("double")
        s = F.col("_s").cast("double")
        ss = F.col("_ss").cast("double")
        z = F.abs(F.col("_v").cast("double") - s / n) / F.sqrt(
            (ss - s * s / n) / (n - 1)
        )
        pick = (
            rem.crossJoin(F.broadcast(st))
            .select("_d", "_v", z.alias("_z"))
            .orderBy(F.col("_z").desc(), F.col("_d").asc())
            .limit(1)
            .select(
                F.lit(r).cast("int").alias("round"),
                F.col("_d").alias("day"),
                F.col("_v").alias("value"),
                F.round(F.col("_z"), 9).alias("z"),
            )
            .localCheckpoint(eager=True)
        )
        picks.append(pick)
        rem = rem.join(
            pick.select(F.col("day").alias("_d")), "_d", "left_anti"
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.union(p)
    return out


def holt_winters_additive(
    daily: DataFrame,
    day_col: str = "day",
    value_col: str = "value",
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    period: int = 7,
) -> DataFrame:
    """Additive Holt-Winters triple exponential smoothing (Winters
    1960, public literature) over a single day-ordered series — the
    seasonal upgrade over :func:`holt_linear` for the weekly cycle
    every event corpus carries:

        l_t = alpha (v_t - s_{t-m}) + (1-alpha)(l_{t-1} + b_{t-1})
        b_t = beta (l_t - l_{t-1}) + (1-beta) b_{t-1}
        s_t = gamma (v_t - l_t) + (1-gamma) s_{t-m}

    Init (lookahead-free): l_0 = mean of the first m values (explicit
    left-to-right sum), b_0 = 0, s_j = v_j - l_0.  Determinism rides
    the EWMA-family contract: the fold state is a DOUBLE[10] list
    (level, trend, m seasonals, position), every constant binds as
    CAST('<repr>' AS DOUBLE), and l_t inside the trend/seasonal
    updates is RECOMPUTED with the identical token sequence — the
    DuckDB oracle replays the same list_reduce and reproduces every
    slot bit-identically.

    Plan: the input is the per-day aggregate (metadata-sized); ONE
    packed fold inside a single aggregation buffer.  Output one row:
    (n, level, trend, s0..s{m-1}, forecast_next) — NULL-free only when
    n >= m + 1; shorter series yield zero rows on both engines.
    """
    if period != 7:
        raise ValueError("holt_winters_additive is fixed at period 7")
    a = f"CAST('{float(alpha)!r}' AS DOUBLE)"
    oma = f"CAST('{1.0 - float(alpha)!r}' AS DOUBLE)"
    b = f"CAST('{float(beta)!r}' AS DOUBLE)"
    omb = f"CAST('{1.0 - float(beta)!r}' AS DOUBLE)"
    g = f"CAST('{float(gamma)!r}' AS DOUBLE)"
    omg = f"CAST('{1.0 - float(gamma)!r}' AS DOUBLE)"
    l0 = (
        "(("
        + " + ".join(f"element_at(_l, {j}).v" for j in range(1, 8))
        + ") / CAST(7 AS DOUBLE))"
    )
    idx = "(CAST(element_at(acc, 10) AS INT) % 7)"
    slot = f"element_at(acc, 3 + {idx})"
    lt = f"({a} * (element_at(x, 1) - {slot}) + {oma} * (element_at(acc, 1) + element_at(acc, 2)))"
    bt = f"({b} * ({lt} - element_at(acc, 1)) + {omb} * element_at(acc, 2))"
    st = f"({g} * (element_at(x, 1) - {lt}) + {omg} * {slot})"
    fold = (
        "aggregate("
        "transform(slice(_l, 8, size(_l) - 7), e -> array(e.v)), "
        f"concat(array({l0}, CAST(0.0 AS DOUBLE)), "
        f"transform(sequence(0, 6), j -> element_at(_l, j + 1).v - {l0}), "
        "array(CAST(7.0 AS DOUBLE))), "
        "(acc, x) -> concat("
        f"array({lt}, {bt}), "
        f"transform(sequence(0, 6), j -> IF(j = {idx}, {st}, "
        "element_at(acc, 3 + j))), "
        "array(element_at(acc, 10) + CAST(1.0 AS DOUBLE))))"
    )
    packed = (
        daily.filter(
            F.col(day_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(day_col).alias("d"),
                        F.col(value_col).cast("double").alias("v"),
                    )
                )
            ).alias("_l")
        )
        .filter(F.size("_l") >= 8)
    )
    stx = packed.select(
        F.size("_l").cast("bigint").alias("n"), F.expr(fold).alias("_s")
    )
    n7 = (F.col("n") % 7).cast("int")
    out = [
        "n",
        F.round(F.element_at("_s", 1), 9).alias("level"),
        F.round(F.element_at("_s", 2), 9).alias("trend"),
    ]
    out += [
        F.round(F.element_at("_s", 3 + j), 9).alias(f"s{j}")
        for j in range(7)
    ]
    out.append(
        F.round(
            F.element_at("_s", 1)
            + F.element_at("_s", 2)
            + F.element_at("_s", F.lit(3) + n7),
            9,
        ).alias("forecast_next")
    )
    return stx.select(*out)


def dtw_distance_units(
    series: DataFrame,
    part_col: str,
    idx_col: str,
    value_col: str,
) -> DataFrame:
    """Dynamic Time Warping distance (Sakoe & Chiba 1978, public
    literature) between the two ``part_col`` (0/1) series, unit cost
    ``|a_i - b_j|`` — the alignment-tolerant series distance a plain
    pointwise L1 cannot give (a one-hour phase shift destroys L1 but
    barely moves DTW).

    Integer-exact: values are BIGINT counts, so every DP cell is a
    BIGINT and the result hash-matches any engine.  The classic DP

        D[i][j] = |a_i - b_j| + min(D[i-1][j], D[i][j-1], D[i-1][j-1])

    runs as a NESTED fold: the outer fold walks a's points carrying the
    previous DP ROW as a BIGINT list; the inner fold rebuilds the row
    left-to-right (the j-1 dependency).  Both engines replay identical
    integer ops, so no quantization is needed anywhere.

    Plan: both series are metadata-sized profiles (the caller
    aggregates first); ONE packed fold in a single aggregation buffer.
    Output one row: (n_a, n_b, dtw_units).
    """
    packed = (
        series.filter(
            F.col(part_col).isin(0, 1)
            & F.col(idx_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col(part_col) == 0,
                        F.struct(
                            F.col(idx_col).alias("i"),
                            F.col(value_col).cast("bigint").alias("v"),
                        ),
                    )
                )
            ).alias("_a"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col(part_col) == 1,
                        F.struct(
                            F.col(idx_col).alias("i"),
                            F.col(value_col).cast("bigint").alias("v"),
                        ),
                    )
                )
            ).alias("_b"),
        )
        .select(
            F.expr("transform(_a, e -> e.v)").alias("_av"),
            F.expr("transform(_b, e -> e.v)").alias("_bv"),
        )
        .filter((F.size("_av") > 0) & (F.size("_bv") > 0))
    )
    # row 0: running horizontal sum of |a_1 - b_j|
    row0 = (
        "aggregate(slice(_bv, 2, size(_bv) - 1), "
        "array(abs(element_at(_av, 1) - element_at(_bv, 1))), "
        "(acc, y) -> concat(acc, array(element_at(acc, size(acc))"
        " + abs(element_at(_av, 1) - y))))"
    )
    # outer fold over a_2..: inner fold rebuilds the row left-to-right
    step = (
        "aggregate(slice(_av, 2, size(_av) - 1), "
        + row0
        + ", (prev, xa) -> "
        "aggregate(slice(_bv, 2, size(_bv) - 1), "
        "array(abs(xa - element_at(_bv, 1)) + element_at(prev, 1)), "
        "(acc, y) -> concat(acc, array(abs(xa - y) + least("
        "element_at(prev, size(acc) + 1), "
        "element_at(prev, size(acc)), "
        "element_at(acc, size(acc)))))))"
    )
    return packed.select(
        F.size("_av").cast("bigint").alias("n_a"),
        F.size("_bv").cast("bigint").alias("n_b"),
        F.expr(f"element_at({step}, size(_bv))")
        .cast("bigint")
        .alias("dtw_units"),
    )


def theil_u(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Theil's uncertainty coefficient U(R|C) — the ASYMMETRIC
    categorical association (how much knowing C reduces the entropy of
    R), the directional companion to the symmetric :func:`cramers_v`:

        U(R|C) = (H(R) - H(R|C)) / H(R)

    The transcendental entropy terms ride the quantized-term contract:
    each cell/margin contribution (p * ln p form) is rounded to 12
    digits and summed as DECIMAL(28,12) — exact, order-insensitive —
    and the closing combination is a fixed IEEE op tree rounded to 9.

    Plan: ONE cell-keyed partial-agg shuffle (the cramers_cells frame),
    margins derived from it, two decimal sums.  Output one row:
    (n, h_r, h_r_given_c, u).
    """
    cells = cramers_cells(df, row_col, col_col)
    cm = cells.groupBy("_c").agg(F.sum("_o").cast("bigint").alias("_ct"))
    rm = cells.groupBy("_r").agg(F.sum("_o").cast("bigint").alias("_rt"))
    tot = cells.agg(F.sum("_o").cast("bigint").alias("_n"))
    nd = F.col("_n").cast("double")
    # H(R): margin terms -(rt/n) ln(rt/n)
    hr_terms = rm.crossJoin(F.broadcast(tot)).select(
        F.round(
            -(F.col("_rt").cast("double") / nd)
            * F.log(F.col("_rt").cast("double") / nd),
            12,
        ).cast("decimal(28,12)").alias("_t")
    )
    hr_row = hr_terms.agg(F.sum("_t").alias("_hr"))
    # H(R|C): cell terms -(o/n) ln(o/ct)
    hc_terms = (
        cells.join(F.broadcast(cm), "_c")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                -(F.col("_o").cast("double") / nd)
                * F.log(
                    F.col("_o").cast("double")
                    / F.col("_ct").cast("double")
                ),
                12,
            ).cast("decimal(28,12)").alias("_t")
        )
    )
    hc_row = hc_terms.agg(F.sum("_t").alias("_hc"))
    row = (
        tot.crossJoin(F.broadcast(hr_row)).crossJoin(F.broadcast(hc_row))
    )
    hr = F.col("_hr").cast("double")
    hc = F.col("_hc").cast("double")
    return row.select(
        F.col("_n").alias("n"),
        F.round(hr, 9).alias("h_r"),
        F.round(hc, 9).alias("h_r_given_c"),
        F.when(hr > 0, F.round((hr - hc) / hr, 9)).alias("u"),
    )
