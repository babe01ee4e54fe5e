"""Data-quality profiling (the Deequ/Great-Expectations family): per-column
completeness, cardinality, and key-uniqueness checks as ONE aggregation
pass, plus rule evaluation against declared expectations.

A 100 TB ingest trusts nothing: every load runs a profile and gates the
downstream merge on its rules (the reference's implicit contract — its
cleaner silently null-drops rows; this makes the contract explicit and
measurable).  All metrics are exact integers, so the profile itself is
oracle-checkable — a profiler whose numbers depend on the engine would be
worse than none.

Plan shape: one partial-aggregated global aggregation computes every
column's row/null counts in a single pass; distinct counts ride the same
statement (Spark plans multi-distinct aggregates with one Expand — input
is scanned once, expanded k-fold map-side, never collected).  The wide
1-row result is unpivoted driver-side into the long (column, metric) form
at metadata scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "table_profile",
    "check_rules",
    "freshness_report",
    "run_quality_checks",
    "k_anonymity",
    "column_entropy",
]


def table_profile(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Long-form profile: (column, n_rows, n_nulls, n_distinct) per column.

    ``n_distinct`` counts non-null distinct values (exact).  Column order
    of the output follows ``columns``.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in columns:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_null_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).alias(f"_dist_{c}"))
    wide = df.agg(*aggs)
    stack = ", ".join(
        f"'{c}', _null_{c}, _dist_{c}" for c in columns
    )
    return wide.select(
        F.expr(
            f"stack({len(columns)}, {stack}) AS (column, n_nulls, n_distinct)"
        ),
        F.col("_n").alias("n_rows"),
    ).select("column", "n_rows", "n_nulls", "n_distinct")


def check_rules(profile: DataFrame, rules: dict) -> DataFrame:
    """Evaluate declared expectations against a :func:`table_profile`.

    ``rules`` maps column -> dict with any of:
    ``not_null`` (True: n_nulls must be 0), ``unique`` (True: n_distinct
    must equal n_rows - n_nulls), ``min_distinct`` (int lower bound).
    Returns (column, rule, passed) — one row per declared rule, exact
    booleans, suitable for gating a merge job.
    """
    rows = []
    for col, spec in rules.items():
        base = profile.filter(F.col("column") == col)
        if spec.get("not_null"):
            rows.append(
                base.select(
                    "column",
                    F.lit("not_null").alias("rule"),
                    (F.col("n_nulls") == 0).alias("passed"),
                )
            )
        if spec.get("unique"):
            rows.append(
                base.select(
                    "column",
                    F.lit("unique").alias("rule"),
                    (
                        F.col("n_distinct")
                        == F.col("n_rows") - F.col("n_nulls")
                    ).alias("passed"),
                )
            )
        if "min_distinct" in spec:
            rows.append(
                base.select(
                    "column",
                    F.lit("min_distinct").alias("rule"),
                    (F.col("n_distinct") >= spec["min_distinct"]).alias(
                        "passed"
                    ),
                )
            )
    if not rows:
        # empty / all-unrecognized rules dict: an empty (column, rule,
        # passed) frame, not an IndexError — callers fold it with the
        # same unionByName/collect they'd use on a populated result
        return profile.sparkSession.createDataFrame(
            [], "column string, rule string, passed boolean"
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def freshness_report(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Per-slice data-freshness and volume-drift report — the first
    data-quality dashboard every ingest pipeline needs: which slices
    have stopped arriving, and which just changed volume.

    All lateness is measured against the TABLE's own high-water mark
    (no wall clock — deterministic and replayable): per group, the last
    stamp, the whole-hours gap behind the global max (exact BIGINT
    ``div`` of micros), rows in the trailing ``window_days`` vs the
    window before it, and their percent ratio (one division of exact
    BIGINTs; NULL when the prior window is empty).

    Plan: one 1-row global-max aggregate broadcast back over the stream
    (the documented 1-row nested-loop, metadata-scale), then ONE
    group-keyed conditional-aggregate shuffle.  Output: group col,
    last_ts, hours_behind, rows_last, rows_prior, volume_ratio_pct.
    """
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    mx = df.agg(F.max(F.col(ts_col)).alias("_mx"))
    w1 = F.col("_mx") - F.expr(f"INTERVAL {int(window_days)} DAYS")
    w2 = F.col("_mx") - F.expr(f"INTERVAL {int(2 * window_days)} DAYS")
    g = (
        df.crossJoin(F.broadcast(mx))
        .groupBy(group_col)
        .agg(
            F.max(F.col(ts_col)).alias("last_ts"),
            F.max(F.col("_mx")).alias("_mxg"),
            F.count_if(F.col(ts_col) >= w1).alias("rows_last"),
            F.count_if(
                (F.col(ts_col) < w1) & (F.col(ts_col) >= w2)
            ).alias("rows_prior"),
        )
        .withColumn(
            "_diff_us",
            F.unix_micros(F.col("_mxg")) - F.unix_micros(F.col("last_ts")),
        )
        .withColumn("hours_behind", F.expr("_diff_us div 3600000000"))
    )
    return g.select(
        group_col,
        "last_ts",
        "hours_behind",
        "rows_last",
        "rows_prior",
        F.when(
            F.col("rows_prior") > 0,
            F.round(
                (F.col("rows_last") * F.lit(100)).cast("double")
                / F.col("rows_prior").cast("double"),
                9,
            ),
        ).alias("volume_ratio_pct"),
    )


def run_quality_checks(
    tables: dict[str, DataFrame],
    checks: Sequence[dict],
) -> DataFrame:
    """dbt-style declarative data-quality test suite: each check compiles
    to ONE counting aggregate (or one anti-join for relationships), all
    unioned into a single report frame — the "tests:" block of a dbt
    schema.yml executed as Spark plans.

    Supported check kinds (mirroring dbt-core's four built-ins):

    - ``{"kind": "unique", "table": t, "column": c}`` — duplicated value
      count (rows beyond the first per non-null value);
    - ``{"kind": "not_null", "table": t, "column": c}`` — NULL count;
    - ``{"kind": "accepted_values", "table": t, "column": c,
      "values": [...]}`` — rows outside the list (NULLs excluded, as in
      dbt);
    - ``{"kind": "relationship", "table": t, "column": c, "to": t2,
      "to_column": c2}`` — child rows whose non-null key has no parent
      (anti-join count).

    Output: (check_name, table_name, column_name, n_violations, passed)
    — one row per check, ``passed = (n_violations == 0)``.  Every check
    is a partial-aggregated single pass over its table; the relationship
    check is a key-projected anti-join (AQE broadcasts the parent key
    side when small).  Violation COUNTS, not violating rows: at 100 TB
    the report must stay metadata-scale; drill-down re-runs the one
    failing predicate as a filter.
    """
    if not checks:
        raise ValueError("run_quality_checks needs at least one check")
    frames = []
    for chk in checks:
        kind = chk["kind"]
        t, c = chk["table"], chk["column"]
        df = tables[t]
        name = chk.get("name", f"{kind}__{t}__{c}")
        if kind == "unique":
            viol = (
                df.filter(F.col(c).isNotNull())
                .groupBy(c)
                .agg(F.count("*").alias("_n"))
                .agg(
                    F.coalesce(
                        F.sum(F.col("_n") - 1), F.lit(0).cast("bigint")
                    ).alias("n_violations")
                )
            )
        elif kind == "not_null":
            viol = df.agg(
                F.count_if(F.col(c).isNull()).alias("n_violations")
            )
        elif kind == "accepted_values":
            vals = list(chk["values"])
            viol = df.agg(
                F.count_if(
                    F.col(c).isNotNull() & ~F.col(c).isin(vals)
                ).alias("n_violations")
            )
        elif kind == "relationship":
            parent = tables[chk["to"]].select(
                F.col(chk["to_column"]).alias("_pk")
            ).distinct()
            viol = (
                df.filter(F.col(c).isNotNull())
                .select(F.col(c).alias("_fk"))
                .join(parent, F.col("_fk") == F.col("_pk"), "left_anti")
                .agg(F.count("*").alias("n_violations"))
            )
        else:
            raise ValueError(f"unknown check kind: {kind!r}")
        frames.append(
            viol.select(
                F.lit(name).alias("check_name"),
                F.lit(t).alias("table_name"),
                F.lit(c).alias("column_name"),
                F.col("n_violations").cast("bigint").alias("n_violations"),
                (F.col("n_violations") == 0).alias("passed"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def k_anonymity(
    df: DataFrame,
    qi_cols: Sequence[str],
    sensitive_col: str,
    k: int = 5,
    l: int = 2,
) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002 / Machanavajjhala
    2007, public literature): group rows by the quasi-identifier tuple
    and report, per equivalence class, its size and the number of
    distinct sensitive values — the release-gate statistic for any
    table that leaves the trust boundary (training-corpus metadata
    included).

    A class is k-anonymous when ``class_size >= k`` (an attacker who
    knows someone's QI tuple finds at least k candidate rows) and
    l-diverse when it carries ``>= l`` distinct sensitive values
    (defeats the homogeneity attack k-anonymity alone permits).

    All outputs are exact integers/booleans.  Plan: ONE QI-keyed
    partial-aggregated shuffle (count + count-distinct ride the same
    grouping); no windows, no collects — the class frame is bounded by
    the number of distinct QI tuples, never the fact cardinality.
    """
    if k < 1 or l < 1:
        raise ValueError("k and l must be >= 1")
    keys = list(qi_cols)
    g = df.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("class_size"),
        F.countDistinct(sensitive_col).cast("bigint").alias(
            "distinct_sensitive"
        ),
    )
    return g.select(
        *keys,
        "class_size",
        "distinct_sensitive",
        (F.col("class_size") >= k).alias("k_anonymous"),
        (F.col("distinct_sensitive") >= l).alias("l_diverse"),
    )


def column_entropy(
    df: DataFrame, columns: Sequence[str]
) -> DataFrame:
    """Per-column Shannon entropy profile — the PII/identifier detector
    next to :func:`table_profile`: near-zero entropy flags constants,
    entropy close to ``log2(n_distinct)`` with high cardinality flags
    identifier-like (and potentially sensitive) columns.

    Per column (values stringified, NULLs profiled separately):
    ``entropy_bits = -sum_v (c_v/n) log2(c_v/n)`` and
    ``normalized_entropy = entropy_bits / log2(n_distinct)`` (NULL when
    the column has < 2 distinct values).  Transcendental log2 differs
    across libm in the last ulp, so each term rides the repo's
    quantized-term contract (mleval.ndcg_at_k): rounded to 12 digits,
    summed as DECIMAL(28,12) — exact, partitioning-proof — with the
    closing division in IEEE double rounded to 9.

    Plan: ONE ``stack`` unpivot scan of the fact (k columns -> k rows
    map-side, no per-column re-scan), one (column, value) partial-agg
    shuffle, a 4-row broadcast join of the per-column totals back, and
    one k-key final aggregate.  Nothing collects.
    """
    cols = list(columns)
    stack_args = ", ".join(
        f"'{c}', CAST(`{c}` AS STRING)" for c in cols
    )
    long = df.select(
        F.expr(f"stack({len(cols)}, {stack_args}) AS (col, val)")
    )
    counts = long.groupBy("col", "val").agg(
        F.count("*").cast("bigint").alias("_c")
    )
    totals = counts.groupBy("col").agg(
        F.sum(F.when(F.col("val").isNotNull(), F.col("_c")).otherwise(0))
        .cast("bigint")
        .alias("_n"),
        F.sum(F.when(F.col("val").isNull(), F.col("_c")).otherwise(0))
        .cast("bigint")
        .alias("n_null"),
    )
    p = F.col("_c").cast("double") / F.col("_n").cast("double")
    term = F.when(
        F.col("val").isNotNull(),
        F.round(-p * F.log2(p), 12),
    ).cast("decimal(28,12)")
    j = counts.join(F.broadcast(totals), "col")
    agg = j.groupBy("col").agg(
        F.max("_n").alias("n_values"),
        F.max("n_null").alias("n_null"),
        F.sum(F.when(F.col("val").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_distinct"),
        F.sum(term).alias("_h"),
    )
    h = F.coalesce(F.col("_h").cast("double"), F.lit(0.0))
    norm = F.when(
        F.col("n_distinct") > 1,
        F.round(h / F.log2(F.col("n_distinct").cast("double")), 9),
    )
    return agg.select(
        F.col("col").alias("column_name"),
        "n_values",
        "n_null",
        "n_distinct",
        F.round(h, 9).alias("entropy_bits"),
        norm.alias("normalized_entropy"),
    )


def benford_deviation(
    df: DataFrame,
    value_col: str,
    scale: int = 100,
) -> DataFrame:
    """Benford's-law first-digit audit of a positive numeric column —
    the classic fraud / synthetic-data / unit-mixup detector for
    financial and measurement columns (public method: Benford 1938,
    Nigrini's audit practice).

    The value is quantized to integer units first (``round(v * scale)``
    — engine-stable because both engines round the SAME IEEE product,
    and prices quantized at 1/scale never land near .5 unit boundaries),
    the first digit read off the INTEGER's decimal string (int→string
    is identical across engines; float→string is not), and the observed
    digit distribution compared to Benford's ``log10(1 + 1/d)``:
    per-digit share gap and a chi-square statistic.  The transcendental
    expected shares ride the quantized-term contract (round to 12,
    DECIMAL(28,12) sums, close at 9) so the oracle is hash-exact.

    Plan: one map-side digit extraction, ONE digit-keyed partial-agg
    shuffle (9 groups), a 1-row totals broadcast, and the full 1..9
    digit spine (a digit absent from the data still contributes
    ``n * expected`` to chi-square — the psi_drift spine lesson).
    Output per digit: (digit, n_obs, share_obs, share_exp, gap,
    chi2_total).
    """
    units = F.round(F.col(value_col).cast("double") * scale).cast(
        "bigint"
    )
    obs = (
        df.select(benford_digit(units).alias("digit"))
        .filter(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )
    return benford_close(obs)


def benford_digit(units: Column) -> Column:
    """First decimal digit of a positive integer-unit column (NULL for
    units < 1) — map-side."""
    return F.when(
        units >= 1,
        F.substring(units.cast("string"), 1, 1).cast("int"),
    )


def benford_close(obs: DataFrame) -> DataFrame:
    """Close a (digit, n_obs) count frame into the full Benford report —
    the exactly-mergeable-counts contract."""
    spine = obs.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    per = spine.join(obs, "digit", "left").select(
        "digit",
        F.coalesce("n_obs", F.lit(0)).cast("bigint").alias("n_obs"),
    )
    tot = per.agg(F.sum("n_obs").cast("bigint").alias("_n"))
    w = per.crossJoin(F.broadcast(tot))
    share_exp = F.round(
        F.log10((F.col("digit") + F.lit(1)) / F.col("digit")), 12
    )
    share_obs = F.col("n_obs").cast("double") / F.col("_n").cast("double")
    expected_n = F.col("_n").cast("double") * share_exp
    term = F.round(
        (F.col("n_obs").cast("double") - expected_n)
        * (F.col("n_obs").cast("double") - expected_n)
        / expected_n,
        12,
    )
    rows = w.select(
        "digit",
        "n_obs",
        F.round(share_obs, 9).alias("share_obs"),
        F.round(share_exp, 9).alias("share_exp"),
        F.round(share_obs - share_exp, 9).alias("gap"),
        term.cast("decimal(28,12)").alias("_t"),
    )
    chi2 = rows.agg(F.sum("_t").cast("double").alias("_chi2"))
    return rows.crossJoin(F.broadcast(chi2)).select(
        "digit",
        "n_obs",
        "share_obs",
        "share_exp",
        "gap",
        F.round(F.col("_chi2"), 9).alias("chi2_total"),
    )


def fk_integrity(
    child: DataFrame,
    parent: DataFrame,
    fk_col: str,
    pk_col: str,
    relation: str,
) -> DataFrame:
    """Referential-integrity audit: orphan rate of ``child.fk_col``
    against ``parent.pk_col`` — the first data-quality gate any
    warehouse load runs (a nonzero orphan rate means the join every
    downstream query performs silently drops rows).

    NULL foreign keys are counted separately (``n_null_fk``) — a NULL
    FK is a modeling choice, an orphan is corruption; conflating them
    hides the defect.  All outputs exact BIGINTs + one closing ratio.

    Plan: ONE left anti-ish aggregation — the child partial-aggregates
    by fk first (distinct-key frame, not fact-sized), the parent side
    is its key column only; orphan detection is an equi-join on the
    key frames, so the shuffle carries distinct keys, never facts.
    """
    keys = (
        child.filter(F.col(fk_col).isNotNull())
        .groupBy(F.col(fk_col).alias("_k"))
        .agg(F.count("*").cast("bigint").alias("_n"))
    )
    orphan = keys.join(
        parent.select(F.col(pk_col).alias("_k")).distinct(),
        "_k",
        "left_anti",
    )
    tot = child.agg(
        F.count("*").cast("bigint").alias("n_child"),
        F.count_if(F.col(fk_col).isNull()).cast("bigint").alias(
            "n_null_fk"
        ),
    )
    orph = orphan.agg(
        F.coalesce(F.sum("_n"), F.lit(0)).cast("bigint").alias("n_orphan"),
        F.count("*").cast("bigint").alias("n_orphan_keys"),
    )
    return (
        tot.crossJoin(orph)
        .select(
            F.lit(relation).alias("relation"),
            "n_child",
            "n_null_fk",
            "n_orphan",
            "n_orphan_keys",
            F.round(
                F.col("n_orphan").cast("double")
                / F.col("n_child").cast("double"),
                9,
            ).alias("orphan_rate"),
        )
    )
