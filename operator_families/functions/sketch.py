"""Deterministic sketches: KMV distinct-count estimation and bottom-k
hash sampling.

Spark's built-in ``approx_count_distinct`` (HLL++) is fast but its binary
sketch is engine-internal — no independent oracle can replay it.  These
operators build on the repo-wide md5 hash contract (``functions/text.py``)
instead, so every estimate and every sample is bit-reproducible on any
engine, any partitioning, any cluster size:

- ``kmv_distinct``: the K-Minimum-Values estimator (Bar-Yossef et al.
  2002).  Per group keep the k smallest distinct 32-bit hash values; with
  ``n >= k`` distinct values the k-th smallest hash ``h_k`` estimates the
  cardinality as ``(k-1) * 2^32 / h_k`` (below k, the count is exact).
  One distinct + one top-k-per-group pass — the sketch state is k ints per
  group regardless of input size.
- ``bottom_k_sample``: the same machinery as a DETERMINISTIC uniform
  sample — the k rows with the smallest key hashes form an unbiased
  sample that is stable across runs, partitionings, and engines (unlike
  ``DataFrame.sample``, whose output depends on the physical split).
  This is the training-data sampling primitive: hold-out sets and eval
  slices drawn this way are reproducible forever.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import hash32

__all__ = [
    "kmv_distinct",
    "kmv_sketch",
    "kmv_merge",
    "kmv_set_ops",
    "kmv_difference",
    "bottom_k_sample",
    "bernoulli_sample",
    "stratified_bernoulli_sample",
    "pps_systematic_sample",
    "grid_quantile_sketch",
    "grid_quantile_merge",
    "grid_quantile_estimate",
    "sliding_distinct_kmv",
    "sliding_distinct_exact",
    "bloom_build",
    "cm_build",
    "cm_query",
    "bloom_probe",
]

_HASH_SPACE = float(2**32)


def _rank_hash(col: Column, salt: str) -> Column:
    return hash32(F.concat(F.lit(f"{salt}:"), col.cast("string")))


def kmv_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """Per-group distinct-count estimate: (group_cols..., distinct_estimate).

    Exact when a group holds fewer than ``k`` distinct hashes; the KMV
    estimate (rounded to 2) otherwise.
    """
    keys = list(group_cols)
    hashed = df.select(
        *keys, _rank_hash(F.col(value_col), salt).alias("_h")
    ).distinct()
    if keys:
        w = Window.partitionBy(*keys).orderBy("_h")
        ranked = hashed.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= k
        )
    else:
        # Global sketch: an empty-partitionBy window would funnel every
        # distinct hash through ONE partition.  orderBy().limit(k) compiles
        # to TakeOrderedAndProject — each partition keeps its own k smallest
        # hashes and the driver merges k rows per partition, so the sketch
        # build stays distributed at any corpus size.
        ranked = hashed.orderBy("_h").limit(k)
    est = (k - 1) * _HASH_SPACE / F.col("_hk")
    return (
        ranked.groupBy(*keys)
        .agg(F.count("*").alias("_n"), F.max("_h").alias("_hk"))
        .select(
            *keys,
            F.when(F.col("_n") < k, F.col("_n").cast("double"))
            .otherwise(F.round(est, 2))
            .alias("distinct_estimate"),
        )
    )


def kmv_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """The mergeable state behind :func:`kmv_distinct`: per group, the k
    smallest distinct value hashes — (group_cols..., h), ≤ k rows/group.

    KMV sketches union-merge: the bottom-k of the distinct hash union of
    any slicing (per-day, per-shard, per-source) IS the sketch of the whole
    — so a 100 TB corpus is sketched where the data lives (k bigints per
    slice) and combined by :func:`kmv_merge` without ever rescanning.  The
    sketch table is also the persistable artifact: store it next to each
    partition and global distinct counts become metadata-scale queries.
    """
    keys = list(group_cols)
    hashed = df.select(
        *keys, _rank_hash(F.col(value_col), salt).alias("h")
    ).distinct()
    if keys:
        w = Window.partitionBy(*keys).orderBy("h")
        return (
            hashed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
    return hashed.orderBy("h").limit(k)


def kmv_merge(sketches: DataFrame, k: int = 64) -> DataFrame:
    """Union-merge KMV sketch rows into one global distinct-count estimate.

    ``sketches`` is any union of :func:`kmv_sketch` outputs (their ``h``
    column; group columns are ignored — overlapping slices are fine, the
    hash-distinct absorbs them).  Returns a single row
    ``(distinct_estimate)`` on the same exact-below-k / KMV-above-k
    contract as :func:`kmv_distinct`.  The merge input is ≤ k rows per
    slice, so this runs at metadata scale regardless of corpus size.
    """
    merged = sketches.select("h").distinct().orderBy("h").limit(k)
    est = (k - 1) * _HASH_SPACE / F.col("_hk")
    return (
        merged.agg(F.count("*").alias("_n"), F.max("h").alias("_hk"))
        .select(
            F.when(F.col("_n") < k, F.col("_n").cast("double"))
            .otherwise(F.round(est, 2))
            .alias("distinct_estimate"),
        )
    )


def kmv_set_ops(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    group_cols: Sequence[str] = (),
    k: int = 64,
) -> DataFrame:
    """Distinct-set UNION / INTERSECTION / Jaccard estimates from two KMV
    sketches — the multiset-operation estimator of Beyer et al. 2007
    (SIGMOD, "On Synopses for Distinct-Value Estimation"), which is what
    makes KMV strictly more useful than HLL for corpus overlap questions
    ("how many users/documents do these two sources share?") without
    rescanning either side.

    Method: take the combined bottom-``k`` K of the two sketches' hash
    union; with ``n = |K|`` and ``h_k`` its largest hash, the union
    estimate is the usual KMV read (exact when ``n < k``); the fraction
    ``rho`` of K's members present in BOTH sketches estimates the Jaccard
    similarity, and ``rho * union`` the intersection.  Entirely
    deterministic on the md5 hash contract, so a DuckDB oracle replays
    every value.

    Inputs are :func:`kmv_sketch` outputs (columns ``group_cols... , h``)
    built with the SAME k and salt.  Returns per group (or one global
    row): (group..., union_estimate, intersection_estimate,
    jaccard_estimate).  Metadata-scale: ≤ 2k rows per group ever touched.

    A sketch built with a LARGER k than the ``k`` argument would make the
    combined bottom-k read a biased union estimate, so (matching
    :func:`grid_quantile_merge`'s fail-loud contract) each input is
    checked: any group carrying more than ``k`` hashes aborts the query
    with ``raise_error`` instead of returning silently-wrong estimates.
    The salt cannot be checked from the hashes alone — that half of the
    contract stays documented.
    """
    keys = list(group_cols)

    def _checked(sketch: DataFrame, side: str) -> DataFrame:
        # One window over the sketch itself (metadata scale by contract;
        # the pathological oversized input this guards against is still
        # only sketch-sized, never the corpus).
        w = Window.partitionBy(*keys) if keys else Window.partitionBy()
        n = F.count("*").over(w)
        return (
            sketch.withColumn(
                "_ok",
                F.when(n <= k, F.lit(True)).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(
                                f"kmv_set_ops: sketch_{side} carries "
                            ),
                            n.cast("string"),
                            F.lit(
                                f" hashes in one group but k={k} — it was"
                                " built with a larger k; rebuild both"
                                " sketches with the same k (and salt)"
                            ),
                        )
                    )
                ),
            )
            .filter(F.col("_ok"))
            .drop("_ok")
        )

    a = _checked(sketch_a, "a").select(*keys, "h", F.lit(1).alias("_a"))
    b = _checked(sketch_b, "b").select(*keys, "h", F.lit(1).alias("_b"))
    u = a.join(b, [*keys, "h"], "full_outer")
    if keys:
        w = Window.partitionBy(*keys).orderBy("h")
        bottom = u.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= k
        )
    else:
        bottom = u.orderBy("h").limit(k)
    est = (k - 1) * _HASH_SPACE / F.col("_hk")
    union = (
        F.when(F.col("_n") < k, F.col("_n").cast("double"))
        .otherwise(F.round(est, 2))
    )
    rho = F.col("_both").cast("double") / F.col("_n")
    return (
        bottom.groupBy(*keys)
        .agg(
            F.count("*").alias("_n"),
            F.max("h").alias("_hk"),
            F.sum(
                F.when(F.col("_a").isNotNull() & F.col("_b").isNotNull(), 1)
                .otherwise(0)
            ).alias("_both"),
        )
        .select(
            *keys,
            union.alias("union_estimate"),
            F.round(rho * union, 2).alias("intersection_estimate"),
            F.round(rho, 4).alias("jaccard_estimate"),
        )
    )


def kmv_difference(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    group_cols: Sequence[str] = (),
    k: int = 64,
) -> DataFrame:
    """Distinct-set DIFFERENCE estimates from two KMV sketches — the
    directional completion of :func:`kmv_set_ops` (Beyer et al. 2007):
    "how many documents are in source A that B does not have?", again
    without rescanning either side.

    Same combined bottom-k frame: with ``rho_a_only`` the fraction of K
    present ONLY in A's sketch, ``|A \\ B| ~= rho_a_only * union`` (and
    symmetrically for B).  Exact (not an estimate) whenever the combined
    distinct hash count stays below k.  Inputs follow the
    :func:`kmv_set_ops` contract (same k, same salt, fail-loud size
    check).  Output per group: (group..., union_estimate,
    a_not_b_estimate, b_not_a_estimate).
    """
    keys = list(group_cols)

    def _checked(sketch: DataFrame, side: str) -> DataFrame:
        w = Window.partitionBy(*keys) if keys else Window.partitionBy()
        n = F.count("*").over(w)
        return (
            sketch.withColumn(
                "_ok",
                F.when(n <= k, F.lit(True)).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(f"kmv_difference: sketch_{side} carries "),
                            n.cast("string"),
                            F.lit(
                                f" hashes in one group but k={k} — rebuild"
                                " both sketches with the same k (and salt)"
                            ),
                        )
                    )
                ),
            )
            .filter(F.col("_ok"))
            .drop("_ok")
        )

    a = _checked(sketch_a, "a").select(*keys, "h", F.lit(1).alias("_a"))
    b = _checked(sketch_b, "b").select(*keys, "h", F.lit(1).alias("_b"))
    u = a.join(b, [*keys, "h"], "full_outer")
    if keys:
        w = Window.partitionBy(*keys).orderBy("h")
        bottom = u.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= k
        )
    else:
        bottom = u.orderBy("h").limit(k)
    est = (k - 1) * _HASH_SPACE / F.col("_hk")
    union = (
        F.when(F.col("_n") < k, F.col("_n").cast("double"))
        .otherwise(F.round(est, 2))
    )
    rho_a = F.col("_a_only").cast("double") / F.col("_n")
    rho_b = F.col("_b_only").cast("double") / F.col("_n")
    return (
        bottom.groupBy(*keys)
        .agg(
            F.count("*").alias("_n"),
            F.max("h").alias("_hk"),
            F.sum(
                F.when(F.col("_a").isNotNull() & F.col("_b").isNull(), 1)
                .otherwise(0)
            ).alias("_a_only"),
            F.sum(
                F.when(F.col("_b").isNotNull() & F.col("_a").isNull(), 1)
                .otherwise(0)
            ).alias("_b_only"),
        )
        .select(
            *keys,
            union.alias("union_estimate"),
            F.round(rho_a * union, 2).alias("a_not_b_estimate"),
            F.round(rho_b * union, 2).alias("b_not_a_estimate"),
        )
    )


def bottom_k_sample(
    df: DataFrame,
    k: int,
    id_col: str,
    group_cols: Sequence[str] | None = None,
    salt: str = "sample",
) -> DataFrame:
    """The k rows with the smallest key hashes (per group when given).

    Adds ``sample_rank`` (1-based by hash, id tiebreak).  Uniform over
    keys, deterministic everywhere the md5 contract holds.
    """
    keys = list(group_cols or [])
    h = _rank_hash(F.col(id_col), salt)
    if keys:
        w = Window.partitionBy(*keys).orderBy(h.asc(), F.col(id_col).asc())
        return (
            df.withColumn("sample_rank", F.row_number().over(w))
            .filter(F.col("sample_rank") <= k)
        )
    # Global sample: never rank the raw table through an empty-partitionBy
    # window (single-partition sort of the whole corpus).  orderBy().limit(k)
    # is TakeOrderedAndProject — per-partition top-k, driver merges k rows
    # per partition — then the rank window runs over just those k rows.
    top = df.withColumn("_h", h).orderBy(
        F.col("_h").asc(), F.col(id_col).asc()
    ).limit(k)
    w = Window.orderBy(F.col("_h").asc(), F.col(id_col).asc())
    return (
        top.withColumn("sample_rank", F.row_number().over(w)).drop("_h")
    )


def bernoulli_sample(
    df: DataFrame,
    rate: float,
    id_col: str,
    salt: str = "bern",
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose key hash falls under
    ``rate`` of the 32-bit hash space.

    The reproducible replacement for ``DataFrame.sample`` — membership is
    a pure function of the key, so the same row is kept on every run, any
    partitioning, any engine honoring the md5 contract, and samples drawn
    at increasing rates are NESTED (rate 0.1 ⊂ rate 0.2), which makes
    scaling-law subset chains consistent by construction.  Pure map-side
    filter: no shuffle, no state.
    """
    threshold = int(rate * _HASH_SPACE)
    return df.filter(_rank_hash(F.col(id_col), salt) < threshold)


def stratified_bernoulli_sample(
    df: DataFrame,
    rates: dict,
    stratum_col: str,
    id_col: str,
    salt: str = "bern",
) -> DataFrame:
    """Per-stratum deterministic Bernoulli rates — ``sampleBy`` without the
    seed-and-partitioning lottery.

    ``rates`` maps stratum value -> keep probability; strata absent from
    the map are dropped (rate 0), mirroring ``sampleBy``.  This is the
    data-mixture primitive: down-weight an over-represented source to a
    target mix with one deterministic map-side filter over the corpus.
    """
    thr = None
    for stratum, rate in rates.items():
        cond = F.col(stratum_col) == stratum
        cap = F.lit(int(rate * _HASH_SPACE))
        thr = F.when(cond, cap) if thr is None else thr.when(cond, cap)
    thr = thr.otherwise(F.lit(0)) if thr is not None else F.lit(0)
    return df.filter(_rank_hash(F.col(id_col), salt) < thr)


def pps_systematic_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_col: str,
    block_size: int = 1024,
) -> DataFrame:
    """Deterministic probability-proportional-to-size (systematic) sample.

    Weights are quantized to integer milli-units (``round(w*1000)``,
    negatives clamped to 0), a global cumulative sum assigns each row the
    half-open interval ``[lo, hi)`` on the weight line, and the sampler
    takes the ``n`` systematic grid points ``m * W / n`` — a row is picked
    ``(hi*n div W) - (lo*n div W)`` times (heavy rows can be picked more
    than once; zero-weight rows never).  ALL arithmetic is exact integer:
    the prefix sums and the grid products run in DECIMAL(38,0), matching
    the oracle's 128-bit (HUGEINT) windowed sums, so ``hi * n`` cannot
    silently wrap the way a bigint product would once total quantized
    weight W exceeds ``2^63 / n``.  Exactness holds while ``W * n <
    10^38`` — at milli-quantization that is ~10^28 total weight even for
    n = 10^7 picks, far beyond any corpus — making the sample
    bit-identical on any engine and any partitioning: the weighted
    counterpart of :func:`bottom_k_sample` (which cannot express weights)
    and the transcendental-free alternative to exp-rank reservoir
    schemes (no ``log``).

    The global prefix sum is ``prefixsum.running_total`` — the
    three-level block scheme (within-block window sums, superblock-keyed
    block offsets, a single-partition window only over the
    one-row-per-``block_size**2``-ids superblock table), so no row- or
    block-scale single-partition pass at any corpus size.  ``id_col``
    must be a unique integral key (validated there).  Returns
    (id_col, weight_q, n_picks), pick total exactly ``n``.
    """
    from .prefixsum import running_total

    wq = F.greatest(
        F.round(F.col(weight_col) * 1000).cast("bigint"), F.lit(0)
    )
    base = df.select(F.col(id_col), wq.alias("_wq"))
    # decimal(38,0) running sum: Spark caps SUM(decimal(38,0)) at
    # decimal(38,0), the exact analogue of the oracle's HUGEINT cumsum
    cum = running_total(
        base,
        F.col("_wq").cast("decimal(38,0)"),
        id_col,
        block_size=block_size,
        out_col="_hi",
    ).withColumn("_lo", F.col("_hi") - F.col("_wq"))
    total = cum.agg(F.max("_hi").alias("_W"))
    scored = cum.crossJoin(F.broadcast(total))
    # decimal * int literal stays decimal; `div` (IntegralDivide) on
    # decimals returns bigint — no 64-bit intermediate anywhere
    picks = (
        F.expr(f"_hi * {n} div _W") - F.expr(f"_lo * {n} div _W")
    ).cast("int")
    return (
        scored.withColumn("n_picks", picks)
        .filter(F.col("n_picks") > 0)
        .select(F.col(id_col), F.col("_wq").alias("weight_q"), "n_picks")
    )


#: Fixed grid resolution for the quantile sketch.
GRID_QUANTILE_BINS = 128


def grid_quantile_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    bins: int = GRID_QUANTILE_BINS,
    bounds: DataFrame | None = None,
) -> DataFrame:
    """Mergeable fixed-grid quantile sketch STATE: per group, equi-width
    bin counts between the group's exact min/max.

    The deterministic stand-in for t-digest/KLL: two passes (bounds, then
    map-side binning into a (group, bin)-keyed count), state size
    ``bins`` rows per group regardless of input size.  States built over
    DISJOINT slices of a group (with shared bounds) merge by summing
    counts — see :func:`grid_quantile_merge` — which is what makes the
    sketch shippable from per-partition/per-day builds.  Unlike HLL/
    t-digest binaries, the state is plain rows an independent oracle can
    replay.  Returns (group..., lo, hi, n, bin, c).

    ``bounds`` (optional): a ``(group..., lo, hi)`` DataFrame of EXTERNAL
    bounds to bin against instead of this slice's own min/max — the knob
    that makes the per-day-build-then-merge pattern possible through the
    public API (slices binned against their OWN bounds do NOT merge;
    :func:`grid_quantile_merge` now fails loudly on that).  Typical use:
    one global bounds pass, then per-slice
    ``grid_quantile_sketch(slice, ..., bounds=global_bounds)``.  Values
    outside ``[lo, hi)`` clamp into the edge bins, so drifting slices
    still produce a valid (if edge-heavy) state; groups absent from
    ``bounds`` are dropped (inner join — no bounds, no grid).  The
    internal-bounds path is unchanged: lo/hi/n in one aggregation.
    """
    keys = list(group_cols)
    v = F.col(value_col)
    if bounds is None:
        bnd = df.groupBy(*keys).agg(
            F.min(v).alias("lo"),
            F.max(v).alias("hi"),
            F.count(v).alias("n"),
        )
        out_keys = [*keys, "lo", "hi", "n"]
    else:
        bnd = bounds.select(*keys, "lo", "hi")
        out_keys = [*keys, "lo", "hi"]
    width = (F.col("hi") - F.col("lo")) / F.lit(bins)
    b = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(bins - 1),
            F.greatest(
                F.lit(0), F.floor((v - F.col("lo")) / width).cast("int")
            ),
        )
    )
    state = (
        df.join(bnd, keys)
        .select(*out_keys, b.alias("bin"))
        .groupBy(*out_keys, "bin")
        .agg(F.count("*").alias("c"))
    )
    if bounds is None:
        return state
    # external bounds carry no slice count — derive n from the binned
    # counts (metadata scale: <= bins rows per group, window not corpus)
    n = F.sum("c").over(Window.partitionBy(*keys))
    return state.select(
        *keys, "lo", "hi", n.alias("n"), "bin", "c"
    )


def grid_quantile_merge(
    states: DataFrame, group_cols: Sequence[str]
) -> DataFrame:
    """Merge sketch states built over disjoint slices of each group.

    Requires the slices to share (lo, hi) — build them against global
    bounds via ``grid_quantile_sketch(slice, ..., bounds=global_bounds)``
    (one bounds pass, then per-day states).  Counts sum; ``n`` re-derives
    from the summed counts.

    A group whose states carry MORE than one distinct (lo, hi) pair was
    built against inconsistent grids — summing its counts would silently
    produce garbage estimates — so the merge FAILS LOUDLY at execution
    (``raise_error``) instead of returning corrupted state.
    """
    keys = list(group_cols)
    merged = states.groupBy(*keys, "bin").agg(
        F.sum("c").alias("c"),
        F.count_distinct(F.struct("lo", "hi")).alias("_nbb"),
        F.min("lo").alias("lo"),
        F.min("hi").alias("hi"),
    )
    # one window over the <= bins rows per group (metadata scale, never
    # the corpus): derives n AND checks grid consistency in one pass
    w = Window.partitionBy(*keys)
    bad = (F.max("_nbb").over(w) > 1) | (
        F.size(F.collect_set(F.struct("lo", "hi")).over(w)) > 1
    )
    return (
        merged.withColumn("n", F.sum("c").over(w))
        .withColumn(
            "_ok",
            F.when(~bad, F.lit(True)).otherwise(
                F.raise_error(
                    F.lit(
                        "grid_quantile_merge: a group carries multiple"
                        " distinct (lo, hi) pairs — slices were binned"
                        " against inconsistent grids; rebuild them with"
                        " grid_quantile_sketch(bounds=<shared bounds>)"
                    )
                )
            ),
        )
        .filter(F.col("_ok"))
        .select(*keys, "lo", "hi", "n", "bin", "c")
    )


def grid_quantile_estimate(
    state: DataFrame,
    group_cols: Sequence[str],
    qs: Sequence[tuple[int, int]] = ((50, 100), (90, 100), (99, 100)),
    bins: int = GRID_QUANTILE_BINS,
) -> DataFrame:
    """Quantile estimates from a grid sketch state.

    For each rational quantile ``(qn, qd)``: integer target rank
    ``r = ceil(qn * n / qd)``; the estimate interpolates inside the bin
    containing rank ``r``:
    ``lo + (bin + (r - cum_prev) / c) * (hi - lo) / bins``.  Rank math is
    pure integer, the interpolation a fixed IEEE chain — bit-identical
    cross-engine.  Grid error is bounded by one bin width;
    determinism and mergeability are what this buys over
    ``approx_percentile``.

    Plan: cumulative window over each group's <= ``bins`` rows (metadata
    scale), an explode of the constant quantile list, one equi-join
    filter picking the unique covering bin.  Returns
    (group..., q_pct, est).
    """
    keys = list(group_cols)
    cum = state.select(
        *keys, "lo", "hi", "n", "bin", "c",
        F.sum("c")
        .over(
            Window.partitionBy(*keys).orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cumc"),
    )
    qlist = F.array(
        *[
            F.struct(F.lit(qn).alias("qn"), F.lit(qd).alias("qd"))
            for qn, qd in qs
        ]
    )
    with_q = cum.select(
        "*", F.explode(qlist).alias("_q")
    ).select(
        "*",
        F.expr("(_q.qn * n + _q.qd - 1) div _q.qd").alias("_r"),
    )
    covering = with_q.filter(
        (F.col("cumc") >= F.col("_r"))
        & ((F.col("cumc") - F.col("c")) < F.col("_r"))
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(bins)
    frac = (F.col("_r") - (F.col("cumc") - F.col("c"))).cast("double") / F.col(
        "c"
    )
    return covering.select(
        *keys,
        F.col("_q.qn").cast("int").alias("q_pct"),
        F.round(F.col("lo") + (F.col("bin") + frac) * width, 6).alias("est"),
    )


def sliding_distinct_exact(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    window_days: int = 7,
) -> DataFrame:
    """EXACT trailing-window distinct cardinality — the ground-truth twin
    of :func:`sliding_distinct_kmv` (same day domain: every day present
    in the data, window = that day and the ``window_days - 1`` before
    it).  Returns (day, n_distinct).

    The sketch exists because this operator re-counts each value up to
    ``window_days`` times; the exact form is still perfectly scalable —
    just ``window_days``-fold heavier, which is the documented trade:

    Plan: ONE (day, value)-distinct pass over the corpus (the same
    dedup the sketch starts with), then each distinct pair fans out to
    the <= ``window_days`` future days it covers (explode of a date
    sequence — bounded, map-side) and a day-keyed COUNT(DISTINCT)
    (two-phase Expand, partial-aggregated).  Cost is
    ``window_days x |distinct day-value pairs|`` — linear in the data,
    never windows-times-rescans; restricting to days that exist keeps
    the output domain identical to the sketch's.
    """
    pairs = df.select(
        F.to_date(F.col(ts_col)).alias("_d"),
        F.col(value_col).alias("_v"),
    ).distinct()
    days = pairs.select(F.col("_d").alias("day")).distinct()
    contrib = pairs.select(
        F.explode(
            F.expr(f"sequence(_d, date_add(_d, {window_days - 1}))")
        ).alias("day"),
        "_v",
    )
    return (
        days.join(contrib, "day")
        .groupBy("day")
        .agg(F.countDistinct("_v").alias("n_distinct"))
    )


def sliding_distinct_kmv(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    window_days: int = 7,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """Trailing-window distinct cardinality (e.g. 7-day active users) via
    MERGEABLE KMV states — the query exact sliding COUNT(DISTINCT)
    cannot express without re-scanning every window.

    Per day, the day's KMV state (k smallest distinct value hashes);
    each day's trailing estimate then merges the window's states with
    pure array expressions (flatten -> distinct -> sort -> bottom-k)
    over the DAY-level frame.  The unpartitioned RANGE window runs on
    one row per day — metadata scale by construction, the same contract
    as the gapfill/LOCF frame — while the only row-scale passes are the
    hash projection and the per-day distinct.  Exact below k distinct
    values, the (k-1)*2^32/h_k estimator above.
    """
    day = F.to_date(F.col(ts_col))
    state = kmv_sketch(
        df.select(day.alias("_day"), F.col(value_col)),
        ["_day"],
        value_col,
        k,
        salt,
    )
    per_day = state.groupBy("_day").agg(
        F.array_sort(F.collect_list("h")).alias("_hs")
    )
    w = Window.orderBy(F.unix_date(F.col("_day"))).rangeBetween(
        -(window_days - 1), 0
    )
    win = per_day.select(
        "_day", F.flatten(F.collect_list("_hs").over(w)).alias("_m")
    )
    arr = F.slice(F.array_sort(F.array_distinct(F.col("_m"))), 1, k)
    cnt = F.size(arr)
    hk = F.element_at(arr, cnt)
    est = F.when(cnt < k, cnt.cast("double")).otherwise(
        F.round((k - 1) * _HASH_SPACE / hk, 2)
    )
    return win.select(
        F.col("_day").alias("day"), est.alias("distinct_estimate")
    )


#: Bloom defaults: 8192-bit space, 3 hash functions.
BLOOM_BITS = 8192
BLOOM_HASHES = 3


def _bloom_positions(col: Column, bits: int, hashes: int) -> Column:
    """The value's bit positions: ``h('bloom<i>:' || value) mod bits``."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(hashes)),
        lambda i: hash32(
            F.concat(
                F.lit("bloom"),
                i.cast("string"),
                F.lit(":"),
                col.cast("string"),
            )
        )
        % bits,
    )


def bloom_build(
    df: DataFrame,
    value_col: str,
    bits: int = BLOOM_BITS,
    hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Deterministic Bloom filter STATE over a column: the sorted array of
    set bit positions (1 row).  Built on the md5 contract, so — unlike
    Spark's internal bloom aggregate — an independent oracle can replay
    it bit for bit, and states from disjoint slices merge by position
    union.  No false negatives ever; false-positive rate follows the
    standard (1 - e^{-kn/m})^k curve.

    Plan: map-side position explode, position-keyed distinct (partial-
    aggregated), one tiny collect_list into the single state row — the
    state is <= ``bits`` ints regardless of input size.
    """
    pos = df.select(
        F.explode(
            _bloom_positions(F.col(value_col), bits, hashes)
        ).alias("p")
    ).distinct()
    return pos.agg(F.array_sort(F.collect_list("p")).alias("bloom"))


def bloom_probe(
    df: DataFrame,
    state: DataFrame,
    value_col: str,
    bits: int = BLOOM_BITS,
    hashes: int = BLOOM_HASHES,
    out_col: str = "maybe_member",
) -> DataFrame:
    """Membership probe against a :func:`bloom_build` state: true iff
    EVERY position of the value is set.  The 1-row state broadcasts; the
    probe is map-side.

    Implementation note (measured, sf0.1): the probe stays on
    ``array_except`` against the sparse position list — Spark's native
    array set-op, fully codegen'd — NOT an element_at lookup into a
    densified bits-long boolean array.  The dense variant looks
    asymptotically better (O(hashes) per row vs O(hashes + set-bits))
    but higher-order-function lambdas execute on the interpreted
    expression path: the one-time densify alone ran 15 s and the probe
    3x slower than the whole array_except plan (2.5 s), a 6x regression.
    At extreme fact scale, the documented upgrade is a driver-side
    bit-packed literal (the state is <= ``bits`` ints by construction),
    not per-row HOF lookups."""
    ps = _bloom_positions(F.col(value_col), bits, hashes)
    return df.crossJoin(F.broadcast(state)).withColumn(
        out_col,
        F.size(F.array_except(ps, F.col("bloom"))) == 0,
    ).drop("bloom")


def cm_build(
    df: DataFrame,
    value_col: str,
    width: int = 1024,
    depth: int = 4,
    salt: str = "cm",
) -> DataFrame:
    """Count-Min sketch STATE (Cormode & Muthukrishnan 2005): ``depth``
    independent hash rows of ``width`` counters, stored SPARSELY as
    (row, bucket, c) — the frequency-estimation member of the sketch
    family (KMV answers "how many distinct", Bloom answers "seen at
    all?", CM answers "how often?").

    Entirely on the md5 contract (row i uses salt ``{salt}:i``), so the
    state and every estimate replay bit-identically on any engine —
    unlike binary CMS blobs, an independent oracle can rebuild it.
    States over disjoint slices merge by summing counters per
    (row, bucket) — the same union-merge contract as the other sketches.

    Plan: ``depth`` map-side hash projections off ONE scan (posexplode
    of the row array), one (row, bucket)-keyed partial-aggregated count
    — state size <= depth x width rows regardless of input.
    """
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                F.pmod(
                    _rank_hash(F.col(value_col), f"{salt}:{i}"), F.lit(width)
                ).cast("int").alias("bucket"),
            )
            for i in range(depth)
        ]
    )
    return (
        df.select(F.explode(rows).alias("_rb"))
        .groupBy(F.col("_rb.row").alias("row"), F.col("_rb.bucket").alias("bucket"))
        .agg(F.count("*").alias("c"))
    )


def cm_query(
    state: DataFrame,
    items: DataFrame,
    value_col: str = "value",
    width: int = 1024,
    depth: int = 4,
    salt: str = "cm",
) -> DataFrame:
    """Point-frequency estimates from a Count-Min state: for each item,
    ``min`` over the ``depth`` rows of its bucket's counter (a missing
    counter reads 0).  CM guarantees ``estimate >= true count`` always,
    with overshoot bounded by collisions — the one-sided error the unit
    test pins against exact counts.

    Plan: items project their (row, bucket) keys map-side and
    equi-join the (<= depth x width row) state — broadcast-sized by
    construction — then one item-keyed min.  Returns (value, est).
    """
    rb = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                F.pmod(
                    _rank_hash(F.col(value_col), f"{salt}:{i}"), F.lit(width)
                ).cast("int").alias("bucket"),
            )
            for i in range(depth)
        ]
    )
    probes = items.select(
        F.col(value_col), F.explode(rb).alias("_rb")
    ).select(
        value_col,
        F.col("_rb.row").alias("row"),
        F.col("_rb.bucket").alias("bucket"),
    )
    return (
        probes.join(F.broadcast(state), ["row", "bucket"], "left")
        .groupBy(value_col)
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("est"))
    )
