"""Temporal interval algebra — sweep-line union of overlapping intervals.

The classic coverage question over an event log: given per-key intervals
(start, end), how much wall-clock time is covered once overlaps merge,
and how many disjoint "islands" remain?  (The reference's overlapping-
disruption query, aggregators.py Q6, asks who OVERLAPS; this operator
asks how much time the union covers — the complementary temporal
aggregate.)

The sweep is the textbook window-function formulation, all integer
epoch-second arithmetic so the result is bit-identical cross-engine:

1. order each key's intervals by (start, end, tiebreak);
2. running MAX of end over all PRECEDING rows = the furthest coverage
   before this interval;
3. an interval starts a new island iff its start exceeds that running
   max (touching intervals merge — start == prev-max extends);
4. island id = running SUM of the new-island flags;
5. per island: min(start)..max(end); per key: sum of island lengths.

Scale shape: ONE shuffle on the key, then two window passes and two
partial aggregations over that same partitioning — no join at all.  The
per-key sweep is inherently sequential, so a single whale key serializes
on one task; for few-key corpora (e.g. global coverage), pre-split keys
by coarse time chunk, sweep per chunk, and merge the at-most-one
boundary-spanning island per chunk pair — the standard two-pass rewrite,
not implemented here because every gate keys on user-sized partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def interval_union(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Per-key union coverage of [start, end) intervals.

    ``start_col``/``end_col`` must be timestamps (or anything with exact
    ``unix_timestamp`` semantics); ``tiebreak_col`` makes the sweep order
    total so island numbering is deterministic under ties.  Intervals
    with ``end < start`` or NULL bounds are dropped.

    Returns (key, covered_seconds BIGINT, n_islands BIGINT).
    """
    iv = (
        df.select(
            F.col(key_col).alias("_k"),
            F.unix_timestamp(start_col).alias("_s"),
            F.unix_timestamp(end_col).alias("_e"),
            F.col(tiebreak_col).alias("_t"),
        )
        .filter(
            F.col("_s").isNotNull()
            & F.col("_e").isNotNull()
            & (F.col("_e") >= F.col("_s"))
        )
    )
    w_ord = Window.partitionBy("_k").orderBy("_s", "_e", "_t")
    prev_max = F.max("_e").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "_new",
        F.when(
            prev_max.isNull() | (F.col("_s") > prev_max), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "_island",
        F.sum("_new").over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_island = islands.groupBy("_k", "_island").agg(
        F.min("_s").alias("_is"), F.max("_e").alias("_ie")
    )
    return per_island.groupBy(F.col("_k").alias(key_col)).agg(
        F.sum(F.col("_ie") - F.col("_is")).alias("covered_seconds"),
        F.count("*").alias("n_islands"),
    )


def interpolate_daily_linear(
    daily: DataFrame,
    group_cols: list,
    day_col: str = "day",
    value_col: str = "day_value",
) -> DataFrame:
    """Linear interpolation of a daily series onto its full calendar
    spine — the time-series repair that LOCF gap-filling cannot do:
    missing days take the straight line BETWEEN the surrounding
    observations instead of repeating the last one.

    Input is an already-aggregated per-group daily frame (group...,
    day, value).  Per group the spine spans min..max observed day;
    for a missing day with previous known observation ``(dp, vp)`` and
    next ``(dn, vn)``::

        filled = vp + (vn - vp) * (day - dp) / (dn - dp)

    with the day differences exact integers and the closing chain
    fixed IEEE over identical operands (one multiply of one divide) —
    engine-stable.  Because the spine is bounded by the group's own
    min/max OBSERVED day, every gap has both neighbours by
    construction — no single-sided case exists.

    Plan: the spine explodes from the per-group 1-row bounds
    aggregate and equi-joins the daily frame on (group, day) — both
    sides post-aggregation, days x groups scale; AQE broadcasts the
    small side.  The four IGNORE-NULLS windows share one group-keyed
    sort on that same frame.  The event stream is shuffled exactly
    once, by the caller's daily aggregation.  Output: group columns,
    day, ``is_gap``, ``filled_value``.
    """
    keys = list(group_cols)
    bounds = daily.groupBy(*keys).agg(
        F.min(day_col).alias("_lo"), F.max(day_col).alias("_hi")
    )
    spine = bounds.select(
        *keys,
        F.explode(
            F.expr("sequence(_lo, _hi, interval 1 day)")
        ).alias(day_col),
    )
    j = spine.join(daily, keys + [day_col], "left")
    w_past = (
        Window.partitionBy(*keys)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_future = (
        Window.partitionBy(*keys)
        .orderBy(day_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    known_day = F.when(
        F.col(value_col).isNotNull(), F.col(day_col)
    )
    vp = F.last(value_col, ignorenulls=True).over(w_past)
    dp = F.last(known_day, ignorenulls=True).over(w_past)
    vn = F.first(value_col, ignorenulls=True).over(w_future)
    dn = F.first(known_day, ignorenulls=True).over(w_future)
    interp = vp + (vn - vp) * (
        F.datediff(F.col(day_col), dp).cast("double")
        / F.datediff(dn, dp).cast("double")
    )
    filled = F.when(
        F.col(value_col).isNotNull(), F.col(value_col)
    ).otherwise(interp)
    return j.select(
        *keys,
        day_col,
        F.col(value_col).isNull().alias("is_gap"),
        F.round(filled, 6).alias("filled_value"),
    )


def peak_concurrency(
    df: DataFrame,
    group_cols: Sequence[str],
    start_col: str,
    end_col: str,
    id_col: str,
) -> DataFrame:
    """Maximum concurrent open intervals per group — the sweep-line
    counter (capacity planning: peak simultaneous sessions / live
    incidents; the max-of-running-sum companion of interval_union's
    covered-seconds).

    Half-open interval convention [start, end): an interval ending at
    the exact instant another starts does NOT overlap it, so deltas at
    equal timestamps order ends (-1) before starts (+1); ``id_col``
    breaks remaining ties so the running sum is a total order.  Returns
    (group..., peak_concurrency, first_peak_ts, n_at_peak) where
    ``first_peak_ts`` is the earliest sweep position attaining the peak
    and ``n_at_peak`` counts positions at it.  All integers.

    Plan: the +-1 delta union is map-side; ONE group-keyed shuffle
    serves both the running-sum window and the group-max window; the
    peak filter + final agg reuse the same key.
    """
    from pyspark.sql import Window

    g = list(group_cols)
    starts = df.select(
        *g,
        F.col(start_col).alias("_t"),
        F.lit(1).alias("_delta"),
        F.col(id_col).alias("_id"),
    )
    ends = df.select(
        *g,
        F.col(end_col).alias("_t"),
        F.lit(-1).alias("_delta"),
        F.col(id_col).alias("_id"),
    )
    deltas = starts.unionByName(ends)
    w = Window.partitionBy(*g).orderBy("_t", "_delta", "_id")
    cum = deltas.withColumn(
        "_cur",
        F.sum("_delta").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    peaked = cum.withColumn(
        "_peak", F.max("_cur").over(Window.partitionBy(*g))
    )
    return (
        peaked.filter(F.col("_cur") == F.col("_peak"))
        .groupBy(*g, F.col("_peak").alias("peak_concurrency"))
        .agg(
            F.min("_t").alias("first_peak_ts"),
            F.count("*").alias("n_at_peak"),
        )
    )


def fifo_allocate(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    amount_col: str,
    budget_col: str,
    scale: int = 2,
) -> DataFrame:
    """Sequential FIFO budget allocation: within each key, consume the
    key's budget against its items in ``order_col`` order — item i
    receives ``clamp(budget - cum_amount_before_i, 0, amount_i)`` — the
    classic payment-application / inventory-costing / quota-fill
    allocator, a pure windowed computation (no loop, no join).

    All money math runs in exact DECIMAL (inputs quantized at ``scale``
    fractional digits via the repo's string-bridge cast, the TPC-H
    internal-decimal contract), so the cumulative chain is
    engine-exact; outputs close with ``ROUND(CAST(... AS DOUBLE),
    scale)`` at the boundary (the driver-safe output contract).

    Scale shape: ONE key shuffle shared by the single window pass
    (running sum over the preceding frame) and the final projection —
    the same one-exchange contract as the sequential-statistics family.
    Whale keys serialize on their own history, the documented property
    of every ordered per-key operator here.

    Output: (keys..., order_col, amount, cum_before, allocated,
    remaining_budget, fully_covered) — ``remaining_budget`` is what is
    left AFTER this item, floored at zero; ``fully_covered`` flags
    items whose full amount was funded.

    ``order_col`` need not be unique within a key: the window tiebreaks
    on the exact amount, and rows tied on (order, amount) produce the
    SAME output multiset under any permutation (equal amounts commute
    through the running sum), so the result is total-order-free without
    demanding a rowid.
    """
    keys = list(key_cols)
    dec = f"decimal(28,{scale})"
    amt = F.col(amount_col).cast("string").cast(dec)
    bud = F.col(budget_col).cast("string").cast(dec)
    zero = F.lit(0).cast("string").cast(dec)
    t = df.select(
        *keys,
        F.col(order_col),
        amt.alias("_amt"),
        bud.alias("_bud"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_col), F.col("_amt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = t.withColumn("_cum", F.coalesce(F.sum("_amt").over(w), zero))
    alloc = F.least(
        F.col("_amt"), F.greatest(F.col("_bud") - F.col("_cum"), zero)
    )
    rem = F.greatest(F.col("_bud") - F.col("_cum") - F.col("_amt"), zero)
    out_d = lambda c: F.round(c.cast("double"), scale)  # noqa: E731
    return t.select(
        *keys,
        F.col(order_col),
        out_d(F.col("_amt")).alias("amount"),
        out_d(F.col("_cum")).alias("cum_before"),
        out_d(alloc).alias("allocated"),
        out_d(rem).alias("remaining_budget"),
        (alloc == F.col("_amt")).alias("fully_covered"),
    )
