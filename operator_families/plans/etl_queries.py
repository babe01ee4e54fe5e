"""Gate queries exercising the engine's ETL operators over the synthetic
tables directly (FIXTURES.md §6): conditional aggregates, multi-join star
queries, sessionization, recommendation and data-quality checks.

Registered into the operator-family registry (plans/registry.py) with
DuckDB oracles.  The cross-engine parity rules documented in
``nl_railtraffic_etl_pipeline_spark/plans/registry.py`` apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

from .registry import query


# ---------------------------------------------------------------------------
# Conditional aggregates over lineitem (A3/A7/M2 at TPC-H shape)
# ---------------------------------------------------------------------------
@query(
    "agg_pricing_summary",
    """
SELECT
    l_returnflag,
    l_linestatus,
    ROUND(SUM(l_quantity), 2) AS sum_qty,
    ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
    ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
    ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
        AS sum_charge,
    ROUND(AVG(l_quantity), 2) AS avg_qty,
    ROUND(AVG(l_extendedprice), 2) AS avg_price,
    ROUND(AVG(l_discount), 4) AS avg_disc,
    COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def _pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Star-schema join: revenue by nation (J1 broadcast pattern at fact scale)
# ---------------------------------------------------------------------------
@query(
    "join_revenue_by_nation",
    """
SELECT n_name AS nation,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS line_count
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def _revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders", spread=True)
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Sessionization: gap-based session ids via lag + running sum (W8 pattern)
# ---------------------------------------------------------------------------
SESSION_GAP_MIN = 30


@query(
    "events_sessionize",
    f"""
WITH ordered AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
    SELECT user_id, ts,
           CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS session_id
    FROM ordered
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end
FROM sessioned
GROUP BY user_id, session_id
""",
)
def _sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=True)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull()
        | ((F.unix_micros("ts") - F.unix_micros(prev)) > gap_us),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn(
            "session_id",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


# ---------------------------------------------------------------------------
# Built-in session windows: session_window(ts, gap) groups rows into
# gap-bounded sessions engine-side; window end = last event + gap.
# ---------------------------------------------------------------------------
@query(
    "events_session_window",
    f"""
WITH ordered AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS sid
    FROM ordered
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sessioned
GROUP BY user_id, sid
""",
)
def _session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=True)
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# CUBE: every (event_type x day-of-week) margin in one shared-partial-agg
# pass — the all-margins companion of rollup_multi_granularity.  Subtotal
# rows carry NULL group keys on both engines, so the level marker needs no
# grouping_id().
# ---------------------------------------------------------------------------
@query(
    "events_cube",
    """
SELECT event_type,
       CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
       COUNT(*) AS n_events,
       ROUND((CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(24,10)))
                   AS DOUBLE) / COUNT(value)), 4) AS avg_value
FROM events
GROUP BY CUBE(event_type, CAST(dayofweek(ts) + 1 AS INTEGER))
""",
)
def _events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both margins + grand total in ONE aggregation: CUBE shares the
    partial (map-side) aggregation across all four grouping sets instead
    of scanning per margin.  The average goes through string-exact decimal
    sums (see emb_label_centroids) so every margin hash-matches."""
    ev = load_table(spark, sf_dir, "events", spread=True).select(
        "event_type",
        F.dayofweek("ts").cast("int").alias("dow"),
        F.col("value").cast("string").cast("decimal(24,10)").alias("_dv"),
        "value",
    )
    return ev.cube("event_type", "dow").agg(
        F.count("*").alias("n_events"),
        F.round(
            F.sum("_dv").cast("double") / F.count("value"), 4
        ).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# TPC-H-classic multi-join analytics (Q3/Q5 shapes adapted to the synthetic
# relational schema): the join-ordering / broadcast showcase over
# customer-orders-lineitem(-supplier-nation-region).  Revenue terms
# quantize to DECIMAL(18,2) (prices/discounts carry 2 decimals — exact),
# so the sums hash-match; Catalyst broadcasts every dimension and AQE
# picks the fact-join strategy.
# ---------------------------------------------------------------------------
_REV_SQL = (
    "CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(18,2)) * "
    "(1 - CAST(CAST(l_discount AS VARCHAR) AS DECIMAL(18,2)))"
)


def _rev_col() -> F.Column:
    p = F.col("l_extendedprice").cast("string").cast("decimal(18,2)")
    d = F.col("l_discount").cast("string").cast("decimal(18,2)")
    return p * (F.lit(1) - d)


@query(
    "tpch_q3_shipping_priority",
    f"""
SELECT l_orderkey,
       ROUND(CAST(SUM({_REV_SQL}) AS DOUBLE), 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def _tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders", spread=True).filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-03-15"))
    )
    li = load_table(spark, sf_dir, "lineitem", spread=True).filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-03-15"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_rev_col()).cast("double"), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(
            F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey")
        )
        .limit(10)
    )


@query(
    "tpch_q5_regional_volume",
    f"""
SELECT n_name,
       ROUND(CAST(SUM({_REV_SQL}) AS DOUBLE), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
)
def _tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders", spread=True).filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(nat, supp.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(_rev_col()).cast("double"), 2).alias("revenue"))
    )


@query(
    "tpch_q10_returned_items",
    f"""
SELECT c_custkey, c_name, n_name,
       ROUND(CAST(SUM({_REV_SQL}) AS DOUBLE), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def _tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer —
    3 fact/dim joins, grouped revenue, global top-20
    (TakeOrderedAndProject)."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders", spread=True).filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-07-01")))
    )
    li = load_table(spark, sf_dir, "lineitem", spread=True).filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nat, cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(_rev_col()).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q1 (pricing summary) and Q6 (forecast revenue): the scan-heavy
# aggregate pair that complements the join-heavy Q3/Q5/Q10.  Q1 is the
# canonical map-side partial-agg showcase (9 aggregates, 1 exchange over a
# handful of groups); Q6 is pure scan+filter+sum (predicate pushdown to
# parquet, zero shuffles beyond the final 1-row agg).  All money math in
# exact DECIMAL via the string-image cast ((12,2)x(11,2)x(11,2) = (36,6),
# under both engines' 38-digit cap), averages as one IEEE division of
# exact sums — hash-stable at any SF and partitioning.
# ---------------------------------------------------------------------------
from .oracle_util import round_sql as _round_sql  # noqa: E402

_D2 = "CAST(CAST({x} AS VARCHAR) AS DECIMAL(12,2))"
_Q1_QTY = _D2.format(x="l_quantity")
_Q1_PRICE = _D2.format(x="l_extendedprice")
_Q1_DISC = "CAST(CAST(l_discount AS VARCHAR) AS DECIMAL(11,2))"
_Q1_TAX = "CAST(CAST(l_tax AS VARCHAR) AS DECIMAL(11,2))"


def _dec2(col: str, prec: int = 12) -> F.Column:
    return F.col(col).cast("string").cast(f"decimal({prec},2)")


@query(
    "tpch_q1_pricing_summary",
    f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM({_Q1_QTY}) AS DOUBLE) AS sum_qty,
       CAST(SUM({_Q1_PRICE}) AS DOUBLE) AS sum_base_price,
       CAST(SUM({_Q1_PRICE} * (1 - {_Q1_DISC})) AS DOUBLE) AS sum_disc_price,
       CAST(SUM({_Q1_PRICE} * (1 - {_Q1_DISC}) * (1 + {_Q1_TAX})) AS DOUBLE)
           AS sum_charge,
       {{a_qty}} AS avg_qty,
       {{a_price}} AS avg_price,
       {{a_disc}} AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""".format(
        a_qty=_round_sql(
            f"CAST(SUM({_Q1_QTY}) AS DOUBLE) / COUNT(*)", 4
        ),
        a_price=_round_sql(
            f"CAST(SUM({_Q1_PRICE}) AS DOUBLE) / COUNT(*)", 4
        ),
        a_disc=_round_sql(
            f"CAST(SUM({_Q1_DISC}) AS DOUBLE) / COUNT(*)", 4
        ),
    ),
)
def _tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", spread=True).filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
    )
    qty, price = _dec2("l_quantity"), _dec2("l_extendedprice")
    disc = _dec2("l_discount", 11)
    tax = _dec2("l_tax", 11)
    cnt = F.count("*")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(price).cast("double").alias("sum_base_price"),
        F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
        F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
        .cast("double")
        .alias("sum_charge"),
        F.round(F.sum(qty).cast("double") / cnt, 4).alias("avg_qty"),
        F.round(F.sum(price).cast("double") / cnt, 4).alias("avg_price"),
        F.round(F.sum(disc).cast("double") / cnt, 4).alias("avg_disc"),
        cnt.alias("count_order"),
    )


@query(
    "tpch_q6_forecast_revenue",
    f"""
SELECT CAST(SUM({_Q1_PRICE} * {_Q1_DISC}) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND {_Q1_DISC} BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def _tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    disc = _dec2("l_discount", 11)
    li = load_table(spark, sf_dir, "lineitem", spread=True).filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
        & disc.between(F.lit("0.05").cast("decimal(11,2)"),
                       F.lit("0.07").cast("decimal(11,2)"))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(_dec2("l_extendedprice") * disc)
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 (promotion effect) and Q18 (large-volume customers).  Q14:
# conditional aggregation over the lineitem-part broadcast join — the
# promo share is ONE IEEE division of two exact decimal sums.  Q18: the
# classic HAVING-subquery semi-join (orders whose total quantity exceeds a
# threshold), planned as an aggregated build side left-semi-joined into
# the fact scan; quantities are integral so their double sums are exact at
# any order.
# ---------------------------------------------------------------------------
@query(
    "tpch_q14_promo_effect",
    f"""
SELECT {{share}} AS promo_share,
       CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL}
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           AS promo_revenue,
       CAST(SUM({_REV_SQL}) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate <  TIMESTAMP '1997-10-01'
""".format(
        share=_round_sql(
            "100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN "
            f"{_REV_SQL} ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)"
            f" / CAST(SUM({_REV_SQL}) AS DOUBLE)",
            4,
        )
    ),
)
def _tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", spread=True).filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-09-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-10-01")))
    )
    part = load_table(spark, sf_dir, "part")
    rev = _rev_col()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(rev).cast("double"),
            4,
        ).alias("promo_share"),
        F.sum(promo).cast("double").alias("promo_revenue"),
        F.sum(rev).cast("double").alias("total_revenue"),
    )


_Q18_MIN_QTY = 250


@query(
    "tpch_q18_large_orders",
    f"""
WITH big AS (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey HAVING SUM(l_quantity) > {_Q18_MIN_QTY}
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       ROUND(CAST(o_totalprice AS DOUBLE), 2) AS o_totalprice,
       CAST(SUM(l_quantity) AS DOUBLE) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
""",
)
def _tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > _Q18_MIN_QTY)
        .select("l_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders", spread=True).join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    cust = load_table(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.round(F.col("o_totalprice").cast("double"), 2).alias(
                "o_totalprice"
            ),
            "total_qty",
        )
        .orderBy(
            F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey")
        )
        .limit(100)
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 / Q13 / Q22 shapes — the NOT-EXISTS / outer-aggregate
# decorrelation family Q4's EXISTS left open, adapted to the synthetic
# schema ("late line" = l_shipdate > o_orderdate + 60 days stands in for
# receiptdate > commitdate; o_orderpriority for o_comment; c_nationkey for
# the phone country code).  Q21: correlated EXISTS + NOT EXISTS with an
# INEQUALITY correlation (other-supplier lines of the same order) becomes
# a left-semi then left-anti join, each on the l_orderkey equi-key with
# the suppkey<> residual — never a cartesian.  Q13: the exclusion
# predicate lives on the OUTER JOIN's ON clause, and the aggregate runs
# over preserved NULL rows (customers with zero surviving orders count at
# c_count = 0).  Q22: scalar-subquery threshold (exact DECIMAL sum, one
# IEEE division — deterministic boundary membership) + NOT EXISTS
# anti-join against recent orders.
# ---------------------------------------------------------------------------
_Q21_NATIONS = ["NATION_3", "NATION_13", "NATION_19"]
_Q21_NATION_IN = ", ".join(f"'{n}'" for n in _Q21_NATIONS)


@query(
    "tpch_q21_waiting_suppliers",
    f"""
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
  AND s_nationkey = n_nationkey
  AND n_name IN ({_Q21_NATION_IN})
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
)
def _tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    # one orders projection feeds BOTH the l1 lateness flag and the inner
    # NOT EXISTS (which correlates on the same order's o_orderdate)
    orders_f = (
        load_table(spark, sf_dir, "orders", spread=True)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    flagged = li.join(orders_f, li.l_orderkey == orders_f.o_orderkey)
    late = flagged.filter(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).select("l_orderkey", "l_suppkey")
    # EXISTS other-supplier line -> left-semi on the order equi-key with
    # the suppkey<> residual; NOT EXISTS other-supplier LATE line -> the
    # same shape as a left-anti against the late set itself
    other = li.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk")
    )
    other_late = late.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk")
    )
    l1 = late.join(
        other,
        (late.l_orderkey == other._ok) & (late.l_suppkey != other._sk),
        "left_semi",
    ).join(
        other_late,
        (late.l_orderkey == other_late._ok)
        & (late.l_suppkey != other_late._sk),
        "left_anti",
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            load_table(spark, sf_dir, "nation").filter(
                F.col("n_name").isin(_Q21_NATIONS)
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        l1.join(F.broadcast(sup), l1.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


_Q13_EXCLUDED_PRIORITY = "4-NOT SPECIFIED"


@query(
    "tpch_q13_order_distribution",
    f"""
WITH per_cust AS (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer LEFT OUTER JOIN orders
      ON c_custkey = o_custkey
     AND o_orderpriority <> '{_Q13_EXCLUDED_PRIORITY}'
    GROUP BY c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
""",
)
def _tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Aggregate-BELOW-outer-join rewrite: counting per customer after the
    # left join would shuffle every surviving order row on custkey; the
    # count is per-custkey anyway, so partial-aggregate orders FIRST
    # (counts-granularity shuffle) and left-join customer to the counts,
    # NULL -> 0 for customers whose orders were all excluded or absent —
    # exactly the preserved-row semantics of the ON-clause filter.
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    counts = (
        load_table(spark, sf_dir, "orders", spread=True)
        .filter(F.col("o_orderpriority") != _Q13_EXCLUDED_PRIORITY)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("_n"))
    )
    per_cust = cust.join(
        counts, cust.c_custkey == counts.o_custkey, "left"
    ).select(
        F.coalesce(F.col("_n"), F.lit(0).cast("bigint")).alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


_Q22_CODES = [1, 3, 5, 7, 9, 11, 13]
_Q22_CUTOFF = "2000-01-01"


@query(
    "tpch_q22_global_sales_opportunity",
    f"""
WITH base AS (
    SELECT c_custkey, c_nationkey, c_acctbal FROM customer
    WHERE c_nationkey IN ({", ".join(str(c) for c in _Q22_CODES)})
),
avg_bal AS (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(24,6))) AS DOUBLE)
           / COUNT(*) AS ab
    FROM base WHERE c_acctbal > 0
)
SELECT c_nationkey AS cntrycode,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(24,6))) AS DOUBLE), 2)
           AS totacctbal
FROM base, avg_bal
WHERE c_acctbal > ab
  AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '{_Q22_CUTOFF}'
  )
GROUP BY c_nationkey
""",
)
def _tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    base = cust.filter(F.col("c_nationkey").isin(_Q22_CODES)).select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    # scalar subquery -> 1-row broadcast; the threshold is an exact
    # DECIMAL sum over one IEEE division, so which customers clear it is
    # bit-deterministic on both engines (a double-summed AVG would make
    # boundary membership partitioning-dependent)
    avg_row = base.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(24,6)")).cast("double")
            / F.count("*")
        ).alias("_ab")
    )
    recent = (
        load_table(spark, sf_dir, "orders", spread=True)
        .filter(F.col("o_orderdate") >= F.to_timestamp(F.lit(_Q22_CUTOFF)))
        .select("o_custkey")
    )
    return (
        base.crossJoin(F.broadcast(avg_row))
        .filter(F.col("c_acctbal") > F.col("_ab"))
        .join(recent, F.col("c_custkey") == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(24,6)")).cast(
                    "double"
                ),
                2,
            ).alias("totacctbal"),
        )
    )


from .oracle_util import round_sql  # noqa: E402
from .oracle_util import round_sql as _round_sql  # noqa: E402
# ---------------------------------------------------------------------------
# Item-item co-occurrence cosine ("bought X also bought Y") at customer
# basket grain over orders x lineitem — pair generation is a basket-keyed
# self-equi-join (pairs only materialize WITHIN a basket), support counts
# stay exact BIGINT, the cosine is one sqrt + one division, and the top-k
# window is the only rank.  See functions/reco.py.
# ---------------------------------------------------------------------------
@query(
    "reco_item_cosine",
    f"""
WITH b AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
n AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1),
co AS (
    SELECT a.p AS item_i, b2.p AS item_j,
           CAST(COUNT(*) AS BIGINT) AS co_baskets
    FROM b a JOIN b b2 ON a.c = b2.c AND a.p <> b2.p
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
sim AS (
    SELECT co.item_i, co.item_j, co.co_baskets,
           ni.n AS n_i, nj.n AS n_j,
           {{cosine}} AS cosine
    FROM co JOIN n ni ON co.item_i = ni.p JOIN n nj ON co.item_j = nj.p
)
SELECT item_i, item_j, co_baskets, n_i, n_j, cosine,
       CAST(rn AS INTEGER) AS sim_rank
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY item_i
        ORDER BY cosine DESC, co_baskets DESC, item_j ASC
    ) AS rn FROM sim
) WHERE rn <= 5
""".format(
        cosine=_round_sql(
            "CAST(co.co_baskets AS DOUBLE)"
            " / sqrt(CAST(ni.n * nj.n AS DOUBLE))",
            9,
        )
    ),
)
def _reco_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.reco import item_cosine_similarity

    li = load_table(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey", "l_partkey"
    )
    orders = load_table(spark, sf_dir, "orders", spread=True).select(
        "o_orderkey", "o_custkey"
    )
    baskets = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        F.col("o_custkey").alias("basket"), F.col("l_partkey").alias("item")
    )
    return item_cosine_similarity(
        baskets, "basket", "item", min_support=3, top_k=5
    )


# ---------------------------------------------------------------------------
# Hierarchical share-of-parent: nation revenue share and rank within its
# region — exact decimal money math at full product scale, share/rank as
# windows over the 25-row post-agg frame.  See
# functions/stats.py::share_of_parent.
# ---------------------------------------------------------------------------
@query(
    "agg_share_of_parent",
    f"""
WITH rev AS (
    SELECT r_name AS region, n_name AS nation,
           CAST(SUM({_REV_SQL}) AS DECIMAL(30,4)) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY 1, 2
)
SELECT region, nation,
       CAST(revenue AS DOUBLE) AS revenue,
       {{share}} AS share_pct,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY region ORDER BY revenue DESC, nation
       ) AS INTEGER) AS rank_in_parent
FROM rev
""".format(
        share=_round_sql(
            "(CAST(revenue AS DOUBLE) * 100.0)"
            " / CAST(SUM(revenue) OVER (PARTITION BY region) AS DOUBLE)",
            9,
        )
    ),
)
def _share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.stats import share_of_parent

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders", spread=True)
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(F.sum(_rev_col()).cast("decimal(30,4)").alias("revenue"))
    )
    # share/rank are computed from the EXACT decimal revenue inside
    # share_of_parent; only the output boundary crosses to double
    # (driver-safe — raw DECIMAL output columns hash-fail at the driver)
    return share_of_parent(rev, "region", "nation", "revenue").withColumn(
        "revenue", F.col("revenue").cast("double")
    )


# ---------------------------------------------------------------------------
# Pairwise association rules over the same customer-basket frame as
# reco_item_cosine: support / confidence / lift as exact-BIGINT
# rationals, one division each.  See functions/reco.py::association_rules.
# ---------------------------------------------------------------------------
@query(
    "reco_association_rules",
    f"""
WITH b AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
tot AS (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS n_baskets FROM b),
n AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1),
co AS (
    SELECT a.p AS item_i, b2.p AS item_j,
           CAST(COUNT(*) AS BIGINT) AS co_baskets
    FROM b a JOIN b b2 ON a.c = b2.c AND a.p <> b2.p
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
)
SELECT item_i, item_j, co_baskets, n_i, n_j, n_baskets,
       confidence, lift
FROM (
    SELECT co.item_i, co.item_j, co.co_baskets,
           ni.n AS n_i, nj.n AS n_j, tot.n_baskets,
           {{conf}} AS confidence,
           {{lift}} AS lift
    FROM co
    JOIN n ni ON co.item_i = ni.p
    JOIN n nj ON co.item_j = nj.p
    CROSS JOIN tot
)
WHERE confidence >= 0.2
""".format(
        conf=_round_sql(
            "CAST(co.co_baskets AS DOUBLE) / CAST(ni.n AS DOUBLE)", 9
        ),
        lift=_round_sql(
            "CAST(co.co_baskets * tot.n_baskets AS DOUBLE)"
            " / CAST(ni.n * nj.n AS DOUBLE)",
            9,
        ),
    ),
)
def _association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.reco import association_rules

    li = load_table(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey", "l_partkey"
    )
    orders = load_table(spark, sf_dir, "orders", spread=True).select(
        "o_orderkey", "o_custkey"
    )
    baskets = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        F.col("o_custkey").alias("basket"), F.col("l_partkey").alias("item")
    )
    return association_rules(
        baskets, "basket", "item", min_support=3, min_confidence=0.2
    )


# ---------------------------------------------------------------------------
# dbt-style declarative DQ test suite: unique / not_null /
# accepted_values / relationship checks, each ONE counting pass (the
# relationship check an anti-join), unioned into a metadata-scale
# report.  An accepted_values check is deliberately configured to FAIL
# ('P' excluded) so the gate proves violations are counted, not just
# zeros.  See functions/profile.py::run_quality_checks.
# ---------------------------------------------------------------------------
@query(
    "dq_test_suite",
    """
SELECT 'unique__orders__o_orderkey' AS check_name,
       'orders' AS table_name, 'o_orderkey' AS column_name,
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS n_violations,
       COALESCE(SUM(n - 1), 0) = 0 AS passed
FROM (SELECT COUNT(*) AS n FROM orders
      WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
UNION ALL
SELECT 'not_null__orders__o_custkey', 'orders', 'o_custkey',
       CAST(COUNT(*) FILTER (o_custkey IS NULL) AS BIGINT),
       COUNT(*) FILTER (o_custkey IS NULL) = 0
FROM orders
UNION ALL
SELECT 'accepted_values__orders__o_orderstatus', 'orders',
       'o_orderstatus',
       CAST(COUNT(*) FILTER (
           o_orderstatus IS NOT NULL
           AND o_orderstatus NOT IN ('O', 'F')) AS BIGINT),
       COUNT(*) FILTER (
           o_orderstatus IS NOT NULL
           AND o_orderstatus NOT IN ('O', 'F')) = 0
FROM orders
UNION ALL
SELECT 'relationship__orders__o_custkey', 'orders', 'o_custkey',
       CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
FROM orders o
WHERE o.o_custkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'relationship__lineitem__l_orderkey', 'lineitem', 'l_orderkey',
       CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
FROM lineitem l
WHERE l.l_orderkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey)
""",
)
def _dq_test_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.profile import run_quality_checks

    tables = {
        "orders": load_table(spark, sf_dir, "orders", spread=True),
        "customer": load_table(spark, sf_dir, "customer"),
        "lineitem": load_table(spark, sf_dir, "lineitem", spread=True),
    }
    checks = [
        {"kind": "unique", "table": "orders", "column": "o_orderkey"},
        {"kind": "not_null", "table": "orders", "column": "o_custkey"},
        # 'P' deliberately excluded: the suite must COUNT violations
        {"kind": "accepted_values", "table": "orders",
         "column": "o_orderstatus", "values": ["O", "F"]},
        {"kind": "relationship", "table": "orders", "column": "o_custkey",
         "to": "customer", "to_column": "c_custkey"},
        {"kind": "relationship", "table": "lineitem",
         "column": "l_orderkey", "to": "orders",
         "to_column": "o_orderkey"},
    ]
    return run_quality_checks(tables, checks)


# ---------------------------------------------------------------------------
# Open-order aging report: the classic warehouse backlog readout.  The
# snapshot date is the data's own max order date (as-of semantics, no
# wall clock); age buckets are exact day arithmetic; money sums go
# through the VARCHAR->DECIMAL bridge so the totals are exact.
# ---------------------------------------------------------------------------
@query(
    "orders_aging_buckets",
    f"""
WITH snap AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS s FROM orders),
open_o AS (
    SELECT o_orderpriority AS priority,
           date_diff('day', CAST(o_orderdate AS DATE), s) AS age,
           CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(24,6)) AS v
    FROM orders, snap
    WHERE o_orderstatus <> 'F'
),
b AS (
    SELECT priority,
           CASE WHEN age <= 30 THEN '0-30'
                WHEN age <= 60 THEN '31-60'
                WHEN age <= 90 THEN '61-90'
                ELSE '90+' END AS age_bucket,
           v
    FROM open_o
)
SELECT priority, age_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {_round_sql("CAST(SUM(v) AS DOUBLE)", 2)} AS total_value
FROM b GROUP BY 1, 2
""",
)
def _orders_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders", spread=True).filter(
        F.col("o_orderstatus") != "F"
    )
    snap = load_table(spark, sf_dir, "orders").agg(
        F.max(F.to_date("o_orderdate")).alias("_s")
    )
    age = F.datediff(F.col("_s"), F.to_date("o_orderdate"))
    bucket = (
        F.when(age <= 30, "0-30")
        .when(age <= 60, "31-60")
        .when(age <= 90, "61-90")
        .otherwise("90+")
    )
    return (
        o.crossJoin(F.broadcast(snap))
        .select(
            F.col("o_orderpriority").alias("priority"),
            bucket.alias("age_bucket"),
            F.col("o_totalprice")
            .cast("string")
            .cast("decimal(24,6)")
            .alias("_v"),
        )
        .groupBy("priority", "age_bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("_v").cast("double"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Repeat-purchase curve: per order ordinal (a customer's 1st, 2nd,
# 3rd... order), how many customers reach it and the exact share of the
# customer base — the retention curve of the orders table.
# ---------------------------------------------------------------------------
@query(
    "orders_repeat_purchase",
    f"""
WITH ranked AS (
    SELECT o_custkey,
           ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS DATE), o_orderkey
           ) AS ordinal
    FROM orders
),
base AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
         FROM ranked),
curve AS (
    SELECT ordinal, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM ranked GROUP BY 1
)
SELECT CAST(ordinal AS INTEGER) AS ordinal, n_customers,
       {_round_sql("CAST(n_customers * 100 AS DOUBLE)"
                   " / CAST(n_cust AS DOUBLE)", 9)} AS pct_of_base
FROM curve, base
""",
)
def _repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    o = load_table(spark, sf_dir, "orders", spread=True)
    w = _W.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate"), "o_orderkey"
    )
    ranked = o.select(
        "o_custkey", F.row_number().over(w).alias("ordinal")
    )
    base = ranked.agg(
        F.countDistinct("o_custkey").alias("n_cust")
    )
    curve = ranked.groupBy("ordinal").agg(
        F.count("*").alias("n_customers")
    )
    return curve.crossJoin(F.broadcast(base)).select(
        F.col("ordinal").cast("int").alias("ordinal"),
        "n_customers",
        F.round(
            (F.col("n_customers") * 100).cast("double")
            / F.col("n_cust").cast("double"),
            9,
        ).alias("pct_of_base"),
    )


# ---------------------------------------------------------------------------
# ABC inventory classification: parts ranked by exact-decimal revenue,
# bucketed by cumulative revenue share (A <= 80% < B <= 95% < C) — the
# Pareto workhorse of inventory/SKU analysis.  The cumulative share
# comparison is decimal-exact (no float cumsum): cum_revenue and
# total_revenue are exact DECIMAL sums, and the A/B/C cut compares
# cum * 100 <= total * threshold in DECIMAL.
# ---------------------------------------------------------------------------
@query(
    "lineitem_abc_classification",
    f"""
WITH rev AS (
    SELECT l_partkey,
           SUM(CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(24,6))
               * (1 - CAST(CAST(l_discount AS VARCHAR) AS DECIMAL(24,6))))
               AS revenue
    FROM lineitem GROUP BY 1
),
t AS (SELECT SUM(revenue) AS total FROM rev),
c AS (
    SELECT l_partkey, revenue,
           SUM(revenue) OVER (
               ORDER BY revenue DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum
    FROM rev
)
SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
            WHEN cum * 100 <= total * 95 THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       {_round_sql("CAST(SUM(revenue) AS DOUBLE)", 2)} AS class_revenue
FROM c, t GROUP BY 1
""",
)
def _abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    li = load_table(spark, sf_dir, "lineitem", spread=True)
    dec = lambda c: F.col(c).cast("string").cast("decimal(24,6)")  # noqa: E731
    rev = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias(
            "revenue"
        )
    )
    t = rev.agg(F.sum("revenue").alias("total"))
    w = (
        _W.orderBy(F.desc("revenue"), F.asc("l_partkey"))
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    c = rev.withColumn("cum", F.sum("revenue").over(w)).crossJoin(
        F.broadcast(t)
    )
    abc = (
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
    )
    return c.groupBy(abc.alias("abc_class")).agg(
        F.count("*").alias("n_parts"),
        F.round(F.sum("revenue").cast("double"), 2).alias("class_revenue"),
    )

