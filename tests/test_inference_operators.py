"""Unit tests for the r11 inference operators (functions/stats.py
friedman_q / cramers_v / kendall_tau_b, functions/mleval.py
mcc_thresholds / log_loss, and the text_soundex dual implementation)."""

from __future__ import annotations

import math


def test_friedman_textbook_no_ties(spark):
    """b=4 blocks x k=3 treatments, distinct in-block values: classic
    Q = 12/(bk(k+1)) sum R_j^2 - 3b(k+1) = 2.0 (hand-computed), and the
    Conover tie-corrected form must coincide when there are no ties."""
    from operator_families.functions.stats import friedman_q

    counts = {
        ("b1", "A"): 1, ("b1", "B"): 2, ("b1", "C"): 3,
        ("b2", "A"): 2, ("b2", "B"): 4, ("b2", "C"): 6,
        ("b3", "A"): 3, ("b3", "B"): 1, ("b3", "C"): 2,
        ("b4", "A"): 5, ("b4", "B"): 3, ("b4", "C"): 4,
    }
    rows = [(b, t) for (b, t), v in counts.items() for _ in range(v)]
    df = spark.createDataFrame(rows, "blk string, trt string")
    out = friedman_q(df, "blk", "trt").collect()[0]
    assert out["k"] == 3 and out["b"] == 4
    assert abs(out["q_stat"] - 2.0) < 1e-12


def test_friedman_incomplete_block_excluded(spark):
    """A block missing one treatment must drop out entirely."""
    from operator_families.functions.stats import friedman_q

    rows = [("b1", "A"), ("b1", "B"), ("b2", "A")]  # b2 lacks B
    df = spark.createDataFrame(rows, "blk string, trt string")
    out = friedman_q(df, "blk", "trt").collect()[0]
    assert out["b"] == 1  # only b1 survives


def test_cramers_v_known_2x2(spark):
    """[[10,20],[20,10]]: chi2 = 60/9, V = 1/3 (hand-computed)."""
    from operator_families.functions.stats import cramers_v

    rows = (
        [("r1", "c1")] * 10 + [("r1", "c2")] * 20
        + [("r2", "c1")] * 20 + [("r2", "c2")] * 10
    )
    df = spark.createDataFrame(rows, "r string, c string")
    out = cramers_v(df, "r", "c").collect()[0]
    assert out["n"] == 60
    assert abs(out["chi2"] - 60.0 / 9.0) < 1e-6
    assert abs(out["v"] - 1.0 / 3.0) < 1e-6


def test_kendall_tau_no_ties(spark):
    """y = [1,2,3,5,4] against x = [1..5]: one discordant pair of 10,
    tau-b = 0.8."""
    from operator_families.functions.stats import (
        kendall_tau_b,
    )

    df = spark.createDataFrame(
        [(1.0, 1), (2.0, 2), (3.0, 3), (4.0, 5), (5.0, 4)],
        "x double, y int",
    )
    out = kendall_tau_b(df, "x", "y").collect()[0]
    assert out["concordant"] == 9 and out["discordant"] == 1
    assert abs(out["tau_b"] - 0.8) < 1e-12


def test_kendall_tau_tie_corrections(spark):
    """x=[1,1,2], y=[1,2,2]: C=1, D=0, one x-tie pair, one y-tie pair,
    tau-b = 1/sqrt(4) = 0.5 (hand-computed)."""
    from operator_families.functions.stats import (
        kendall_tau_b,
    )

    df = spark.createDataFrame(
        [(1.0, 1), (1.0, 2), (2.0, 2)], "x double, y int"
    )
    out = kendall_tau_b(df, "x", "y").collect()[0]
    assert out["concordant"] == 1 and out["discordant"] == 0
    assert out["ties_x"] == 1 and out["ties_y"] == 1
    assert abs(out["tau_b"] - 0.5) < 1e-12


def test_mcc_thresholds_perfect_and_partial(spark):
    """Perfect separation at the midpoint threshold gives MCC = 1; at
    threshold 90 the confusion is (tp=1 fn=1 tn=2 fp=0) so MCC =
    2/sqrt(12) (hand-computed)."""
    from operator_families.functions.mleval import (
        mcc_thresholds,
    )

    df = spark.createDataFrame(
        [(95, 1), (85, 1), (15, 0), (5, 0)], "score long, label int"
    )
    out = {
        r["threshold_units"]: r
        for r in mcc_thresholds(df, "score", "label", 100).collect()
    }
    assert len(out) == 9
    mid = out[50]
    assert mid["tp"] == 2 and mid["tn"] == 2
    assert abs(mid["mcc"] - 1.0) < 1e-12
    hi = out[90]
    assert (hi["tp"], hi["fp"], hi["tn"], hi["fn"]) == (1, 0, 2, 1)
    assert abs(hi["mcc"] - 2.0 / math.sqrt(12.0)) < 1e-9


def test_mcc_empty_bucket_thresholds_present(spark):
    """Thresholds above every score still emit a row (tp = fp = 0)."""
    from operator_families.functions.mleval import (
        mcc_thresholds,
    )

    df = spark.createDataFrame([(5, 1), (15, 0)], "score long, label int")
    rows = mcc_thresholds(df, "score", "label", 100).collect()
    assert len(rows) == 9
    top = [r for r in rows if r["threshold_units"] == 90][0]
    assert top["tp"] == 0 and top["fp"] == 0 and top["mcc"] is None


def test_log_loss_hand_computed(spark):
    """denom=8: p=(s+1)/10; rows (8,1) and (1,0) give
    -(ln .9 + ln .8) summed, mean of two (hand-computed)."""
    from operator_families.functions.mleval import log_loss

    df = spark.createDataFrame([(8, 1), (1, 0)], "score long, label int")
    out = log_loss(df, "score", "label", 8).collect()[0]
    expect = -(math.log(0.9) + math.log(0.8))
    assert out["n"] == 2 and out["n_pos"] == 1
    assert abs(out["loss_sum"] - round(expect, 9)) < 1e-9
    assert abs(out["log_loss"] - round(expect / 2, 9)) < 1e-9


_SDX_TOKENS = [
    "robert", "rupert", "ashcraft", "ashcroft", "tymczak", "pfister",
    "honeyman", "hello", "who", "bhb", "bab", "hl", "pf", "a", "w",
    "jackson", "gutierrez",
]


def test_soundex_native_known_codes(spark):
    """Spark's native soundex against the published census codes."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(t,) for t in _SDX_TOKENS], "token string")
    got = {
        r["token"]: r["s"]
        for r in df.select("token", F.soundex("token").alias("s")).collect()
    }
    assert got["robert"] == "R163"
    assert got["tymczak"] == "T522"      # the Z-C-Z chain with vowels
    assert got["pfister"] == "P236"      # P-F same code collapses
    assert got["honeyman"] == "H555"
    assert got["jackson"] == "J250"
    assert got["who"] == "W000"


def test_theil_u_known_table(spark):
    """Perfect determinism (each column value maps to one row value)
    gives U = 1; independence gives U = 0."""
    from operator_families.functions.stats import theil_u

    det = spark.createDataFrame(
        [("a", 1)] * 5 + [("b", 2)] * 5, "r string, c int"
    )
    out = theil_u(det, "r", "c").collect()[0]
    assert abs(out["u"] - 1.0) < 1e-9
    ind = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1), ("b", 2)] * 3, "r string, c int"
    )
    out = theil_u(ind, "r", "c").collect()[0]
    assert abs(out["u"] - 0.0) < 1e-9
    assert out["h_r"] > 0
