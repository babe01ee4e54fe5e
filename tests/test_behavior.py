"""Semantics tests for the behavioral-analytics operators
(functions/behavior.py) and the mergeable KMV sketch algebra on
handcrafted frames — the edge cases the gate's synthetic data may not pin
down (strict funnel ordering, week-offset arithmetic, merge==direct)."""

import datetime as dt

from pyspark.sql import functions as F

from operator_families.functions.behavior import (
    cohort_retention,
    event_transitions,
    funnel,
)
from operator_families.functions.sketch import (
    kmv_distinct,
    kmv_merge,
    kmv_sketch,
)

SF = "/root/testdata/sf0.001"

_COLS = ["user_id", "event_type", "ts", "event_id"]


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, t, dt.datetime(2024, 1, d, h), i) for i, (u, t, d, h) in enumerate(rows)],
        _COLS[:2] + ["ts"] + ["event_id"],
    ).select("user_id", "event_type", F.col("ts").cast("timestamp"), "event_id")


def test_funnel_requires_strict_order(spark):
    rows = [
        # u1: view -> click -> purchase (full conversion)
        (1, "view", 1, 0), (1, "click", 2, 0), (1, "purchase", 3, 0),
        # u2: click BEFORE view only — click must not count
        (2, "click", 1, 0), (2, "view", 2, 0),
        # u3: click at the same instant as view — strictly-after excludes it
        (3, "view", 4, 5), (3, "click", 4, 5),
        # u4: never viewed
        (4, "purchase", 1, 0),
    ]
    out = {
        r["stage_name"]: (r["users"], r["conversion_pct"])
        for r in funnel(_ev(spark, rows), ["view", "click", "purchase"]).collect()
    }
    assert out["view"] == (3, 100.0)
    assert out["click"] == (1, round(100.0 / 3, 2))
    assert out["purchase"] == (1, round(100.0 / 3, 2))


def test_funnel_monotone_on_events(spark):
    from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

    got = (
        funnel(load_table(spark, SF, "events"), ["view", "click", "purchase"])
        .orderBy("stage")
        .collect()
    )
    users = [r["users"] for r in got]
    assert users == sorted(users, reverse=True)


def test_cohort_retention_offsets(spark):
    rows = [
        # u1 first active Mon Jan 1 week; active again Jan 10 (offset 1)
        (1, "view", 1, 9), (1, "view", 10, 9),
        # u2 first active Jan 10 week (cohort Jan 8); offset 0 only
        (2, "view", 10, 9),
    ]
    got = {
        (str(r["cohort_week"]), r["week_offset"]): (
            r["active_users"],
            r["retention_pct"],
        )
        for r in cohort_retention(_ev(spark, rows)).collect()
    }
    assert got[("2024-01-01", 0)] == (1, 100.0)
    assert got[("2024-01-01", 1)] == (1, 100.0)
    assert got[("2024-01-08", 0)] == (1, 100.0)
    assert len(got) == 3


def test_transition_shares_sum_to_100(spark):
    from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

    out = event_transitions(load_table(spark, SF, "events"))
    sums = out.groupBy("src").agg(F.round(F.sum("share_pct"), 0).alias("s"))
    assert all(abs(r["s"] - 100.0) < 1 for r in sums.collect())


def test_kmv_merge_equals_direct_global(spark):
    """Bottom-k of the union of per-group bottom-k sketches IS the global
    bottom-k — so the merged estimate must equal the direct global one."""
    from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

    ev = load_table(spark, SF, "events")
    direct = kmv_distinct(ev, [], "user_id", k=32).first()["distinct_estimate"]
    merged = kmv_merge(
        kmv_sketch(ev, ["event_type"], "user_id", k=32), k=32
    ).first()["distinct_estimate"]
    assert merged == direct


def test_pps_sample_pick_total_and_heavy_items(spark):
    """Systematic PPS: picks sum exactly to n; a row holding more than
    2/n of the total weight must be picked at least twice; zero-weight
    rows never appear."""
    from pyspark.sql import Row
    from operator_families.functions.sketch import (
        pps_systematic_sample,
    )

    rows = [Row(doc_id=i, w=1.0) for i in range(50)] + [
        Row(doc_id=50, w=50.0),  # half the total mass
        Row(doc_id=51, w=0.0),
    ]
    out = pps_systematic_sample(
        spark.createDataFrame(rows), "w", 10, "doc_id", block_size=8
    ).collect()
    total = sum(r["n_picks"] for r in out)
    assert total == 10
    heavy = {r["doc_id"]: r["n_picks"] for r in out}
    assert heavy.get(50, 0) >= 4
    assert 51 not in heavy


def test_pps_sample_partition_invariant(spark):
    from operator_families.functions.sketch import (
        pps_systematic_sample,
    )
    from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

    d = load_table(spark, SF, "documents")
    a = pps_systematic_sample(d.repartition(1), "n_chars", 25, "doc_id")
    b = pps_systematic_sample(d.repartition(13, "doc_id"), "n_chars", 25, "doc_id")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def _events_table(spark):
    from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

    return load_table(spark, SF, "events")


def test_funnel_join_chain_matches_window_chain(spark):
    """The whale-safe join chain is plan-different but row-identical to
    the stacked-window chain, on real event data."""
    ev = _events_table(spark)
    stages = ["view", "click", "purchase"]
    a = sorted(map(tuple, funnel(ev, stages).collect()))
    b = sorted(map(tuple, funnel(ev, stages, chain="join").collect()))
    assert a == b


def test_transitions_segmented_matches_plain(spark):
    """Time-segmented pair decomposition reproduces the single-window
    transition matrix exactly, for widths that split and widths that
    swallow the whole stream."""
    ev = _events_table(spark)
    base = sorted(map(tuple, event_transitions(ev).collect()))
    for width in (3600, 86400, 10**9):
        seg = sorted(
            map(tuple, event_transitions(ev, bucket_seconds=width).collect())
        )
        assert seg == base, f"width={width}"


def test_retention_join_prestamp_matches_window(spark):
    ev = _events_table(spark)
    a = sorted(map(tuple, cohort_retention(ev).collect()))
    b = sorted(map(tuple, cohort_retention(ev, prestamp="join").collect()))
    assert a == b


def test_rfm_segments_scoring(spark):
    """Recent+heavy users score high; strict quartile boundaries; segment
    label concatenates the three digits."""
    import datetime as dt

    from pyspark.sql import Row

    from operator_families.functions.behavior import (
        rfm_segments,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user u: u events, last event t0 + u days, each value u
    for u in range(1, 9):
        for i in range(u):
            rows.append(
                Row(
                    user_id=u,
                    ts=t0 + dt.timedelta(days=u, minutes=i),
                    value=float(u),
                )
            )
    df = spark.createDataFrame(rows)
    out = {r["user_id"]: r for r in rfm_segments(df).collect()}
    assert out[8]["segment"] == "444"  # most recent, most frequent, biggest
    assert out[1]["r_score"] == 1 and out[1]["f_score"] == 1
    assert out[8]["recency_days"] == 0 and out[1]["recency_days"] == 7
    for r in out.values():
        assert r["segment"] == f"{r['r_score']}{r['f_score']}{r['m_score']}"


def test_attribute_conversions_credit_models(spark):
    """First/last/linear credit identities: each model's credit per
    conversion sums to exactly 1; window boundaries are (lo, conversion]
    with coincident-touch inclusion; touchless conversions are absent."""
    import datetime as dt

    from operator_families.functions.behavior import (
        attribute_conversions,
    )

    t0 = dt.datetime(2026, 4, 1, 12, 0, 0)
    rows = [
        # user 1: three touches then a purchase; one touch out of window
        (1, 10, "click", t0 - dt.timedelta(hours=30)),   # out of window
        (1, 11, "click", t0 - dt.timedelta(hours=3)),
        (1, 12, "view", t0 - dt.timedelta(hours=2)),
        (1, 13, "click", t0),                            # coincident: in
        (1, 14, "purchase", t0),
        # user 2: purchase with no touches -> absent
        (2, 20, "purchase", t0),
        # user 3: single touch
        (3, 30, "view", t0 - dt.timedelta(minutes=5)),
        (3, 31, "purchase", t0),
    ]
    ev = spark.createDataFrame(
        [(u, e, ty, ts) for u, e, ty, ts in rows],
        "user_id bigint, event_id bigint, event_type string, ts timestamp",
    )
    out = attribute_conversions(ev).collect()
    by_conv = {}
    for r in out:
        by_conv.setdefault(r["conversion_id"], []).append(r)

    assert set(by_conv) == {14, 31}  # touchless conversion 20 absent
    c14 = {r["touch_id"]: r for r in by_conv[14]}
    assert set(c14) == {11, 12, 13}  # touch 10 outside 24 h
    assert all(r["n_touches"] == 3 for r in c14.values())
    assert c14[11]["credit_first"] == 1.0 and c14[13]["credit_first"] == 0.0
    assert c14[13]["credit_last"] == 1.0 and c14[11]["credit_last"] == 0.0
    for model in ("credit_first", "credit_last", "credit_linear"):
        assert sum(r[model] for r in by_conv[14]) == 1.0
        assert sum(r[model] for r in by_conv[31]) == 1.0
    assert abs(c14[12]["credit_linear"] - 1 / 3) < 1e-15


def test_attribute_conversions_custom_event_type_col(spark):
    """The event-type column is parameterized like the other columns —
    a schema naming it `action` works unchanged and produces the same
    attribution as the default-named twin."""
    import datetime as dt

    from operator_families.functions.behavior import (
        attribute_conversions,
    )

    t0 = dt.datetime(2026, 4, 1, 12, 0, 0)
    rows = [
        (1, 11, "click", t0 - dt.timedelta(hours=3)),
        (1, 12, "view", t0 - dt.timedelta(hours=2)),
        (1, 14, "purchase", t0),
    ]
    renamed = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, action string, ts timestamp"
    )
    out = attribute_conversions(renamed, event_type_col="action").collect()
    assert {r["touch_id"] for r in out} == {11, 12}
    assert all(r["conversion_id"] == 14 and r["n_touches"] == 2 for r in out)


# ---------------------------------------------------------------------------
# Interval union sweep (functions/temporal.py)
# ---------------------------------------------------------------------------
def test_interval_union_merge_touch_nest(spark):
    import datetime as dt

    from pyspark.sql import Row
    from operator_families.functions.temporal import (
        interval_union,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        # key 1: [0,10) and [5,20) overlap -> [0,20); [20,25) touches ->
        # merges; [30,40) separate island; [32,35) nested inside it
        Row(k=1, s=ts(0), e=ts(10), i=1),
        Row(k=1, s=ts(5), e=ts(20), i=2),
        Row(k=1, s=ts(20), e=ts(25), i=3),
        Row(k=1, s=ts(30), e=ts(40), i=4),
        Row(k=1, s=ts(32), e=ts(35), i=5),
        # key 2: zero-length interval counts as an island of 0 seconds
        Row(k=2, s=ts(0), e=ts(0), i=6),
        # key 3: inverted interval is dropped entirely
        Row(k=3, s=ts(10), e=ts(5), i=7),
    ]
    out = {
        r.k: (r.covered_seconds, r.n_islands)
        for r in interval_union(
            spark.createDataFrame(rows), "k", "s", "e", "i"
        ).collect()
    }
    assert out == {1: (35, 2), 2: (0, 1)}
