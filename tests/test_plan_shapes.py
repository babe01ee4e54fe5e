"""Plan-shape regression guards: the scale properties PLANS.md documents
must survive future edits.  Asserts on the optimized physical plan text at
sf0.001 (plan shape, not timing — cheap): the rail gates, the
``operator_families`` kernels applied to the sf0.001 tables, and one
import-boundary guard over the program's sources."""

import ast
import functools
import inspect
import re
from pathlib import Path

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table
from operator_families.functions import (
    behavior,
    corpus,
    dedup,
    graph,
    mleval,
    profile,
    reco,
    simsearch,
    sketch,
    stats,
    temporal,
    web,
)
from operator_families.functions.chunking import span_corruption_masks
from operator_families.functions.geo import grid_nearest_neighbors
from operator_families.functions.text import (
    hash32,
    lm_score,
    quality_classifier,
    vocab_coverage,
)

SF = "/root/testdata/sf0.001"
ROOT = Path(entry_mod.__file__).resolve().parent

QUERIES = entry_mod.queries()

FUNNEL_STAGES = ("view", "click", "purchase")
EMB_DIM = 64  # every testdata scale ships 64-dim embeddings (TESTDATA.md)
KNN_QUERY_IDS = [0, 1, 2, 3, 4]
HASH_JOIN = r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"


def explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@functools.cache  # two tests walk every gate; build each plan once
def plan_of(spark, name: str) -> str:
    return explain(QUERIES[name](spark, SF))


def table(spark, name: str, spread: bool = True):
    return load_table(spark, SF, name, spread=spread)


def events(spark):
    return table(spark, "events")


def test_no_cartesian_products_anywhere(spark):
    for name in QUERIES:
        assert "CartesianProduct" not in plan_of(spark, name), name


PAIR_GENERATORS = {
    "dedup_ngram_jaccard": lambda spark: dedup.ngram_jaccard_pairs(
        table(spark, "documents", spread=False), threshold=0.2, df_cap=100
    ),
    "dedup_minhash_lsh": lambda spark: dedup.minhash_lsh_pairs(
        table(spark, "documents", spread=False), threshold=0.2
    ),
    "dedup_simhash_pairs": lambda spark: dedup.simhash_pairs(
        table(spark, "documents", spread=False), max_hamming=1
    ),
    "dedup_embedding_lsh": lambda spark: dedup.embedding_lsh_pairs(
        table(spark, "embeddings", spread=False), dim=EMB_DIM, threshold=0.35
    ),
    "sim_knn_lsh": lambda spark: simsearch.lsh_bucket_topk(
        table(spark, "embeddings", spread=False), KNN_QUERY_IDS, dim=EMB_DIM, k=10
    ),
}


@pytest.mark.parametrize(
    "name",
    ["dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash_pairs",
     "dedup_embedding_lsh", "sim_knn_lsh", "rail_q6_overlapping"],
)
def test_pair_generators_are_equi_joins(spark, name):
    """Candidate generation must never fall back to a nested-loop pair scan.
    (1-row as-of broadcasts in rail_q6 are fine; a BNLJ whose build side is
    the exploded bucket/band/shingle table is not.)"""
    if name in QUERIES:
        txt = plan_of(spark, name)
    else:
        txt = explain(PAIR_GENERATORS[name](spark))
    hash_joins = len(re.findall(HASH_JOIN, txt))
    assert hash_joins >= 1, f"{name}: no equi-join found"
    if name != "rail_q6_overlapping":
        assert "BroadcastNestedLoopJoin" not in txt, name


def test_dimension_joins_broadcast(spark):
    # station enrichment (25-row dim) must broadcast, not shuffle the fact
    assert "BroadcastHashJoin" in plan_of(spark, "rail_q2_station_severity")


def test_blocked_embedding_kernel_is_executor_side(spark):
    """The exact all-pairs kernel must meet its build side through a
    shuffle join of grouped blocks — never a driver-collecting broadcast
    (VERDICT r01: `src.collect()` was the one scale-killer here)."""
    txt = explain(
        dedup.embedding_near_dup_pairs_blocked(
            table(spark, "embeddings", spread=False), threshold=0.35
        )
    )
    assert "ShuffledHashJoin" in txt
    assert "BroadcastExchange" not in txt
    src = inspect.getsource(dedup)
    assert ".collect()" not in src, "corpus collect() reintroduced in dedup"


def test_python_only_in_arrow_kernels(spark):
    for name in QUERIES:
        txt = plan_of(spark, name)
        has_python = re.search(
            r"MapInPandas|FlatMapGroupsInPandas|ArrowEvalPython"
            r"|BatchEvalPython",
            txt,
        )
        assert not has_python, f"{name}: unexpected Python eval node"


def test_partition_pruning_on_date_partitioned_lake(spark):
    """A date-partitioned lake read with a partition-key filter must prune
    at planning time: the scan's PartitionFilters carry the predicate and
    only the matching partition directory is read."""
    import os
    import shutil

    path = f"/tmp/spark_graft_prune_test_{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, SF, "events").select(
        "event_id", "value", F.to_date("ts").alias("day")
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(path)

    days = [r.day for r in ev.select("day").distinct().collect()]
    target = sorted(days)[0]
    df = spark.read.parquet(path).filter(F.col("day") == F.lit(target))
    txt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", txt)
    assert m and "day" in m.group(1), txt
    # pruned scan must read only the one partition's rows
    expected = ev.filter(F.col("day") == F.lit(target)).count()
    assert df.count() == expected
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# operator_families kernels: each test applies one kernel to an sf0.001
# table (`spread=True` is the loader's round-robin exchange, which is why
# the shuffle counts below key on hashpartitioning only).
# ---------------------------------------------------------------------------


def _events_typed(spark, *cols):
    """Events with a value and an event type, projected to ``cols``."""
    return (
        events(spark)
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(*cols)
    )


def _events_sided(spark, *cols):
    """Events split into two sides by user parity (the A/B test input)."""
    return (
        events(spark)
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select("event_type", (F.col("user_id") % 2).alias("side"), *cols)
    )


def _daily(spark, *aggs):
    """Per (event_type, day) aggregate of the typed events."""
    ev = events(spark).filter(F.col("event_type").isNotNull())
    return ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(*aggs)


def _baskets(spark):
    li = table(spark, "lineitem").select("l_orderkey", "l_partkey")
    orders = table(spark, "orders").select("o_orderkey", "o_custkey")
    return li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("basket"), F.col("l_partkey").alias("item")
    )


def _halves(base, day_col: str = "d"):
    """Flag each row 0/1 by which half of the observed day range it is in."""
    bounds = base.agg(F.min(day_col).alias("_d0"), F.max(day_col).alias("_d1"))
    mid = F.date_add(
        F.col("_d0"), F.floor(F.datediff("_d1", "_d0") / 2).cast("int")
    )
    return base.crossJoin(F.broadcast(bounds)).withColumn(
        "period", (F.col(day_col) >= mid).cast("int")
    )


def _doc_urls(spark):
    """Documents with a URL over seven hosts, three of them one domain."""
    hosts = F.array(*[F.lit(h) for h in (
        "news.example.co.uk", "example.co.uk:8080", "Blog.Sample.COM",
        "sample.com", "www.heavy.org", "cdn.heavy.org", "heavy.org",
    )])
    host = F.element_at(hosts, (F.col("doc_id") % 7 + 1).cast("int"))
    url = F.concat(
        F.lit("https://"), host, F.lit("/p/"), F.col("doc_id").cast("string")
    )
    return table(spark, "documents").select("doc_id", url.alias("url"))


def test_funnel_single_key_shuffle(spark):
    """The stacked conditional-window funnel must satisfy all stages from
    ONE user-keyed exchange — no per-stage join/shuffle chain."""
    txt = explain(behavior.funnel(events(spark), FUNNEL_STAGES))
    assert len(re.findall(r"hashpartitioning\(", txt)) == 1


SCORERS = {
    "text_quality_classifier": lambda spark: quality_classifier(
        table(spark, "documents")
    ),
    "emb_quantize_int8": lambda spark: simsearch.quantize_int8(
        table(spark, "embeddings")
    ),
}


@pytest.mark.parametrize("name", ["text_quality_classifier", "emb_quantize_int8"])
def test_scoring_ops_are_map_side_only(spark, name):
    """Classifier scoring and int8 quantization are pure projections: no
    join, no window, no aggregate; at most the testdata spread exchange."""
    txt = explain(SCORERS[name](spark))
    assert "Join" not in txt and "Window" not in txt, name
    assert "HashAggregate" not in txt, name
    assert txt.count("Exchange") <= 2, name  # spread repartition only


def test_vocab_topk_is_distributed(spark):
    """Global vocab top-k must be TakeOrderedAndProject; the coverage
    windows may only run over the k-row result."""
    txt = explain(vocab_coverage(table(spark, "documents"), k=20))
    assert "TakeOrderedAndProject" in txt
    assert not re.search(r"Window .*\n.*Scan parquet", txt)


def test_domain_cap_is_two_level(spark):
    """The per-domain cap must rank in two window levels (salt bucket then
    domain) so a whale domain never sorts in one task."""
    txt = explain(web.cap_per_domain(_doc_urls(spark), 50))
    assert len(re.findall(r"\(\d+\) Window\b", txt)) == 2
    # rank-limit pushdown: partial WindowGroupLimit must run BEFORE each
    # exchange so only top-cap rows per map partition shuffle at all
    assert "WindowGroupLimit" in txt
    assert "_s" in txt  # salt key participates in the first partitioning


def test_trailing_anomalies_single_key_shuffle(spark):
    """One user-keyed exchange feeding the trailing window; no joins."""
    txt = explain(behavior.trailing_anomalies(events(spark)))
    assert "Join" not in txt
    assert len(re.findall(r"hashpartitioning\(user_id", txt)) >= 1
    assert len(re.findall(r"\(\d+\) Window\b", txt)) == 1


def test_blocklist_filter_is_broadcast_anti(spark):
    """The blocklist pass must be a broadcast LEFT ANTI join — the corpus
    side never shuffles."""
    blocked = spark.createDataFrame(
        [("heavy.org",), ("blocked.net",)], ["domain"]
    )
    txt = explain(web.filter_blocklist(_doc_urls(spark), blocked))
    assert "BroadcastHashJoin" in txt and "LeftAnti" in txt
    assert "SortMergeJoin" not in txt


def _daily_trend(spark):
    daily = events(spark).groupBy(
        "event_type", F.unix_date(F.to_date("ts")).alias("day_no")
    ).agg(F.count("*").alias("n_events"))
    return stats.ols_fit(daily, "day_no", "n_events", ["event_type"])


AGGREGATE_STATS = {
    "events_type_moments": lambda spark: stats.group_moments(
        events(spark), "value", ["event_type"]
    ),
    "events_hour_value_corr": lambda spark: stats.pearson_corr(
        events(spark).withColumn("hour_of_day", F.hour("ts")),
        "hour_of_day",
        "value",
        ["event_type"],
    ),
    "events_daily_trend": _daily_trend,
}


@pytest.mark.parametrize(
    "name", ["events_type_moments", "events_hour_value_corr", "events_daily_trend"]
)
def test_stats_family_is_aggregate_only(spark, name):
    """Moments/corr/OLS are partial-aggregated key shuffles — no windows,
    no row-scale sorts."""
    txt = explain(AGGREGATE_STATS[name](spark))
    assert len(re.findall(r"\(\d+\) Window\b", txt)) == 0, name
    assert "Join" not in txt or name == "events_daily_trend", name


def test_sliding_distinct_window_is_day_level(spark):
    """The KMV-merge window may only consume the per-day aggregated frame
    (one row per day), never a raw scan."""
    txt = explain(sketch.sliding_distinct_kmv(events(spark), "ts", "user_id", k=64))
    assert not re.search(r"Window .*\n.*Scan parquet", txt)


GLOBAL_SKETCHES = {
    "sample_bottom_k": lambda spark: sketch.bottom_k_sample(
        table(spark, "documents", spread=False), 25, "doc_id"
    ).select("doc_id", "sample_rank"),
    "sketch_kmv_global": lambda spark: sketch.kmv_distinct(
        events(spark), [], "user_id", k=64
    ),
}


@pytest.mark.parametrize("name", ["sample_bottom_k", "sketch_kmv_global"])
def test_global_sketch_paths_are_distributed_topk(spark, name):
    """Ungrouped bottom-k/KMV must compile to TakeOrderedAndProject
    (per-partition top-k, driver merges k rows), never an
    empty-partitionBy window that funnels the raw table through one
    partition (VERDICT r02 'What's wrong' #1)."""
    txt = explain(GLOBAL_SKETCHES[name](spark))
    assert "TakeOrderedAndProject" in txt, name
    # any Window node may only run over the k-row limited result, which
    # appears AFTER the TakeOrderedAndProject in the formatted plan tree;
    # assert no Window consumes a raw relation scan directly by checking
    # the single-partition sort signature is absent.
    assert not re.search(r"Window .*\n.*Scan parquet", txt), name


def test_grouped_sketch_paths_shuffle_on_group_key(spark):
    """Per-group sketch/sample paths partition the window by the group key
    — never a global single-partition window."""
    grouped = {
        "sketch_kmv_distinct": sketch.kmv_distinct(
            events(spark), ["event_type"], "user_id", k=64
        ),
        "sample_stratified": sketch.bottom_k_sample(
            events(spark), 5, "event_id", group_cols=["event_type"]
        ),
    }
    for name, df in grouped.items():
        assert "SinglePartition" not in explain(df), name


def test_psl_suffix_table_broadcasts(spark):
    """The PSL suffix side must broadcast (it is small by nature); the
    corpus side must never explode before the distinct-hosts projection."""
    suffixes = spark.createDataFrame(
        [(s,) for s in ("com", "io", "uk", "co.uk", "github.io", "*.ck", "!www.ck")],
        ["suffix"],
    )
    hosts = F.array(*[F.lit(h) for h in (
        "www.example.com", "a.example.co.uk", "u1.github.io", "github.io",
        "www.site.ck", "a.site.ck", "example.xyz",
    )])
    docs = table(spark, "documents").select(
        "doc_id",
        F.element_at(hosts, (F.col("doc_id") % 7 + 1).cast("int")).alias("host"),
    )
    txt = explain(web.registered_domain_psl(docs, suffixes))
    assert "BroadcastHashJoin" in txt
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_bloom_prejoin_fact_side_is_shuffle_free(spark):
    """The bloom prejoin's whole point is pruning the fact scan BEFORE
    any shuffle: every join must be broadcast (the 1-row state and the
    dim flag), never a SortMergeJoin/ShuffledHashJoin that would
    repartition the orders scan; the only exchanges are the testdata
    spread and the final 1-row count aggregation."""
    dim = (
        table(spark, "customer", spread=False)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    fact = (
        table(spark, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .select("o_custkey")
    )
    probed = sketch.bloom_probe(fact, sketch.bloom_build(dim, "c_custkey"), "o_custkey")
    flagged = probed.join(
        F.broadcast(dim.withColumn("_in", F.lit(1))),
        probed["o_custkey"] == dim["c_custkey"],
        "left",
    )
    txt = explain(flagged.agg(
        F.count("*").alias("fact_rows"),
        F.sum(F.col("maybe_member").cast("int")).alias("survivors"),
        F.count("_in").alias("true_matches"),
    ))
    assert "SortMergeJoin" not in txt
    assert "ShuffledHashJoin" not in txt
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastHashJoin" in txt


def test_triangle_wedge_joins_are_equi(spark):
    """Degree-oriented triangle counting must close wedges with hash
    equi-joins — a nested-loop/cartesian wedge join would be the
    quadratic plan the orientation exists to avoid."""
    n = 1000  # ring of doc ids with chords +1, +2, +4
    d = F.col("doc_id")
    docs = table(spark, "documents").select("doc_id")
    edges = docs.select(d.alias("src"), ((d + 1) % n).alias("dst"))
    for step in (2, 4):
        edges = edges.unionAll(docs.select(d.alias("src"), ((d + step) % n).alias("dst")))
    txt = explain(graph.triangle_count(edges))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_ohlc_is_single_aggregate_no_window(spark):
    """OHLC bars must compile to partial-aggregating min_by/max_by with
    no per-bucket Window (the whale-unsafe formulation).  The struct
    tiebreak forces SortAggregate (struct ordering keys have no mutable
    hash buffer), which still combines partials map-side — assert the
    partial+final pair and the absence of any Window."""
    ev = (
        events(spark)
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .withColumn("hour", F.date_trunc("hour", "ts"))
    )
    txt = explain(behavior.ohlc_bars(ev, ["user_id", "hour"]))
    assert "Window" not in txt
    assert re.findall(r"(?:Sort|Hash)Aggregate", txt)
    assert "Exchange" in txt  # partial -> shuffle -> final, not a sort-all


SEQUENTIAL_STATS = {
    "events_weighted_median": lambda spark: stats.weighted_median(
        _events_typed(
            spark, "event_type", "value", "event_id",
            ((F.col("event_id") % 7) + 1).alias("wt"),
        ),
        ["event_type"],
    ),
    "events_gini_concentration": lambda spark: stats.gini_concentration(
        _events_typed(spark, "event_type", "value", "event_id"), ["event_type"]
    ),
    "events_changepoint_cusum": lambda spark: stats.cusum_changepoint(
        _events_typed(spark, "event_type", "value", "ts", "event_id"),
        ["event_type"],
    ),
    "events_spearman_trend": lambda spark: stats.spearman_rank_corr(
        _events_typed(spark, "event_type", "value", "ts", "event_id"),
        ["event_type"],
    ),
}


@pytest.mark.parametrize(
    "name",
    ["events_weighted_median", "events_gini_concentration",
     "events_changepoint_cusum", "events_spearman_trend"],
)
def test_sequential_stats_single_group_shuffle(spark, name):
    """The weighted-median / Gini / CUSUM family must plan all of its
    windows AND the final aggregate over ONE event_type-keyed exchange
    (the loader's RoundRobin spread aside) — a second hash exchange means
    the group aggregate stopped reusing the window partitioning."""
    txt = explain(SEQUENTIAL_STATS[name](spark))
    hash_ex = re.findall(r"hashpartitioning\(", txt)
    assert len(hash_ex) == 1, f"{name}: {len(hash_ex)} hash exchanges"
    assert "CartesianProduct" not in txt


def test_cohort_ltv_shuffles_fact_once(spark):
    """Cohort LTV: exactly one fact-sized shuffle (user_id for the
    first-seen window); the cell aggregate and the cumulative window run
    on partial-aggregated / metadata-scale frames.  No join — first-seen
    comes from a MIN window, so any join in the plan means a self-join
    crept in."""
    txt = explain(behavior.cohort_value_matrix(events(spark)))
    assert re.search(r"hashpartitioning\(user_id", txt)
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
                         txt)


def test_cooccurrence_pair_join_is_equi(spark):
    """The co-occurrence self-join must hash/merge on the user equi-key
    (the t1 < t2 canonicalization is a post-join filter, not a join
    strategy): no nested-loop pair scan; the per-type counts and user
    total ride broadcasts."""
    txt = explain(behavior.type_cooccurrence_lift(events(spark)))
    assert "CartesianProduct" not in txt
    # three equi joins: the user-keyed pair self-join (broadcast at test
    # scale, SMJ at real scale) + the two per-type count joins; each node
    # appears twice in formatted output (tree + details)
    assert len(re.findall(HASH_JOIN, txt)) >= 6
    # the ONLY nested-loop is the documented 1-row n_users crossJoin
    assert txt.count("BroadcastNestedLoopJoin") <= 2


def test_ab_test_family_shapes(spark):
    """Mann-Whitney: one event_type exchange carrying the combined rank
    window + conditional aggregate.  Welch t: a pure partial aggregate —
    no Window at all, one hash exchange."""
    mw = explain(stats.mann_whitney_u(
        _events_sided(spark, "value", "event_id"), ["event_type"], "side"
    ))
    assert len(re.findall(r"hashpartitioning\(", mw)) == 1
    wt = explain(stats.welch_t(
        _events_sided(spark, "value"), ["event_type"], "side"
    ))
    assert "Window" not in wt
    assert len(re.findall(r"hashpartitioning\(", wt)) == 1


def test_ks_single_group_shuffle(spark):
    """KS: the running-count window, group totals, and max aggregate all
    ride ONE event_type exchange."""
    txt = explain(stats.ks_statistic(
        _events_sided(spark, "value", "event_id"), ["event_type"], "side"
    ))
    assert len(re.findall(r"hashpartitioning\(", txt)) == 1


def test_winsorize_edges_broadcast_back(spark):
    """Winsorize: the per-group quantile edges must come back as a
    broadcast join (never a fact-sized shuffle join); the only hash
    exchanges are the edge aggregation and the summary aggregate."""
    w = stats.winsorize(
        _events_typed(spark, "event_type", "value", "event_id"),
        "value",
        ["event_type"],
    )
    txt = explain(w.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count_if(F.col("clipped_low")).alias("n_clipped_low"),
        F.count_if(F.col("clipped_high")).alias("n_clipped_high"),
    ))
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_quantile_normalize_rank_joins_are_equi(spark):
    """Quantile normalization meets the reference order statistics
    through (group, rank) equi-joins — never a positional range scan or
    nested loop."""
    ev = _events_sided(spark, "value", "event_id").filter(
        F.col("event_id") % 7 == 0
    )
    txt = explain(stats.quantile_normalize(ev, ["event_type"], "side"))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert len(re.findall(HASH_JOIN, txt)) >= 2


def test_rolling_slope_single_group_shuffle(spark):
    """The trailing OLS frame sums and the rank window share ONE
    event_type exchange."""
    ev = _events_typed(spark, "event_type", "value", "ts", "event_id", "user_id")
    ev = ev.filter(F.col("user_id") % 25 == 0).drop("user_id")
    txt = explain(stats.rolling_ols_slope(ev, ["event_type"]))
    assert len(re.findall(r"hashpartitioning\(", txt)) == 1


def test_longest_streak_single_user_shuffle(spark):
    """Streaks: the distinct, the dense_rank window, and both aggregates
    all key on user_id — one fact-sized exchange (the island aggregate
    keys on (user, island): a sub-partitioning Spark satisfies with a
    fresh exchange over the already-shrunk distinct frame)."""
    txt = explain(behavior.longest_streak(
        events(spark).filter(F.col("user_id") % 10 == 0)
    ))
    assert "Join" not in txt or "SortMergeJoin" not in txt
    assert re.search(r"hashpartitioning\(user_id", txt)
    assert "CartesianProduct" not in txt


def test_seasonal_dow_single_fact_shuffle(spark):
    """The (type, day) partial agg is the only fact-sized exchange; the
    dow re-agg and the per-type totals window run post-aggregation."""
    ev = events(spark).filter(F.col("event_type").isNotNull())
    txt = explain(stats.seasonal_dow_index(ev, ["event_type"]))
    assert "Join" not in txt
    assert "CartesianProduct" not in txt


def test_wilson_ci_single_shuffle_no_joins(spark):
    """Wilson: one partial-aggregated group shuffle, zero joins, zero
    windows."""
    ev = _events_typed(
        spark, "event_type", (F.col("value") > 100).alias("success")
    )
    txt = explain(stats.wilson_interval(ev, ["event_type"], "success", z=1.96))
    assert len(re.findall(r"hashpartitioning\(", txt)) == 1
    assert "Join" not in txt and "Window" not in txt


def test_new_vs_returning_single_user_shuffle(spark):
    """New-vs-returning: the distinct and the first-day window key on
    user; the day rollup and the running sum see only the post-agg day
    frame (a singlepartition window over days, never the fact)."""
    txt = explain(behavior.new_vs_returning(
        events(spark).filter(F.col("user_id").isNotNull())
    ))
    assert re.search(r"hashpartitioning\(_u", txt)
    assert "Join" not in txt and "CartesianProduct" not in txt


def test_interpolate_linear_spine_join_post_agg(spark):
    """Interpolation joins the exploded bounds spine to the PUNCHED
    daily frame — both post-aggregation — and never nested-loops."""
    daily = _daily(spark, F.sum("value").alias("day_value"))
    punched = daily.filter(F.dayofmonth("day") % 4 != 0)
    txt = explain(temporal.interpolate_daily_linear(punched, ["event_type"]))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_rolling_corr_window_post_agg(spark):
    """Rolling correlation: the (type, day) partial agg is the only
    fact-sized exchange; the six-sum frame window sorts the post-agg
    daily frame.  No joins at all."""
    daily = _daily(spark, F.count("*").alias("x"), F.sum("value").alias("y"))
    txt = explain(stats.rolling_corr(
        daily, ["event_type"], "day", "x", "y", window_rows=7
    ))
    assert "Join" not in txt
    assert "CartesianProduct" not in txt


def test_user_diversity_partial_agg_no_joins(spark):
    """Diversity: one (user, type) partial-agg shuffle; the per-user
    rollup runs on the post-agg frame.  Zero joins, zero windows."""
    ev = events(spark).filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    txt = explain(stats.category_diversity(ev, ["user_id"], "event_type"))
    assert "Join" not in txt and "Window" not in txt
    assert re.search(r"hashpartitioning\(user_id", txt)


def test_transitions_smoothed_broadcast_vocab_only(spark):
    """Smoothed transitions: the lead window is the one user-keyed
    fact shuffle; the vocabulary is a 1-row broadcast (BNLJ), never a
    shuffled join."""
    txt = explain(behavior.transition_smoothed(events(spark)))
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt
    assert "CartesianProduct" not in txt
    assert re.search(r"hashpartitioning\(user_id", txt)


def test_reco_item_cosine_equi_joins_only(spark):
    """Item-item cosine: pair generation is a basket-keyed self-EQUI-join
    (pairs only materialize within a basket) and the n_i/n_j stitches are
    equi-joins — no cartesian, no nested-loop anywhere."""
    txt = explain(reco.item_cosine_similarity(
        _baskets(spark), "basket", "item", min_support=3, top_k=5
    ))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert re.search(r"hashpartitioning\(_b", txt) or re.search(
        r"hashpartitioning\(basket", txt
    )


def test_funnel_windowed_join_chain_no_window(spark):
    """Windowed funnel ships the whale-safe join-chain plan: per-stage
    partial-aggregating groupBy + shuffle-hash joins on user, NO per-user
    window sort; the only nested loops are the documented 1-row count
    crossJoins."""
    txt = explain(behavior.funnel_windowed(
        events(spark), FUNNEL_STAGES, max_gap_hours=4
    ))
    assert "Window" not in txt
    assert "ShuffledHashJoin" in txt
    assert "CartesianProduct" not in txt


def test_score_lift_documented_global_window(spark):
    """Decile lift: the NTILE global-order window is the documented
    eval-frame boundary; zero joins — totals ride a partition-all window
    on the 10-row bucket frame."""
    labeled = events(spark).filter(F.col("value").isNotNull()).select(
        "value", "event_id", (F.col("event_type") == "purchase").alias("_label")
    )
    txt = explain(stats.decile_lift(labeled, "value", "_label", "event_id", buckets=10))
    assert "Window" in txt
    assert "Join" not in txt


def test_forecast_backtest_post_agg_window(spark):
    """Seasonal-naive backtest: the lag window and the metric rollup both
    run on the post-aggregation (type, day) frame; the only fact-sized
    exchange is the daily partial agg.  No joins."""
    daily = _daily(spark, F.count("*").alias("y"))
    txt = explain(stats.seasonal_naive_backtest(
        daily, ["event_type"], "day", "y", season=7
    ))
    assert "Join" not in txt
    assert re.search(r"hashpartitioning\(event_type", txt)


def test_feature_hashing_single_shuffle_no_joins(spark):
    """Hashing trick: map-side feature explode + ONE (key, bucket)
    partial-agg shuffle.  Stateless — no vocabulary join anywhere."""
    ev = events(spark).withColumn("hour", F.hour("ts").cast("string"))
    txt = explain(corpus.feature_hash(
        ev, "user_id", ["event_type", "hour"], n_buckets=16, value_col="value"
    ))
    assert "Join" not in txt
    assert re.search(r"hashpartitioning\(user_id", txt)


def test_churn_labels_one_pass_no_self_join(spark):
    """Churn frame: features and label ride ONE user-keyed conditional
    aggregation — no join between observation and label windows, no
    window function."""
    txt = explain(behavior.churn_labels(events(spark), cutoff="2024-01-21 00:00:00"))
    assert "Join" not in txt and "Window" not in txt
    # COUNT(DISTINCT day) plans as the standard two-phase distinct
    # aggregate: both exchanges key on user_id (the second on
    # (user_id, day-case) for the distinct pass) — the fact stream is
    # still never re-keyed off the user
    parts = re.findall(r"hashpartitioning\(user_id", txt)
    assert len(parts) == len(re.findall(r"hashpartitioning\(", txt)) == 2


def test_corr_matrix_single_agg_pass(spark):
    """Pairwise correlation matrix: all sums ride the daily partial agg
    plus one global 1-row aggregate; the pair explode is metadata-scale.
    No joins, no windows."""
    ev = events(spark).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("x"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("y"),
        F.count_distinct("user_id").alias("z"),
    )
    txt = explain(stats.corr_matrix(daily, ["x", "y", "z"]))
    assert "Join" not in txt and "Window" not in txt


def test_time_to_convert_join_chain(spark):
    """Time-to-convert: the funnel join-chain shape — partial-aggregated
    first-touch frame, shuffle-hash join, partial-aggregated conversion
    frame; the cumulative window runs on the bucket frame only."""
    txt = explain(behavior.time_to_convert(events(spark), "view", "purchase"))
    assert "ShuffledHashJoin" in txt
    assert "CartesianProduct" not in txt


def test_period_decomposition_one_pass(spark):
    """Mix-shift decomposition: both periods' counts and sums ride ONE
    group-keyed conditional aggregation — no self-join between periods,
    no window."""
    txt = explain(stats.period_decomposition(
        events(spark), ["event_type"], "ts", "value", "2024-01-16 00:00:00"
    ))
    assert "Join" not in txt and "Window" not in txt
    assert len(re.findall(r"hashpartitioning\(", txt)) == 1


def test_dow_adjusted_window_post_agg(spark):
    """Dow-adjusted ratio: the (type, day) partial agg is the only
    fact-sized exchange; the dow-totals window runs on the post-agg
    daily frame."""
    ev = events(spark).filter(F.col("event_type").isNotNull())
    txt = explain(stats.dow_adjusted(ev, ["event_type"]))
    assert "Join" not in txt
    assert re.search(r"hashpartitioning\(event_type", txt)


def test_kmv_difference_metadata_scale(spark):
    """KMV difference: the only fact-sized work is the two distinct+
    bottom-k sketch builds (TakeOrderedAndProject); the combined-K
    full-outer join runs on <= 2k rows."""
    ev = events(spark)
    ska = sketch.kmv_sketch(ev.filter(F.col("event_type") == "view"), [], "user_id", k=64)
    skb = sketch.kmv_sketch(ev.filter(F.col("event_type") == "purchase"), [], "user_id", k=64)
    txt = explain(sketch.kmv_difference(ska, skb, k=64))
    assert "TakeOrderedAndProject" in txt
    assert "CartesianProduct" not in txt


def test_containment_inverted_index_equi_join(spark):
    """Containment pairs: the n-gram inverted index is a shingle-keyed
    self-EQUI-join, no nested loop."""
    txt = explain(dedup.ngram_containment_pairs(table(spark, "documents"), threshold=0.5))
    assert "BroadcastNestedLoopJoin" not in txt
    assert "CartesianProduct" not in txt
    assert re.search(HASH_JOIN, txt)


def test_dau_wau_coverage_explode(spark):
    """DAU/WAU: trailing distinct users via coverage explode — the
    7-day window never becomes sliding-window state or a range join;
    everything is distinct/agg exchanges plus one day-keyed stitch."""
    txt = explain(behavior.dau_wau_stickiness(events(spark), window_days=7))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "Window" not in txt


def test_freshness_one_row_broadcast_plus_single_agg(spark):
    """Freshness: the global max is a 1-row broadcast (documented BNLJ);
    the per-type conditional aggregate is the only fact-keyed
    exchange."""
    txt = explain(profile.freshness_report(events(spark), "event_type", window_days=7))
    assert "CartesianProduct" not in txt
    assert re.search(r"hashpartitioning\(event_type", txt)


def test_session_funnel_single_user_exchange(spark):
    """Session funnel: islands + per-session stage windows all ride ONE
    user-keyed exchange (hash(user) co-locates (user, session)) — no
    joins, one hashpartitioning."""
    txt = explain(behavior.session_funnel(
        events(spark), FUNNEL_STAGES, gap_minutes=30
    ))
    assert "Join" not in txt or "BroadcastNestedLoopJoin" in txt
    assert len(re.findall(r"hashpartitioning\(", txt)) == 1


def test_rate_limit_single_range_window(spark):
    """Rate limit: ONE user-keyed RANGE window + map-side violation
    filter — no joins, no second pass."""
    txt = explain(behavior.rate_limit_violations(
        events(spark), window_hours=24, threshold=8
    ))
    assert "Join" not in txt
    assert len(re.findall(r"hashpartitioning\(", txt)) == 1


def test_temporal_split_no_fact_rejoin(spark):
    """Temporal split audit: the per-split aggregates and the spanning
    check never re-join the fact table — the only join is the 1-row
    spanning-count broadcast."""
    txt = explain(corpus.temporal_split(
        events(spark),
        test_start="2024-01-24 00:00:00",
        embargo_days=2,
        value_col="value",
    ))
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt
    assert "CartesianProduct" not in txt


def test_bootstrap_single_replicate_shuffle(spark):
    """Poisson bootstrap: the B-way explode is map-side; the only
    fact-sized exchanges are the (group, replicate) partial agg and the
    point-estimate agg; the rank windows run on B-row frames.  No
    cartesian, no fact re-join (the point/CI stitch joins two 5-row
    frames)."""
    txt = explain(stats.poisson_bootstrap_ci(
        events(spark), ["event_type"], "value", "event_id", replicates=40
    ))
    assert "CartesianProduct" not in txt
    assert "Generate" in txt  # the explode, not a join


def test_association_rules_equi_joins_only(spark):
    """Association rules: the same basket-keyed self-equi-join frame as
    item cosine; the only nested loop is the 1-row basket-total
    broadcast."""
    txt = explain(reco.association_rules(
        _baskets(spark), "basket", "item", min_support=3, min_confidence=0.2
    ))
    assert "CartesianProduct" not in txt
    assert re.search(HASH_JOIN, txt)


def test_dq_suite_anti_join_and_counts(spark):
    """DQ suite: every check is a counting aggregate; relationships are
    key-projected anti-joins (LeftAnti), never row-materializing
    cartesians."""
    tables = {
        "orders": table(spark, "orders"),
        "customer": table(spark, "customer", spread=False),
        "lineitem": table(spark, "lineitem"),
    }
    checks = [
        {"kind": "unique", "table": "orders", "column": "o_orderkey"},
        {"kind": "not_null", "table": "orders", "column": "o_custkey"},
        {"kind": "accepted_values", "table": "orders",
         "column": "o_orderstatus", "values": ["O", "F"]},
        {"kind": "relationship", "table": "orders", "column": "o_custkey",
         "to": "customer", "to_column": "c_custkey"},
        {"kind": "relationship", "table": "lineitem",
         "column": "l_orderkey", "to": "orders",
         "to_column": "o_orderkey"},
    ]
    txt = explain(profile.run_quality_checks(tables, checks))
    assert "CartesianProduct" not in txt
    assert "LeftAnti" in txt


def test_alert_runs_post_agg_islands(spark):
    """Alert runs: the daily partial agg is the only fact-sized
    exchange; the dow windows and the island window run on the daily
    frame.  No joins."""
    daily = _daily(spark, F.count("*").alias("y"))
    w = Window.partitionBy("event_type", F.dayofweek("day"))
    flagged = daily.select(
        "event_type",
        "day",
        (F.col("y") * F.count("*").over(w) > F.sum("y").over(w)).alias("flag"),
    )
    txt = explain(stats.flag_runs(flagged, ["event_type"], "day", "flag", min_run=3))
    assert "Join" not in txt
    assert re.search(r"hashpartitioning\(event_type", txt)


def test_auc_roc_no_per_row_ranks_no_joins(spark):
    """AUC: rank-sum over the DISTINCT-score frame — a partial agg feeds
    the cumulative window; no join anywhere in the plan."""
    base = _events_typed(
        spark,
        F.dayofweek("ts").alias("dow"),
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    txt = explain(mleval.auc_roc(base, ["dow"], "score", "label"))
    assert "Join" not in txt
    assert "Window" in txt
    assert txt.count("HashAggregate") >= 2  # (g,score) partial + per-g


def test_calibration_one_pass_plus_totals_broadcast(spark):
    """Calibration: one (bin) partial agg + 1-row totals broadcast; the
    fact table is scanned once and never re-joined on a shuffle key."""
    base = events(spark).filter(F.col("event_type").isNotNull()).select(
        hash32(F.col("event_id").cast("string")).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    txt = explain(mleval.calibration_report(
        base, "score", "label", n_bins=10, denom=2**32
    ))
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_drift_report_broadcast_only(spark):
    """Drift: bucket partial agg + 1-row bounds/totals broadcasts only."""
    base = events(spark).filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    ).select(F.col("event_type").alias("bucket"), F.to_date("ts").alias("d"))
    txt = explain(mleval.categorical_drift(_halves(base), "bucket", "period"))
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_lm_score_term_keyed_model_joins(spark):
    """LM score: the bigram/unigram model joins are equi-joins on term
    keys (hash joins — broadcastable at toy SF, never a nested-loop pair
    scan); the only BNLJ is the 1-row vocab-size broadcast."""
    txt = explain(lm_score(table(spark, "documents"), "text", "doc_id"))
    # "formatted" prints each operator twice (tree + detail section)
    assert len(re.findall(r"BroadcastNestedLoopJoin", txt)) <= 2
    assert len(re.findall(HASH_JOIN, txt)) >= 4


def test_kaplan_meier_distinct_duration_frame(spark):
    """KM: one duration partial agg + cumulative window over the
    distinct-duration frame + 1-row total broadcast — no key-shuffle
    joins."""
    ev = events(spark).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    ud = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("_dfirst"),
        F.max(F.to_date("ts")).alias("_dlast"),
    )
    base = ud.select(
        F.datediff("_dlast", "_dfirst").cast("bigint").alias("duration"),
        (F.col("_dlast") < F.lit("2024-01-24").cast("date")).cast("int").alias("event"),
    )
    txt = explain(stats.kaplan_meier(base, "duration", "event"))
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt
    assert "Window" in txt


def test_theilsen_pairs_are_group_keyed_equi_join(spark):
    """Theil-Sen: the quadratic pair generator is an equi-self-join on
    the group key over the PRE-AGGREGATED daily frame, never the raw
    fact table and never a cartesian."""
    daily = _daily(spark, F.count("*").alias("y"))
    pts = daily.select("event_type", F.unix_date("day").cast("bigint").alias("x"), "y")
    txt = explain(stats.theil_sen_slope(pts, ["event_type"], "x", "y"))
    assert len(re.findall(HASH_JOIN, txt)) >= 2  # formatted prints tree + detail
    assert "CartesianProduct" not in txt


def test_geo_candidates_cell_keyed(spark):
    """Grid neighbors: candidate pairs come from the cell equi-join —
    zero nested-loop joins anywhere in the plan."""
    ids = events(spark).filter(F.col("user_id").isNotNull()).select(
        F.col("user_id").alias("id")
    ).distinct()
    pts = ids.select(
        "id",
        (hash32(F.concat(F.lit("x|"), F.col("id").cast("string"))) % 900).alias("x"),
        (hash32(F.concat(F.lit("y|"), F.col("id").cast("string"))) % 1800).alias("y"),
    )
    txt = explain(grid_nearest_neighbors(pts, 150, "id", "x", "y"))
    assert "BroadcastNestedLoopJoin" not in txt
    assert "CartesianProduct" not in txt
    assert len(re.findall(HASH_JOIN, txt)) >= 2


def test_dsir_shift_term_keyed(spark):
    """DSIR shift: one tokenize feeds counts and scoring; model joins
    are term-keyed equi-joins; only the 1-row totals broadcast may be a
    BNLJ."""
    d = table(spark, "documents").withColumn(
        "_is_tgt", (F.col("lang") == "en").cast("int")
    )
    txt = explain(corpus.lexical_shift_scores(d, "_is_tgt", "text", "doc_id"))
    assert len(re.findall(r"BroadcastNestedLoopJoin", txt)) <= 2
    assert len(re.findall(HASH_JOIN, txt)) >= 2


def test_pr_curve_distinct_threshold_frame(spark):
    """PR curve: partial agg to the distinct-threshold frame, cumulative
    window there, 1-row totals broadcast — no key-shuffle joins."""
    base = _events_typed(
        spark,
        F.floor("value").alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    txt = explain(mleval.pr_curve(base, "score", "label"))
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt
    assert "Window" in txt


def test_runs_test_group_keyed(spark):
    """Runs test: group-keyed median join-back + group-keyed lag window —
    never a single-partition funnel."""
    ev = events(spark).filter(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    txt = explain(stats.runs_test(ev, ["event_type"], ["ts", "event_id"], "value"))
    assert "SinglePartition" not in txt


def test_ipw_ate_one_pass(spark):
    """Stratified ATE: one stratum partial agg + 1-row broadcasts —
    no key-shuffle joins."""
    ev = events(spark).filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        F.dayofweek(F.min("ts")).alias("stratum"),
        F.max((F.col("event_type") == "signup").cast("int")).alias("treat"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("outcome"),
    )
    txt = explain(mleval.stratified_ate(u, "stratum", "treat", "outcome"))
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_target_encoding_one_pass(spark):
    """Target encoding: one category partial agg + 1-row global
    broadcast — no key-shuffle joins."""
    base = _events_typed(
        spark,
        "event_type",
        F.dayofweek("ts").alias("dow"),
        (F.col("value") > 100).cast("int").alias("label"),
    )
    txt = explain(mleval.target_encode(base, ["event_type", "dow"], "label", 10))
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_span_corruption_map_side_expansion(spark):
    """Span corruption: position sequences and span expansion are
    map-side Generates; shuffles are doc-keyed only."""
    txt = explain(span_corruption_masks(table(spark, "documents"), "text", "doc_id"))
    assert "Generate" in txt
    assert "Join" not in txt
    assert "SinglePartition" not in txt


def test_peak_concurrency_single_key_shuffle(spark):
    """Peak concurrency: the delta union is map-side; the running-sum
    and group-max windows share ONE type-keyed exchange."""
    iv = events(spark).filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "event_type",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
        "event_id",
    )
    txt = explain(temporal.peak_concurrency(iv, ["event_type"], "s", "e", "event_id"))
    assert "SinglePartition" not in txt
    assert len(re.findall(r"hashpartitioning\(", txt)) <= 4  # tree+detail


def test_training_order_no_global_sort(spark):
    """Training order: the global ordinal must come from bucket-local
    row_numbers + a metadata-scale offset window — never a row-scale
    single-partition sort of the corpus.  The only single-partition
    window allowed is over the 2^bits-row bucket-counts table."""
    txt = explain(corpus.training_order(table(spark, "documents"), "doc_id", batch_size=256))
    # the offsets window is fed by an aggregate, never a raw scan
    assert not re.search(r"SinglePartition[\s\S]{0,400}?Scan parquet", txt)


def test_transition_drift_one_lag_one_agg(spark):
    """Transition drift: one user-keyed lag window + one bucket partial
    agg + 1-row broadcasts — the categorical_drift tail unchanged."""
    seq = events(spark).filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = seq.select(
        F.lag("event_type").over(w).alias("prev_type"),
        "event_type",
        F.to_date("ts").alias("d"),
    ).filter(F.col("prev_type").isNotNull()).select(
        F.concat_ws(">", "prev_type", "event_type").alias("bucket"), "d"
    )
    txt = explain(mleval.categorical_drift(_halves(pairs), "bucket", "period"))
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


@functools.cache  # Lloyd's runs eagerly; three tests share one index
def ivf_index(spark, train_mod=None):
    return simsearch.ivf_build(
        table(spark, "embeddings", spread=False), dim=EMB_DIM, train_mod=train_mod
    )


def _doc_edges(spark):
    """A deterministic directed graph over the documents: one to three
    out-edges per doc, scattered across the id range."""
    docs = table(spark, "documents")
    n = docs.agg(F.count("*").alias("_n"))
    base = docs.select("doc_id").crossJoin(F.broadcast(n))
    d = F.col("doc_id")
    e1 = base.select(d.alias("src"), ((d * 7 + 1) % F.col("_n")).alias("dst"))
    e2 = base.filter(d % 3 >= 1).select(
        d.alias("src"), ((d * 13 + 2) % F.col("_n")).alias("dst")
    )
    e3 = base.filter(d % 3 >= 2).select(
        d.alias("src"), ((d * 3 + 5) % F.col("_n")).alias("dst")
    )
    return e1.unionAll(e2).unionAll(e3)


def _recall(truth, found):
    """Per-query hit counts of ``found`` against ``truth`` (both
    (query_id, neighbor_id) frames)."""
    k = truth.groupBy("query_id").agg(F.count("*").alias("k"))
    hit = truth.join(found, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count("*").alias("n_hit"))
    return k.join(hit, "query_id", "left")


def test_silhouette_broadcast_centroids_only(spark):
    """Silhouette: the K-row centroid side is broadcast (nested-loop on
    a metadata-scale build side is the documented cross-join shape);
    the only fact-keyed exchange is the per-vector partial agg."""
    cents, assigned = ivf_index(spark)
    txt = explain(simsearch.silhouette(assigned, cents, dim=EMB_DIM))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" in txt
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_centroid_drift_metadata_cross(spark):
    """Centroid drift: an 8x8 broadcast cross over two published
    centroid artifacts — metadata-scale by construction."""
    full, _ = ivf_index(spark)
    sampled, _ = ivf_index(spark, train_mod=2)
    s = sampled.select(
        F.col("centroid_id").alias("matched_id"),
        F.col("cv").alias("sv"),
        F.col("cn").alias("sn"),
    )
    cos = dedup._dot(F.col("cv"), F.col("sv"), EMB_DIM) / (F.col("cn") * F.col("sn"))
    w = Window.partitionBy("centroid_id").orderBy(
        F.desc("cosine"), F.asc("matched_id")
    )
    txt = explain(
        full.crossJoin(F.broadcast(s))
        .select("centroid_id", "matched_id", cos.alias("cosine"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" in txt


def test_sim_ivf_recall_reuses_artifacts(spark):
    """ANN recall audit: both top-k lists come from the engine's own
    operators off the shared centroid artifact; the count stitches are
    metadata-scale equi-joins — no cartesian."""
    emb = table(spark, "embeddings", spread=False)
    brute = simsearch.knn_bruteforce(emb, KNN_QUERY_IDS, k=10)
    ivf = simsearch.ivf_topk(
        emb, KNN_QUERY_IDS, k=10, dim=EMB_DIM, index=ivf_index(spark)
    )
    cols = ["query_id", "neighbor_id"]
    txt = explain(_recall(brute.select(*cols), ivf.select(*cols)))
    assert "CartesianProduct" not in txt


def test_matryoshka_recall_composition(spark):
    """Matryoshka audit: two broadcast-query brute passes + count
    stitches; no cartesian beyond the intended query broadcast."""
    emb = table(spark, "embeddings", spread=False)
    trunc = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    cols = ["query_id", "neighbor_id"]
    txt = explain(_recall(
        simsearch.knn_bruteforce(emb, KNN_QUERY_IDS, k=10).select(*cols),
        simsearch.knn_bruteforce(trunc, KNN_QUERY_IDS, k=10).select(*cols),
    ))
    assert "CartesianProduct" not in txt


@functools.cache  # the codebook trains eagerly; two tests share it
def pq_index(spark):
    return simsearch.pq_encode(
        table(spark, "embeddings", spread=False), dim=EMB_DIM, m=4
    )


def test_pq_codebook_broadcast_assignment(spark):
    """PQ encoding: the m*k-row codebook broadcasts; the argmax window
    partitions on (vector, subspace), never a single partition."""
    _, codes = pq_index(spark)
    txt = explain(codes)
    assert "BroadcastHashJoin" in txt
    assert "SinglePartition" not in txt


def test_pq_reconstruction_vector_keyed(spark):
    """PQ fidelity: codes join vector-keyed, codebook broadcasts, one
    vector-keyed partial agg — no nested-loop joins."""
    cb, codes = pq_index(spark)
    emb = table(spark, "embeddings", spread=False)
    txt = explain(simsearch.pq_fidelity(emb, cb, codes, dim=EMB_DIM, m=4))
    assert "BroadcastNestedLoopJoin" not in txt
    assert "CartesianProduct" not in txt


def test_k_core_semi_joins(spark):
    """k-core peels via alive-set semi-joins — equi-joins only."""
    txt = explain(graph.k_core(_doc_edges(spark), k=3, rounds=3))
    assert "BroadcastNestedLoopJoin" not in txt
    assert re.search(r"LeftSemi|SortMergeJoin|BroadcastHashJoin", txt)


def test_node_jaccard_wedge_equi_join(spark):
    """Node Jaccard: candidate pairs from the shared-neighbor equi-join,
    never all-pairs."""
    txt = explain(graph.node_jaccard(_doc_edges(spark), 0.25))
    assert "CartesianProduct" not in txt
    # the only BNLJs are _doc_edges' 1-row corpus-count broadcasts; the
    # wedge pair generator itself must be a hash equi-join
    assert re.search(HASH_JOIN, txt)


def test_lsh_recall_counts_are_one_row_broadcasts(spark):
    """LSH recall audit: the three counts collapse before meeting — the
    stitches are 1-row broadcasts, never a pair-frame cartesian."""
    docs = table(spark, "documents", spread=False)
    pair = ["doc_a", "doc_b"]
    exact = dedup.ngram_jaccard_pairs(docs, threshold=0.2, df_cap=100).select(*pair)
    lsh = dedup.minhash_lsh_pairs(docs, threshold=0.2).select(*pair)
    ex = exact.agg(F.count("*").alias("n_exact"))
    lp = lsh.agg(F.count("*").alias("n_lsh"))
    hit = exact.join(lsh, pair).agg(F.count("*").alias("n_hit"))
    txt = explain(ex.crossJoin(F.broadcast(lp)).crossJoin(F.broadcast(hit)))
    assert "CartesianProduct" not in txt


def test_share_of_parent_windows_post_agg(spark):
    """Share-of-parent: the star joins broadcast the dims; the share and
    rank windows run on the 25-row post-agg frame (region-partitioned,
    no single-partition global sort)."""
    cust = table(spark, "customer", spread=False)
    orders = table(spark, "orders")
    li = table(spark, "lineitem")
    nation = table(spark, "nation", spread=False)
    region = table(spark, "region", spread=False)
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(30,4)")).alias("revenue"))
    )
    txt = explain(stats.share_of_parent(rev, "region", "nation", "revenue"))
    assert "BroadcastHashJoin" in txt
    assert "CartesianProduct" not in txt


def _program_sources():
    yield from (ROOT / "nl_railtraffic_etl_pipeline_spark").rglob("*.py")
    yield from (ROOT / "tools").rglob("*.py")
    yield from (ROOT / "perfbench").rglob("*.py")
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"


def test_program_never_imports_operator_families():
    """The pipeline, its tools, the benchmark and the driver contract
    stand without ``operator_families``; only its own tests import it."""
    for path in _program_sources():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                continue
            for name in names:
                assert name.split(".")[0] != "operator_families", (
                    f"{path.relative_to(ROOT)} imports {name}"
                )
