"""Plan-shape regression guards: the scale properties PLANS.md documents
must survive future edits.  Asserts on the optimized physical plan text at
sf0.001 (plan shape, not timing — cheap)."""

import re

import pytest

import __spark_entry__ as entry_mod
from operator_families.plans.registry import QUERIES as FAMILY_QUERIES

SF = "/root/testdata/sf0.001"

#: the driver gates, then the operator-family gates
ALL_QUERIES = {**entry_mod.queries(), **FAMILY_QUERIES}


def plan_of(spark, name: str) -> str:
    df = ALL_QUERIES[name](spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_no_cartesian_products_anywhere(spark):
    for name in ALL_QUERIES:
        assert "CartesianProduct" not in plan_of(spark, name), name


@pytest.mark.parametrize(
    "name",
    ["dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash_pairs",
     "dedup_embedding_lsh", "sim_knn_lsh", "rail_q6_overlapping"],
)
def test_pair_generators_are_equi_joins(spark, name):
    """Candidate generation must never fall back to a nested-loop pair scan.
    (1-row as-of broadcasts in rail_q6 are fine; a BNLJ whose build side is
    the exploded bucket/band/shingle table is not.)"""
    txt = plan_of(spark, name)
    hash_joins = len(re.findall(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", txt))
    assert hash_joins >= 1, f"{name}: no equi-join found"
    if name != "rail_q6_overlapping":
        assert "BroadcastNestedLoopJoin" not in txt, name


def test_dimension_joins_broadcast(spark):
    # station enrichment (25-row dim) must broadcast, not shuffle the fact
    assert "BroadcastHashJoin" in plan_of(spark, "rail_q2_station_severity")
    assert "BroadcastHashJoin" in plan_of(spark, "join_revenue_by_nation")


def test_pricing_filter_pushed_to_scan(spark):
    txt = plan_of(spark, "agg_pricing_summary")
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", txt)
    assert pushed and "l_shipdate" in pushed.group(1), pushed


def test_blocked_embedding_kernel_is_executor_side(spark):
    """The exact all-pairs kernel must meet its build side through a
    shuffle join of grouped blocks — never a driver-collecting broadcast
    (VERDICT r01: `src.collect()` was the one scale-killer here)."""
    txt = plan_of(spark, "dedup_embedding_cosine")
    assert "ShuffledHashJoin" in txt
    assert "BroadcastExchange" not in txt
    import inspect

    from operator_families.functions import dedup

    src = inspect.getsource(dedup)
    assert ".collect()" not in src, "corpus collect() reintroduced in dedup"


@pytest.mark.parametrize("name", ["sample_bottom_k", "sketch_kmv_global"])
def test_global_sketch_paths_are_distributed_topk(spark, name):
    """Ungrouped bottom-k/KMV must compile to TakeOrderedAndProject
    (per-partition top-k, driver merges k rows), never an
    empty-partitionBy window that funnels the raw table through one
    partition (VERDICT r02 'What's wrong' #1)."""
    txt = plan_of(spark, name)
    assert "TakeOrderedAndProject" in txt, name
    # any Window node may only run over the k-row limited result, which
    # appears AFTER the TakeOrderedAndProject in the formatted plan tree;
    # assert no Window consumes a raw relation scan directly by checking
    # the single-partition sort signature is absent.
    assert not re.search(r"Window .*\n.*Scan parquet", txt), name


def test_session_window_is_native_merging_sessions(spark):
    """events_session_window must hit Spark's native session-window
    aggregation (MergingSessions over one key shuffle), not a
    gaps-and-islands window rewrite."""
    txt = plan_of(spark, "events_session_window")
    assert "MergingSessions" in txt
    assert "SinglePartition" not in txt


def test_grouped_sketch_paths_shuffle_on_group_key(spark):
    """Per-group sketch/sample paths partition the window by the group key
    — never a global single-partition window."""
    for name in ("sketch_kmv_distinct", "sample_stratified"):
        txt = plan_of(spark, name)
        assert "SinglePartition" not in txt, name


def test_python_only_in_arrow_kernels(spark):
    for name in ALL_QUERIES:
        txt = plan_of(spark, name)
        has_python = re.search(
            r"MapInPandas|FlatMapGroupsInPandas|ArrowEvalPython"
            r"|BatchEvalPython",
            txt,
        )
        if name in (
            "dedup_embedding_cosine",
            "dedup_threshold_sweep",  # reuses the blocked Arrow pair kernel
            "mm_decode_image_meta",
            "mm_parse_image_headers",
            "mm_decode_png_pixels",  # PNG encode fixture + pixel decode kernels
            "mm_decode_png_adam7",  # interlaced PNG fixture + decode kernels
            "mm_png_thumbnail",  # PNG fixture + decode/resample kernel
            "mm_decode_jpeg_dc",  # JPEG fixture + DC entropy-decode kernels
            "mm_decode_jpeg_pixels",  # JPEG fixture + full pixel-decode kernels
            "mm_decode_wav_pcm",  # WAV fixture + PCM16 decode kernels
            "mm_decode_bmp_pixels",  # BMP fixture + pixel decode kernels
            "mm_decode_gif_pixels",  # GIF fixture + LZW decode kernels
            "mm_decode_jpeg420_pixels",  # 4:2:0 fixture + MCU decode kernels
            "mm_decode_jpeg_prog_dc",  # progressive fixture + DC-path kernels
            "mm_decode_jpeg_prog_pixels",  # progressive fixture + full scan kernels
            "mm_sample_gif_frames",  # animated-GIF fixture + frame kernels
            "text_jaro_winkler",  # pure-Python JW kernel (no Spark builtin)
            "text_jaro_winkler_sharp",  # same JW kernel, sharpened blocking
            "text_damerau_levenshtein",  # Lowrance-Wagner DP kernel
            "mm_decode_wav_g711",  # G.711 fixture + expansion kernels
            "mm_decode_ico",  # ICO fixture + container/PNG kernels
            "mm_decode_zip",  # ZIP fixture + directory/inflate kernels
            "web_warc_records",  # WARC fixture + record-walk kernels
            "ml_isotonic_calibration",  # PAV kernel on the <=64-row bin frame
            "text_bpe_encode",  # greedy BPE apply kernel (merge loop)
            "text_unicode_nfc",  # CPython unicodedata NFC kernel
            "text_compression_ratio",
            "mm_decode_wav_adpcm",  # IMA fixture + step-machine kernels
            "mm_decode_tar",  # ustar fixture + header-walk kernels
            "mm_decode_tiff",  # TIFF fixture + IFD/strip decode kernels
            "mm_exif_meta",  # EXIF fixture + segment/IFD walk kernels
            "mm_decode_pnm",  # Netpbm fixture + tokenizer/binary kernels
            "mm_decode_qoi",  # QOI fixture + spec decode kernels
            "mm_decode_mp4_meta",  # ISO-BMFF fixture + box-walk kernels
            "text_utf8_validity",  # byte fixture + decode-replace kernel
            "mm_decode_tga",  # TGA fixture + RLE/raw pixel decode kernels
        ):
            assert has_python, name
        else:
            assert not has_python, f"{name}: unexpected Python eval node"


def test_cube_is_single_pass(spark):
    """CUBE must expand grouping sets from ONE shared scan/partial-agg
    (Expand node), not re-aggregate per margin."""
    txt = plan_of(spark, "events_cube")
    assert "Expand" in txt
    # one agg shuffle total (the _spread round-robin is not hash-keyed)
    assert len(re.findall(r"hashpartitioning\(", txt)) == 1


def test_funnel_single_key_shuffle(spark):
    """The stacked conditional-window funnel must satisfy all stages from
    ONE user-keyed exchange — no per-stage join/shuffle chain."""
    txt = plan_of(spark, "events_funnel")
    assert len(re.findall(r"hashpartitioning\(", txt)) == 1


@pytest.mark.parametrize("name", ["text_quality_classifier", "emb_quantize_int8"])
def test_scoring_ops_are_map_side_only(spark, name):
    """Classifier scoring and int8 quantization are pure projections: no
    join, no window, no aggregate; at most the testdata spread exchange."""
    txt = plan_of(spark, name)
    assert "Join" not in txt and "Window" not in txt, name
    assert "HashAggregate" not in txt, name
    assert txt.count("Exchange") <= 2, name  # spread repartition only


def test_vocab_topk_is_distributed(spark):
    """Global vocab top-k must be TakeOrderedAndProject; the coverage
    windows may only run over the k-row result."""
    txt = plan_of(spark, "text_vocab_coverage")
    assert "TakeOrderedAndProject" in txt
    assert not re.search(r"Window .*\n.*Scan parquet", txt)


def test_domain_cap_is_two_level(spark):
    """The per-domain cap must rank in two window levels (salt bucket then
    domain) so a whale domain never sorts in one task."""
    txt = plan_of(spark, "web_domain_cap")
    assert len(re.findall(r"\(\d+\) Window\b", txt)) == 2
    # rank-limit pushdown: partial WindowGroupLimit must run BEFORE each
    # exchange so only top-cap rows per map partition shuffle at all
    assert "WindowGroupLimit" in txt
    assert "_s" in txt  # salt key participates in the first partitioning


def test_trailing_anomalies_single_key_shuffle(spark):
    """One user-keyed exchange feeding the trailing window; no joins."""
    txt = plan_of(spark, "events_trailing_anomalies")
    assert "Join" not in txt
    assert len(re.findall(r"hashpartitioning\(user_id", txt)) >= 1
    assert len(re.findall(r"\(\d+\) Window\b", txt)) == 1


def test_blocklist_filter_is_broadcast_anti(spark):
    """The blocklist pass must be a broadcast LEFT ANTI join — the corpus
    side never shuffles."""
    txt = plan_of(spark, "web_blocklist_filter")
    assert "BroadcastHashJoin" in txt and "LeftAnti" in txt
    assert "SortMergeJoin" not in txt


@pytest.mark.parametrize(
    "name", ["events_type_moments", "events_hour_value_corr", "events_daily_trend"]
)
def test_stats_family_is_aggregate_only(spark, name):
    """Moments/corr/OLS are partial-aggregated key shuffles — no windows,
    no row-scale sorts."""
    txt = plan_of(spark, name)
    assert len(re.findall(r"\(\d+\) Window\b", txt)) == 0, name
    assert "Join" not in txt or name == "events_daily_trend", name


def test_sliding_distinct_window_is_day_level(spark):
    """The KMV-merge window may only consume the per-day aggregated frame
    (one row per day), never a raw scan."""
    txt = plan_of(spark, "sketch_sliding_distinct")
    assert not re.search(r"Window .*\n.*Scan parquet", txt)


def test_tpch_q5_broadcasts_dims(spark):
    """The 6-table snowflake must broadcast every dimension side — no
    sort-merge join against nation/region/supplier/customer at gate SF."""
    txt = plan_of(spark, "tpch_q5_regional_volume")
    assert "BroadcastHashJoin" in txt
    assert "CartesianProduct" not in txt


@pytest.mark.parametrize(
    "name,needle",
    [
        ("tpch_q6_forecast_revenue", "l_shipdate"),
        ("tpch_q6_forecast_revenue", "l_quantity"),
        ("tpch_q1_pricing_summary", "l_shipdate"),
    ],
)
def test_tpch_scan_filters_pushed(spark, name, needle):
    """Q1/Q6 are scan-bound: their date/quantity predicates must reach the
    parquet scan as PushedFilters, not evaluate post-scan only."""
    txt = plan_of(spark, name)
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", txt))
    assert needle in pushed, (name, pushed)


def test_tpch_join_strategies(spark):
    """Q14's part side and Q18's dims broadcast; Q18's HAVING subquery
    plans as a semi join; nothing falls back to a nested loop."""
    q14 = plan_of(spark, "tpch_q14_promo_effect")
    assert "BroadcastHashJoin" in q14
    assert "BroadcastNestedLoopJoin" not in q14
    q18 = plan_of(spark, "tpch_q18_large_orders")
    assert "LeftSemi" in q18
    assert "TakeOrderedAndProject" in q18
    assert "BroadcastNestedLoopJoin" not in q18


def test_psl_suffix_table_broadcasts(spark):
    """The PSL suffix side must broadcast (it is small by nature); the
    corpus side must never explode before the distinct-hosts projection."""
    txt = plan_of(spark, "web_domain_psl")
    assert "BroadcastHashJoin" in txt
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_tpch_decorrelation_shapes(spark):
    """Q21's EXISTS/NOT EXISTS pair must plan as a left-semi then
    left-anti on the order equi-key (never a nested-loop over lineitem
    pairs); Q13's ON-clause exclusion must keep the customer side outer;
    Q22's scalar threshold is a 1-row broadcast and its NOT EXISTS an
    anti-join."""
    q21 = plan_of(spark, "tpch_q21_waiting_suppliers")
    assert "LeftSemi" in q21 and "LeftAnti" in q21
    assert "BroadcastNestedLoopJoin" not in q21
    assert "CartesianProduct" not in q21
    q13 = plan_of(spark, "tpch_q13_order_distribution")
    assert "LeftOuter" in q13
    q22 = plan_of(spark, "tpch_q22_global_sales_opportunity")
    assert "LeftAnti" in q22
    assert "CartesianProduct" not in q22


def test_partition_pruning_on_date_partitioned_lake(spark):
    """A date-partitioned lake read with a partition-key filter must prune
    at planning time: the scan's PartitionFilters carry the predicate and
    only the matching partition directory is read."""
    import shutil

    from pyspark.sql import functions as F
    from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

    import os

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


def test_bloom_prejoin_fact_side_is_shuffle_free(spark):
    """The bloom prejoin's whole point is pruning the fact scan BEFORE
    any shuffle: every join must be broadcast (the 1-row state and the
    dim flag), never a SortMergeJoin/ShuffledHashJoin that would
    repartition the orders scan; the only exchanges are the testdata
    spread and the final 1-row count aggregation."""
    txt = plan_of(spark, "join_bloom_prejoin")
    assert "SortMergeJoin" not in txt
    assert "ShuffledHashJoin" not in txt
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastHashJoin" in txt


def test_triangle_wedge_joins_are_equi(spark):
    """Degree-oriented triangle counting must close wedges with hash
    equi-joins — a nested-loop/cartesian wedge join would be the
    quadratic plan the orientation exists to avoid."""
    txt = plan_of(spark, "graph_triangles")
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_ohlc_is_single_aggregate_no_window(spark):
    """OHLC bars must compile to partial-aggregating min_by/max_by with
    no per-bucket Window (the whale-unsafe formulation).  The struct
    tiebreak forces SortAggregate (struct ordering keys have no mutable
    hash buffer), which still combines partials map-side — assert the
    partial+final pair and the absence of any Window."""
    txt = plan_of(spark, "events_ohlc_bars")
    assert "Window" not in txt
    assert re.findall(r"(?:Sort|Hash)Aggregate", txt)
    assert "Exchange" in txt  # partial -> shuffle -> final, not a sort-all


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
    txt = plan_of(spark, name)
    hash_ex = re.findall(r"hashpartitioning\(", txt)
    assert len(hash_ex) == 1, f"{name}: {len(hash_ex)} hash exchanges"
    assert "CartesianProduct" not in txt


def test_cohort_ltv_shuffles_fact_once(spark):
    """Cohort LTV: exactly one fact-sized shuffle (user_id for the
    first-seen window); the cell aggregate and the cumulative window run
    on partial-aggregated / metadata-scale frames.  No join — the Spark
    side derives first-seen via MIN window, so any join in the plan
    means the oracle's mechanism leaked in."""
    txt = plan_of(spark, "events_cohort_ltv")
    assert re.search(r"hashpartitioning\(user_id", txt)
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
                         txt)


def test_cooccurrence_pair_join_is_equi(spark):
    """The co-occurrence self-join must hash/merge on the user equi-key
    (the t1 < t2 canonicalization is a post-join filter, not a join
    strategy): no nested-loop pair scan; the per-type counts and user
    total ride broadcasts."""
    txt = plan_of(spark, "events_cooccurrence_lift")
    assert "CartesianProduct" not in txt
    # three equi joins: the user-keyed pair self-join (broadcast at test
    # scale, SMJ at real scale) + the two per-type count joins; each node
    # appears twice in formatted output (tree + details)
    assert len(re.findall(
        r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", txt)) >= 6
    # the ONLY nested-loop is the documented 1-row n_users crossJoin
    assert txt.count("BroadcastNestedLoopJoin") <= 2


def test_ab_test_family_shapes(spark):
    """Mann-Whitney: one event_type exchange carrying the combined rank
    window + conditional aggregate.  Welch t: a pure partial aggregate —
    no Window at all, one hash exchange."""
    mw = plan_of(spark, "stats_mann_whitney")
    assert len(re.findall(r"hashpartitioning\(", mw)) == 1
    wt = plan_of(spark, "stats_welch_t")
    assert "Window" not in wt
    assert len(re.findall(r"hashpartitioning\(", wt)) == 1


def test_ks_single_group_shuffle(spark):
    """KS: the running-count window, group totals, and max aggregate all
    ride ONE event_type exchange."""
    txt = plan_of(spark, "stats_ks_two_sample")
    assert len(re.findall(r"hashpartitioning\(", txt)) == 1


def test_winsorize_edges_broadcast_back(spark):
    """Winsorize: the per-group quantile edges must come back as a
    broadcast join (never a fact-sized shuffle join); the only hash
    exchanges are the edge aggregation and the summary aggregate."""
    txt = plan_of(spark, "events_winsorize")
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_quantile_normalize_rank_joins_are_equi(spark):
    """Quantile normalization meets the reference order statistics
    through (group, rank) equi-joins — never a positional range scan or
    nested loop."""
    txt = plan_of(spark, "events_quantile_normalize")
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert len(re.findall(
        r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", txt)) >= 2


def test_rolling_slope_single_group_shuffle(spark):
    """The trailing OLS frame sums and the rank window share ONE
    event_type exchange."""
    txt = plan_of(spark, "events_rolling_slope")
    assert len(re.findall(r"hashpartitioning\(", txt)) == 1


def test_longest_streak_single_user_shuffle(spark):
    """Streaks: the distinct, the dense_rank window, and both aggregates
    all key on user_id — one fact-sized exchange (the island aggregate
    keys on (user, island): a sub-partitioning Spark satisfies with a
    fresh exchange over the already-shrunk distinct frame)."""
    txt = plan_of(spark, "events_longest_streak")
    assert "Join" not in txt or "SortMergeJoin" not in txt
    assert re.search(r"hashpartitioning\(user_id", txt)
    assert "CartesianProduct" not in txt


def test_seasonal_dow_single_fact_shuffle(spark):
    """The (type, day) partial agg is the only fact-sized exchange; the
    dow re-agg and the per-type totals window run post-aggregation."""
    txt = plan_of(spark, "events_seasonal_dow")
    assert "Join" not in txt
    assert "CartesianProduct" not in txt


def test_wilson_ci_single_shuffle_no_joins(spark):
    """Wilson: one partial-aggregated group shuffle, zero joins, zero
    windows."""
    txt = plan_of(spark, "stats_wilson_ci")
    assert len(re.findall(r"hashpartitioning\(", txt)) == 1
    assert "Join" not in txt and "Window" not in txt


def test_new_vs_returning_single_user_shuffle(spark):
    """New-vs-returning: the distinct and the first-day window key on
    user; the day rollup and the running sum see only the post-agg day
    frame (a singlepartition window over days, never the fact)."""
    txt = plan_of(spark, "events_new_vs_returning")
    assert re.search(r"hashpartitioning\(_u", txt)
    assert "Join" not in txt and "CartesianProduct" not in txt


def test_interpolate_linear_spine_join_post_agg(spark):
    """Interpolation joins the exploded bounds spine to the PUNCHED
    daily frame — both post-aggregation — and never nested-loops."""
    txt = plan_of(spark, "events_interpolate_linear")
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_rolling_corr_window_post_agg(spark):
    """Rolling correlation: the (type, day) partial agg is the only
    fact-sized exchange; the six-sum frame window sorts the post-agg
    daily frame.  No joins at all."""
    txt = plan_of(spark, "events_rolling_corr")
    assert "Join" not in txt
    assert "CartesianProduct" not in txt


def test_user_diversity_partial_agg_no_joins(spark):
    """Diversity: one (user, type) partial-agg shuffle; the per-user
    rollup runs on the post-agg frame.  Zero joins, zero windows."""
    txt = plan_of(spark, "events_user_diversity")
    assert "Join" not in txt and "Window" not in txt
    assert re.search(r"hashpartitioning\(user_id", txt)


def test_transitions_smoothed_broadcast_vocab_only(spark):
    """Smoothed transitions: the lead window is the one user-keyed
    fact shuffle; the vocabulary is a 1-row broadcast (BNLJ), never a
    shuffled join."""
    txt = plan_of(spark, "events_transitions_smoothed")
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt
    assert "CartesianProduct" not in txt
    assert re.search(r"hashpartitioning\(user_id", txt)


def test_reco_item_cosine_equi_joins_only(spark):
    """Item-item cosine: pair generation is a basket-keyed self-EQUI-join
    (pairs only materialize within a basket) and the n_i/n_j stitches are
    equi-joins — no cartesian, no nested-loop anywhere."""
    txt = plan_of(spark, "reco_item_cosine")
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
    txt = plan_of(spark, "events_funnel_windowed")
    assert "Window" not in txt
    assert "ShuffledHashJoin" in txt
    assert "CartesianProduct" not in txt


def test_score_lift_documented_global_window(spark):
    """Decile lift: the NTILE global-order window is the documented
    eval-frame boundary; zero joins — totals ride a partition-all window
    on the 10-row bucket frame."""
    txt = plan_of(spark, "ml_score_lift")
    assert "Window" in txt
    assert "Join" not in txt


def test_forecast_backtest_post_agg_window(spark):
    """Seasonal-naive backtest: the lag window and the metric rollup both
    run on the post-aggregation (type, day) frame; the only fact-sized
    exchange is the daily partial agg.  No joins."""
    txt = plan_of(spark, "events_forecast_backtest")
    assert "Join" not in txt
    assert re.search(r"hashpartitioning\(event_type", txt)


def test_feature_hashing_single_shuffle_no_joins(spark):
    """Hashing trick: map-side feature explode + ONE (key, bucket)
    partial-agg shuffle.  Stateless — no vocabulary join anywhere."""
    txt = plan_of(spark, "ml_feature_hashing")
    assert "Join" not in txt
    assert re.search(r"hashpartitioning\(user_id", txt)


def test_churn_labels_one_pass_no_self_join(spark):
    """Churn frame: features and label ride ONE user-keyed conditional
    aggregation — no join between observation and label windows, no
    window function."""
    txt = plan_of(spark, "ml_churn_labels")
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
    txt = plan_of(spark, "stats_corr_matrix")
    assert "Join" not in txt and "Window" not in txt


def test_time_to_convert_join_chain(spark):
    """Time-to-convert: the funnel join-chain shape — partial-aggregated
    first-touch frame, shuffle-hash join, partial-aggregated conversion
    frame; the cumulative window runs on the bucket frame only."""
    txt = plan_of(spark, "events_time_to_convert")
    assert "ShuffledHashJoin" in txt
    assert "CartesianProduct" not in txt


def test_period_decomposition_one_pass(spark):
    """Mix-shift decomposition: both periods' counts and sums ride ONE
    group-keyed conditional aggregation — no self-join between periods,
    no window."""
    txt = plan_of(spark, "events_period_decomposition")
    assert "Join" not in txt and "Window" not in txt
    assert len(re.findall(r"hashpartitioning\(", txt)) == 1


def test_dow_adjusted_window_post_agg(spark):
    """Dow-adjusted ratio: the (type, day) partial agg is the only
    fact-sized exchange; the dow-totals window runs on the post-agg
    daily frame."""
    txt = plan_of(spark, "events_dow_adjusted")
    assert "Join" not in txt
    assert re.search(r"hashpartitioning\(event_type", txt)


def test_silhouette_broadcast_centroids_only(spark):
    """Silhouette: the K-row centroid side is broadcast (nested-loop on
    a metadata-scale build side is the documented cross-join shape);
    the only fact-keyed exchange is the per-vector partial agg."""
    txt = plan_of(spark, "emb_silhouette")
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" in txt
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_kmv_difference_metadata_scale(spark):
    """KMV difference: the only fact-sized work is the two distinct+
    bottom-k sketch builds (TakeOrderedAndProject); the combined-K
    full-outer join runs on <= 2k rows."""
    txt = plan_of(spark, "sketch_kmv_difference")
    assert "TakeOrderedAndProject" in txt
    assert "CartesianProduct" not in txt


def test_containment_inverted_index_equi_join(spark):
    """Containment pairs: same inverted-index shape as ngram_jaccard —
    shingle-keyed self-EQUI-join, no nested loop."""
    txt = plan_of(spark, "dedup_containment")
    assert "BroadcastNestedLoopJoin" not in txt
    assert "CartesianProduct" not in txt
    assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", txt)


def test_dau_wau_coverage_explode(spark):
    """DAU/WAU: trailing distinct users via coverage explode — the
    7-day window never becomes sliding-window state or a range join;
    everything is distinct/agg exchanges plus one day-keyed stitch."""
    txt = plan_of(spark, "events_dau_wau")
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "Window" not in txt


def test_freshness_one_row_broadcast_plus_single_agg(spark):
    """Freshness: the global max is a 1-row broadcast (documented BNLJ);
    the per-type conditional aggregate is the only fact-keyed
    exchange."""
    txt = plan_of(spark, "dq_freshness")
    assert "CartesianProduct" not in txt
    assert re.search(r"hashpartitioning\(event_type", txt)


def test_session_funnel_single_user_exchange(spark):
    """Session funnel: islands + per-session stage windows all ride ONE
    user-keyed exchange (hash(user) co-locates (user, session)) — no
    joins, one hashpartitioning."""
    txt = plan_of(spark, "events_session_funnel")
    assert "Join" not in txt or "BroadcastNestedLoopJoin" in txt
    assert len(re.findall(r"hashpartitioning\(", txt)) == 1


def test_rate_limit_single_range_window(spark):
    """Rate limit: ONE user-keyed RANGE window + map-side violation
    filter — no joins, no second pass."""
    txt = plan_of(spark, "events_rate_limit")
    assert "Join" not in txt
    assert len(re.findall(r"hashpartitioning\(", txt)) == 1


def test_temporal_split_no_fact_rejoin(spark):
    """Temporal split audit: the per-split aggregates and the spanning
    check never re-join the fact table — the only join is the 1-row
    spanning-count broadcast."""
    txt = plan_of(spark, "ml_temporal_split")
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt
    assert "CartesianProduct" not in txt


def test_share_of_parent_windows_post_agg(spark):
    """Share-of-parent: the star joins broadcast the dims; the share and
    rank windows run on the 25-row post-agg frame (region-partitioned,
    no single-partition global sort)."""
    txt = plan_of(spark, "agg_share_of_parent")
    assert "BroadcastHashJoin" in txt
    assert "CartesianProduct" not in txt


def test_bootstrap_single_replicate_shuffle(spark):
    """Poisson bootstrap: the B-way explode is map-side; the only
    fact-sized exchanges are the (group, replicate) partial agg and the
    point-estimate agg; the rank windows run on B-row frames.  No
    cartesian, no fact re-join (the point/CI stitch joins two 5-row
    frames)."""
    txt = plan_of(spark, "stats_bootstrap_ci")
    assert "CartesianProduct" not in txt
    assert "Generate" in txt  # the explode, not a join


def test_lake_partition_pruning_in_scan(spark):
    """The day predicate must prune PARTITIONS (directory-level skip),
    not just filter rows: the written-lake scan carries a non-empty
    PartitionFilters list."""
    txt = plan_of(spark, "lake_partition_pruning")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", txt)
    assert m and "day" in m.group(1), m


def test_association_rules_equi_joins_only(spark):
    """Association rules: the same basket-keyed self-equi-join frame as
    item cosine; the only nested loop is the 1-row basket-total
    broadcast."""
    txt = plan_of(spark, "reco_association_rules")
    assert "CartesianProduct" not in txt
    assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", txt)


def test_lsh_recall_counts_are_one_row_broadcasts(spark):
    """LSH recall audit: the three counts collapse before meeting — the
    stitches are 1-row broadcasts, never a pair-frame cartesian."""
    txt = plan_of(spark, "dedup_lsh_recall")
    assert "CartesianProduct" not in txt


def test_dq_suite_anti_join_and_counts(spark):
    """DQ suite: every check is a counting aggregate; relationships are
    key-projected anti-joins (LeftAnti), never row-materializing
    cartesians."""
    txt = plan_of(spark, "dq_test_suite")
    assert "CartesianProduct" not in txt
    assert "LeftAnti" in txt


def test_sim_ivf_recall_reuses_artifacts(spark):
    """ANN recall audit: both top-k lists come from the engine's own
    operators off the shared centroid artifact; the count stitches are
    metadata-scale equi-joins — no cartesian."""
    txt = plan_of(spark, "sim_ivf_recall")
    assert "CartesianProduct" not in txt


def test_alert_runs_post_agg_islands(spark):
    """Alert runs: the daily partial agg is the only fact-sized
    exchange; the dow windows and the island window run on the daily
    frame.  No joins."""
    txt = plan_of(spark, "events_alert_runs")
    assert "Join" not in txt
    assert re.search(r"hashpartitioning\(event_type", txt)


def test_centroid_drift_metadata_cross(spark):
    """Centroid drift: an 8x8 broadcast cross over two published
    centroid artifacts — metadata-scale by construction."""
    txt = plan_of(spark, "emb_centroid_drift")
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" in txt


def test_dn_retention_user_keyed_joins(spark):
    """Dn retention: the (user, day) distinct + first-day aggregate and
    the activity join all key on the user; the cohort stitch is
    day-keyed.  No cartesian, no window over the fact."""
    txt = plan_of(spark, "events_dn_retention")
    assert "CartesianProduct" not in txt
    assert re.search(r"hashpartitioning\(u", txt)


def test_class_weights_one_pass(spark):
    """Class weights: one label partial agg + a 1-row totals broadcast;
    no fact re-join."""
    txt = plan_of(spark, "ml_class_weights")
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_auc_roc_no_per_row_ranks_no_joins(spark):
    """AUC: rank-sum over the DISTINCT-score frame — a partial agg feeds
    the cumulative window; no join anywhere in the plan."""
    txt = plan_of(spark, "ml_auc_roc")
    assert "Join" not in txt
    assert "Window" in txt
    assert txt.count("HashAggregate") >= 2  # (g,score) partial + per-g


def test_calibration_one_pass_plus_totals_broadcast(spark):
    """Calibration: one (bin) partial agg + 1-row totals broadcast; the
    fact table is scanned once and never re-joined on a shuffle key."""
    txt = plan_of(spark, "ml_calibration_ece")
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_drift_report_broadcast_only(spark):
    """Drift: bucket partial agg + 1-row bounds/totals broadcasts only."""
    txt = plan_of(spark, "ml_drift_report")
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_lm_score_term_keyed_model_joins(spark):
    """LM score: the bigram/unigram model joins are equi-joins on term
    keys (hash joins — broadcastable at toy SF, never a nested-loop pair
    scan); the only BNLJ is the 1-row vocab-size broadcast."""
    txt = plan_of(spark, "text_lm_score")
    # "formatted" prints each operator twice (tree + detail section)
    assert len(re.findall(r"BroadcastNestedLoopJoin", txt)) <= 2
    assert len(
        re.findall(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", txt)
    ) >= 4


def test_kaplan_meier_distinct_duration_frame(spark):
    """KM: one duration partial agg + cumulative window over the
    distinct-duration frame + 1-row total broadcast — no key-shuffle
    joins."""
    txt = plan_of(spark, "events_kaplan_meier")
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt
    assert "Window" in txt


def test_theilsen_pairs_are_group_keyed_equi_join(spark):
    """Theil-Sen: the quadratic pair generator is an equi-self-join on
    the group key over the PRE-AGGREGATED daily frame, never the raw
    fact table and never a cartesian."""
    txt = plan_of(spark, "events_theilsen_trend")
    assert len(
        re.findall(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", txt)
    ) >= 2  # formatted prints tree + detail
    assert "CartesianProduct" not in txt


def test_geo_candidates_cell_keyed(spark):
    """Grid neighbors: candidate pairs come from the cell equi-join —
    zero nested-loop joins anywhere in the plan."""
    txt = plan_of(spark, "geo_grid_neighbors")
    assert "BroadcastNestedLoopJoin" not in txt
    assert "CartesianProduct" not in txt
    assert len(
        re.findall(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", txt)
    ) >= 2


def test_dsir_shift_term_keyed(spark):
    """DSIR shift: one tokenize feeds counts and scoring; model joins
    are term-keyed equi-joins; only the 1-row totals broadcast may be a
    BNLJ."""
    txt = plan_of(spark, "corpus_dsir_shift")
    assert len(re.findall(r"BroadcastNestedLoopJoin", txt)) <= 2
    assert len(
        re.findall(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", txt)
    ) >= 2


def test_pr_curve_distinct_threshold_frame(spark):
    """PR curve: partial agg to the distinct-threshold frame, cumulative
    window there, 1-row totals broadcast — no key-shuffle joins."""
    txt = plan_of(spark, "ml_pr_curve")
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt
    assert "Window" in txt


def test_runs_test_group_keyed(spark):
    """Runs test: group-keyed median join-back + group-keyed lag window —
    never a single-partition funnel."""
    txt = plan_of(spark, "events_runs_test")
    assert "SinglePartition" not in txt


def test_pq_codebook_broadcast_assignment(spark):
    """PQ encoding: the m*k-row codebook broadcasts; the argmax window
    partitions on (vector, subspace), never a single partition."""
    txt = plan_of(spark, "emb_pq_codes")
    assert "BroadcastHashJoin" in txt
    assert "SinglePartition" not in txt


def test_k_core_semi_joins(spark):
    """k-core peels via alive-set semi-joins — equi-joins only."""
    txt = plan_of(spark, "graph_k_core")
    assert "BroadcastNestedLoopJoin" not in txt
    assert re.search(r"LeftSemi|SortMergeJoin|BroadcastHashJoin", txt)


def test_ipw_ate_one_pass(spark):
    """Stratified ATE: one stratum partial agg + 1-row broadcasts —
    no key-shuffle joins."""
    txt = plan_of(spark, "ml_ipw_ate")
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_target_encoding_one_pass(spark):
    """Target encoding: one category partial agg + 1-row global
    broadcast — no key-shuffle joins."""
    txt = plan_of(spark, "ml_target_encoding")
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_span_corruption_map_side_expansion(spark):
    """Span corruption: position sequences and span expansion are
    map-side Generates; shuffles are doc-keyed only."""
    txt = plan_of(spark, "corpus_span_corruption")
    assert "Generate" in txt
    assert "Join" not in txt
    assert "SinglePartition" not in txt


def test_orders_aging_snapshot_broadcast(spark):
    """Aging report: the as-of snapshot is a 1-row broadcast over one
    scan + one bucket aggregation."""
    txt = plan_of(spark, "orders_aging_buckets")
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_abandonment_user_keyed(spark):
    """Abandonment: one user-keyed click/event join + day rollup."""
    txt = plan_of(spark, "events_abandonment")
    assert "CartesianProduct" not in txt
    assert "SinglePartition" not in txt


def test_peak_concurrency_single_key_shuffle(spark):
    """Peak concurrency: the delta union is map-side; the running-sum
    and group-max windows share ONE type-keyed exchange."""
    txt = plan_of(spark, "events_peak_concurrency")
    assert "SinglePartition" not in txt
    assert len(re.findall(r"hashpartitioning\(", txt)) <= 4  # tree+detail


def test_pq_reconstruction_vector_keyed(spark):
    """PQ fidelity: codes join vector-keyed, codebook broadcasts, one
    vector-keyed partial agg — no nested-loop joins."""
    txt = plan_of(spark, "emb_pq_reconstruction")
    assert "BroadcastNestedLoopJoin" not in txt
    assert "CartesianProduct" not in txt


def test_growth_accounting_user_keyed(spark):
    """Growth accounting: lag window and churn anti-join both run on the
    user-keyed distinct-activity frame — never single-partition."""
    txt = plan_of(spark, "events_growth_accounting")
    assert "SinglePartition" not in txt
    assert "CartesianProduct" not in txt


def test_abc_cumulative_is_decimal_exact(spark):
    """ABC classification: the Pareto cut compares exact DECIMAL
    cumulative sums (no float cumsum); the ranked window runs over the
    part-level (metadata-scale) aggregate, not the fact table."""
    txt = plan_of(spark, "lineitem_abc_classification")
    assert "CartesianProduct" not in txt
    # the fact-table aggregation precedes the single ranked window over
    # parts; assert the window input is the aggregated frame
    assert "HashAggregate" in txt and "Window" in txt


def test_repeat_purchase_customer_keyed(spark):
    """Repeat purchase: ordinal window is customer-keyed; the base is a
    1-row broadcast."""
    txt = plan_of(spark, "orders_repeat_purchase")
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_training_order_no_global_sort(spark):
    """Training order: the global ordinal must come from bucket-local
    row_numbers + a metadata-scale offset window — never a row-scale
    single-partition sort of the corpus.  The only single-partition
    window allowed is over the 2^bits-row bucket-counts table."""
    txt = plan_of(spark, "corpus_training_order")
    # the offsets window is fed by an aggregate, never a raw scan
    assert not re.search(r"SinglePartition[\s\S]{0,400}?Scan parquet", txt)


def test_bitmap_distinct_partial_agg(spark):
    """Bitmap distinct: bit_or is a partial aggregate over (day, bucket)
    — constant state per bucket; no window, no single partition."""
    txt = plan_of(spark, "events_bitmap_distinct")
    assert "SinglePartition" not in txt
    assert "Window" not in txt


def test_matryoshka_recall_composition(spark):
    """Matryoshka audit: two broadcast-query brute passes + count
    stitches; no cartesian beyond the intended query broadcast."""
    txt = plan_of(spark, "emb_matryoshka_recall")
    assert "CartesianProduct" not in txt


def test_node_jaccard_wedge_equi_join(spark):
    """Node Jaccard: candidate pairs from the shared-neighbor equi-join,
    never all-pairs."""
    txt = plan_of(spark, "graph_node_jaccard")
    assert "CartesianProduct" not in txt
    # the only BNLJs are _pr_edges_df's 1-row corpus-count broadcasts
    # (same shape as pagerank/bfs); the wedge pair generator itself must
    # be a hash equi-join
    assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", txt)


def test_fairness_report_one_pass(spark):
    """Fairness report: one group partial agg + a 1-row gaps broadcast."""
    txt = plan_of(spark, "ml_fairness_report")
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_transition_drift_one_lag_one_agg(spark):
    """Transition drift: one user-keyed lag window + one bucket partial
    agg + 1-row broadcasts — the categorical_drift tail unchanged."""
    txt = plan_of(spark, "events_transition_drift")
    assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt


def test_degree_histogram_metadata_window(spark):
    """Degree histogram: the cumulative window runs over the degree-level
    frame (bounded by max degree), never the node or edge table."""
    txt = plan_of(spark, "graph_degree_histogram")
    assert "CartesianProduct" not in txt
    assert "Window" in txt


def test_reciprocity_edge_equi_self_join(spark):
    """Reciprocity: the reverse-edge match is a (src, dst) equi-self-join
    of the edge list — hash joins only."""
    txt = plan_of(spark, "graph_reciprocity")
    assert "CartesianProduct" not in txt
    assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", txt)
