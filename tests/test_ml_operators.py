"""Invariant tests for the training-data operators (cross-engine parity is
covered by tools/check_correctness.py; these cover semantics)."""

import pytest
from pyspark.sql import Row, functions as F

from operator_families.functions import dedup, multimodal, simsearch


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def test_exact_dedup_groups(spark):
    df = _docs(spark, ["a b c", "A  b   C", "x y z"])  # 0,1 normalize equal
    out = dedup.exact_dup_groups(df, "text", "doc_id").collect()
    groups = {r.representative_id: r.n_docs for r in out}
    assert groups == {0: 2, 2: 1}


def test_ngram_jaccard_identical_docs(spark):
    df = _docs(spark, ["one two three four five", "one two three four five", "alpha beta gamma delta"])
    out = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert len(out) == 1
    assert (out[0].doc_a, out[0].doc_b, out[0].jaccard) == (0, 1, 1.0)


def test_minhash_recall_of_exact_pairs(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "the quick brown fox jumps over the lazy dog again and again today",
        "completely different words entirely unrelated content here now",
    ]
    df = _docs(spark, texts)
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(df, threshold=0.5).collect()
    }
    assert (0, 1) in exact
    assert lsh <= exact  # LSH output is a verified subset
    assert (0, 1) in lsh  # near-identical docs must survive banding


def test_simhash_identical_zero_hamming(spark):
    df = _docs(spark, ["same words here", "same words here", "other stuff"])
    pairs = dedup.simhash_pairs(df, max_hamming=0).collect()
    assert [(p.doc_a, p.doc_b, p.hamming) for p in pairs] == [(0, 1, 0)]


def test_embedding_near_dup_and_knn(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.99, 0.1, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows)
    near = dedup.embedding_near_dup_pairs(df, threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in near] == [(0, 1)]

    knn = simsearch.knn_bruteforce(df, [0], k=2).collect()
    assert [r.neighbor_id for r in knn] == [1, 2]  # cosine order
    assert knn[0].rank == 1


def test_flag_contaminated_ngram_overlap(spark):
    """Train docs sharing any 3-gram with the heldout set are flagged with
    the distinct shared-shingle count; clean docs are absent."""
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # shares 'the quick brown',
                                                # 'quick brown fox'
            (2, "completely different words entirely here"),
            (3, "quick brown fox runs"),        # shares 'quick brown fox'
        ],
        "doc_id bigint, text string",
    )
    heldout = spark.createDataFrame(
        [(100, "the quick brown fox sleeps")], "doc_id bigint, text string"
    )
    got = {
        r.doc_id: r.n_shared
        for r in dedup.flag_contaminated(train, heldout).collect()
    }
    assert got == {1: 2, 3: 1}


def test_bm25_ranking_semantics(spark):
    """Rarer terms weigh more (rational idf), repeated terms saturate
    (k1), and longer docs are penalized (b); unmatched docs are absent."""
    from operator_families.functions.search import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "rare common common pad pad"),
            (2, "common common common pad pad"),
            (3, "pad pad pad pad pad"),
        ],
        "doc_id bigint, text string",
    )
    out = bm25_topk(df, ["rare", "common"], k=10).collect()
    ranked = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked[0] == 1          # the only doc with the rare term wins
    assert 3 not in {r.doc_id for r in out}
    assert all(r.score > 0 for r in out)


def test_token_repetition_stats(spark):
    from operator_families.functions.text import (
        token_repetition_stats,
    )

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z w")], "doc_id bigint, text string"
    )
    got = {
        r.doc_id: (
            r.n_tokens, r.n_distinct, r.dup_ratio, r.top_token, r.top_ratio
        )
        for r in token_repetition_stats(df).collect()
    }
    assert got[1] == (4, 2, 0.5, "a", 0.75)
    # all-distinct doc: top ties broken by smallest token
    assert got[2] == (4, 4, 0.0, "w", 0.25)


def test_duplicate_clusters_connected_components(spark):
    """Chains collapse transitively to the min id; disjoint pairs keep
    their own representative; the corpus filter keeps exactly one doc per
    cluster plus all unclustered docs."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "doc_a bigint, doc_b bigint",
    )
    clusters = dedup.duplicate_clusters(pairs)
    got = {r.doc: r.cluster_rep for r in clusters.collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }

    corpus = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]], "doc_id bigint"
    )
    kept = sorted(
        r.doc_id for r in dedup.keep_representatives(corpus, clusters).collect()
    )
    assert kept == [1, 10, 20, 99]


def test_duplicate_clusters_one_action_per_round(spark, monkeypatch):
    """Convergence must ride the per-round checkpoint as an observe metric
    — a separate count()/collect() probe per round doubles the job count
    at corpus scale."""
    from pyspark.sql import DataFrame

    calls = []
    for probe in ("count", "collect"):
        orig = getattr(DataFrame, probe)
        monkeypatch.setattr(
            DataFrame,
            probe,
            (lambda o, p: lambda self: (calls.append(p), o(self))[1])(
                orig, probe
            ),
        )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a bigint, doc_b bigint"
    )
    clusters = dedup.duplicate_clusters(pairs)
    assert calls == [], f"probe actions inside the loop: {calls}"
    assert {r.cluster_rep for r in clusters.collect()} == {1}


def test_duplicate_clusters_long_chain_converges(spark):
    """A 30-node path graph needs many propagation rounds — the fixpoint
    loop must converge, not stop after a fixed round count."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a bigint, doc_b bigint"
    )
    clusters = dedup.duplicate_clusters(pairs, max_iter=64)
    assert {r.cluster_rep for r in clusters.collect()} == {0}


def test_duplicate_clusters_fused_rounds_match_single_step(spark):
    """r12 pre-gate round fusion: two plain propagation steps per
    checkpointed job while the doubling jump is disengaged.  The label
    trajectory must be IDENTICAL to single-step rounds — ``doubling_gate=0``
    forces every step through the unfused jump-engaged path, so comparing
    the two configurations on a branchy random graph pins the fusion's
    equivalence (final labels are the component minima either way)."""
    import random

    rng = random.Random(123)
    n = 400
    edges = set()
    for _ in range(420):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(
        sorted(edges), "doc_a bigint, doc_b bigint"
    )
    fused = {
        r.doc: r.cluster_rep
        for r in dedup.duplicate_clusters(pairs, max_iter=64).collect()
    }
    single = {
        r.doc: r.cluster_rep
        for r in dedup.duplicate_clusters(
            pairs, max_iter=64, doubling_gate=0
        ).collect()
    }
    assert fused == single and len(fused) > 0


def test_duplicate_clusters_deep_chain_log_rounds(spark):
    """Pointer doubling makes convergence O(log d), not O(d): a path of
    diameter 99 must finish within ceil(log2 d) + 2 rounds — plain
    min-label propagation would need ~99 and must raise here instead."""
    import math

    d = 99
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(d)], "doc_a bigint, doc_b bigint"
    )
    cap = math.ceil(math.log2(d)) + 2  # = 9
    out = dedup.duplicate_clusters(pairs, max_iter=cap).collect()
    assert len(out) == d + 1
    assert {r.cluster_rep for r in out} == {0}


def test_clean_corpus_drops_dups_and_junk(spark):
    """Exact-dup loser, near-dup cluster loser, and a too-short doc all
    fall out; survivors carry their token counts."""
    from operator_families.functions.corpus import clean_corpus

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = _docs(
        spark,
        [
            base,                      # 0: survivor (rep of exact pair 0/1)
            base.upper(),              # 1: exact dup of 0 (fingerprint-equal)
            base + " extra tail",      # 2: near-dup of 0 (shares shingles)
            "tiny",                    # 3: too short
            "completely different content about spark engines and parquet files",  # 4: survivor
        ],
    )
    got = {r.doc_id: r.n_tokens for r in clean_corpus(docs).collect()}
    assert set(got) == {0, 4}
    assert got[0] == 12


def test_embedding_blocked_matches_exact(spark):
    """The executor-side blocked kernel must emit exactly the expression
    plan's pair set, values bit-identical, for any block count."""
    import random

    rng = random.Random(3)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows)
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_near_dup_pairs(df, threshold=0.3).collect()
    }
    for n_blocks in (1, 3, 8):
        blocked = {
            (r.id_a, r.id_b): r.cosine
            for r in dedup.embedding_near_dup_pairs_blocked(
                df, threshold=0.3, n_blocks=n_blocks
            ).collect()
        }
        assert blocked == exact, f"n_blocks={n_blocks}"


def test_embedding_lsh_subset_of_exact(spark):
    """LSH-prefiltered near-dup: a subset of the exact pair set with
    identical cosines on every emitted pair."""
    import random

    rng = random.Random(5)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows)
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_near_dup_pairs(df, threshold=0.3).collect()
    }
    got = dedup.embedding_lsh_pairs(
        df, dim=8, threshold=0.3, num_planes=4, bands=2
    ).collect()
    assert got, "LSH pre-filter returned no pairs"
    for r in got:
        assert exact[(r.id_a, r.id_b)] == r.cosine

    # num_planes not divisible by bands would silently drop sign bits and
    # lower recall — must refuse instead.
    with pytest.raises(ValueError, match="divisible"):
        dedup.embedding_lsh_pairs(df, dim=8, num_planes=8, bands=3)


def test_lsh_topk_subset_of_bruteforce(spark):
    import random

    rng = random.Random(7)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows)
    bf = simsearch.knn_bruteforce(df, [0], k=40)
    approx = simsearch.lsh_bucket_topk(df, [0], dim=8, k=40, num_planes=4)
    bf_scores = {r.neighbor_id: r.cosine for r in bf.collect()}
    for r in approx.collect():
        assert bf_scores[r.neighbor_id] == r.cosine  # same scoring


def test_ivf_topk_scores_match_bruteforce(spark):
    import random

    rng = random.Random(11)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows)
    bf_scores = {
        r.neighbor_id: r.cosine
        for r in simsearch.knn_bruteforce(df, [0], k=50).collect()
    }
    got = simsearch.ivf_topk(
        df, [0], k=10, n_centroids=4, nprobe=2, dim=8
    ).collect()
    assert got, "IVF returned no candidates"
    ranks = [r.rank for r in got]
    assert ranks == sorted(ranks) and ranks[0] == 1
    for r in got:
        assert r.neighbor_id != 0
        assert bf_scores[r.neighbor_id] == r.cosine  # same scoring, subset


def test_kmeans_bit_identical_across_partitioning(spark):
    """The decimal-exact means must make Lloyd's reproducible to the BIT
    under any input partitioning — the property the file-published oracle
    contract rests on (double sums would differ in the last ulps)."""
    import random

    rng = random.Random(17)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)])
        for i in range(80)
    ]

    def centroids(n_parts):
        df = spark.createDataFrame(rows).repartition(n_parts)
        cents, _ = simsearch.ivf_build(df, n_centroids=4, dim=8)
        return sorted(
            (r.centroid_id, tuple(r.cv), r.cn) for r in cents.collect()
        )

    assert centroids(1) == centroids(13)


def test_kmeans_train_sample_still_assigns_everything(spark):
    """The deterministic id-hash training sample (the 100 TB lever) trains
    on a fraction but the index still covers the whole corpus."""
    import random

    rng = random.Random(19)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)])
        for i in range(80)
    ]
    df = spark.createDataFrame(rows)
    cents, assigned = simsearch.ivf_build(df, n_centroids=3, dim=8, train_mod=4)
    assert cents.count() == 3
    assert assigned.count() == 80  # every vector lands in a list


def test_kmeans_recovers_separated_clusters(spark):
    """Lloyd's must put one centroid per well-separated direction cluster,
    and IVF probe recall on such data must be total for in-cluster
    neighbors (the property the id-stride sampling of r01 lacked)."""
    import random

    rng = random.Random(13)
    axes = [(1.0, 0.0, 0.0), (0.0, 1.0, 0.0), (0.0, 0.0, 1.0)]
    rows = [
        Row(
            vec_id=i,
            embedding=[a + rng.uniform(-0.05, 0.05) for a in axes[i % 3]],
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(rows)
    cents, assigned = simsearch.ivf_build(df, n_centroids=3, dim=3)
    # every vector of a direction cluster lands in the same list
    groups = {
        r.centroid_id
        for r in assigned.filter((F.col("_id") % 3) == 0).collect()
    }
    assert len(groups) == 1
    assert assigned.select("centroid_id").distinct().count() == 3

    # in-cluster top-k through the index == brute force restricted recall
    bf = {
        r.neighbor_id: r.cosine
        for r in simsearch.knn_bruteforce(df, [0], k=19).collect()
        if r.neighbor_id % 3 == 0
    }
    got = simsearch.ivf_topk(
        df, [0], k=19, nprobe=1, dim=3, index=(cents, assigned)
    ).collect()
    assert {r.neighbor_id: r.cosine for r in got} == bf


def test_multimodal_decode_roundtrip(spark):
    df = _docs(spark, ["hello world", "abc"])
    out = (
        multimodal.decode_image_meta(multimodal.with_binary_payload(df))
        .orderBy("doc_id")
        .collect()
    )
    assert out[0].n_bytes == 11 and out[1].n_bytes == 3
    assert out[0].width == 11 % 64 + 1
    assert out[0].format == "fake"


def test_registry_oracle_coverage():
    """Every registered rail gate carries a DuckDB oracle."""
    from nl_railtraffic_etl_pipeline_spark.plans import registry

    assert set(registry.QUERIES) == set(registry.ORACLES)


def test_kmv_distinct_exact_below_k_and_close_above(spark):
    from operator_families.functions.sketch import kmv_distinct

    rows = [(g, v % (30 if g == "small" else 5000))
            for g in ("small", "big") for v in range(20000)]
    df = spark.createDataFrame(rows, "grp string, val bigint")
    got = {r.grp: r.distinct_estimate for r in
           kmv_distinct(df, ["grp"], "val", k=64).collect()}
    assert got["small"] == 30.0            # below k: exact
    assert abs(got["big"] - 5000) / 5000 < 0.25   # KMV error ~1/sqrt(k)


def test_bottom_k_sample_deterministic_across_partitioning(spark):
    from operator_families.functions.sketch import (
        bottom_k_sample,
    )

    base = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    pick = lambda parts: sorted(
        (r.doc_id, r.sample_rank)
        for r in bottom_k_sample(
            base.repartition(parts), 50, "doc_id"
        ).collect()
    )
    one = pick(1)
    assert one == pick(17)
    assert len(one) == 50
    ids = [d for d, _ in one]
    assert ids != sorted(range(50))  # hash order, not id order


def test_bernoulli_samples_are_nested_and_deterministic(spark):
    """Membership is a pure function of the key: lower-rate samples are
    subsets of higher-rate ones, and partitioning cannot change the draw."""
    from operator_families.functions.sketch import (
        bernoulli_sample,
    )

    df = spark.createDataFrame([(i,) for i in range(2000)], "k bigint")
    s10 = {r.k for r in bernoulli_sample(df, 0.1, "k").collect()}
    s30 = {r.k for r in bernoulli_sample(df, 0.3, "k").collect()}
    assert s10 < s30
    # rate is approximately honored (hash uniformity)
    assert 0.05 < len(s10) / 2000 < 0.15
    assert 0.25 < len(s30) / 2000 < 0.35
    again = {
        r.k for r in bernoulli_sample(df.repartition(13), 0.1, "k").collect()
    }
    assert again == s10


def test_stratified_bernoulli_rates_and_dropped_stratum(spark):
    from operator_families.functions.sketch import (
        stratified_bernoulli_sample,
    )

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "k bigint, s string")
    got = stratified_bernoulli_sample(
        df, {"a": 1.0, "b": 0.2}, "s", "k"
    ).collect()
    by_s = {}
    for r in got:
        by_s.setdefault(r.s, set()).add(r.k)
    assert len(by_s.get("a", ())) == 1000       # rate 1.0 keeps everything
    assert "c" not in by_s                      # absent stratum dropped
    assert 0.1 < len(by_s.get("b", ())) / 1000 < 0.3


def test_duplicate_clusters_raises_when_unconverged(spark):
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_a bigint, doc_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(pairs, max_iter=2)


def test_group_centroids_partition_invariant(spark):
    from operator_families.functions.simsearch import group_centroids
    from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = group_centroids(emb.repartition(1), "label").collect()
    b = group_centroids(emb.repartition(17, "vec_id"), "label").collect()
    key = lambda r: (r["label"], r["dim"])
    assert sorted(((key(r), r["centroid"]) for r in a)) == sorted(
        ((key(r), r["centroid"]) for r in b)
    )


def test_mixture_plan_smallest_source_keeps_all(spark):
    from pyspark.sql import Row
    from operator_families.functions.corpus import mixture_plan

    docs = spark.createDataFrame(
        [Row(doc_id=i, source="big" if i < 8 else "small",
             text="tok " * (10 if i < 8 else 5)) for i in range(10)]
    )
    rates = {r["source"]: (r["sample_rate"], r["n_tokens"])
             for r in mixture_plan(docs).collect()}
    assert rates["small"][0] == 1.0
    assert rates["big"][0] == round(rates["small"][1] / rates["big"][1], 6)


def test_mixture_plan_tokenless_source_excluded(spark):
    """A source with no countable tokens (all-NULL texts -> NULL token
    sum) must not poison the minimum and zero every other source's rate;
    it gets rate 0.0 and the minimum runs over positive-token sources."""
    from pyspark.sql import Row
    from operator_families.functions.corpus import mixture_plan

    docs = spark.createDataFrame(
        [Row(doc_id=i, source="big", text="tok " * 10) for i in range(8)]
        + [Row(doc_id=8, source="small", text="tok tok tok")]
        + [Row(doc_id=9, source="empty", text=None)],
        "doc_id bigint, source string, text string",
    )
    rates = {r["source"]: r["sample_rate"] for r in mixture_plan(docs).collect()}
    assert rates["empty"] == 0.0
    assert rates["small"] == 1.0
    assert 0.0 < rates["big"] < 1.0


def test_group_centroids_nonfinite_excluded(spark):
    """NULL/NaN/Inf vector elements are excluded from sum AND count —
    the mean is over finite values only, never silently biased by a
    mismatched denominator."""
    from operator_families.functions.simsearch import group_centroids

    emb = spark.createDataFrame(
        [
            ("a", [1.0, float("nan")]),
            ("a", [3.0, float("inf")]),
            ("a", [5.0, 7.0]),
            ("a", [None, 9.0]),
        ],
        "label string, embedding array<double>",
    )
    out = {(r["dim"]): (r["centroid"], r["n_vectors"])
           for r in group_centroids(emb, "label").collect()}
    assert out[0] == (3.0, 3)   # mean(1,3,5), the NULL dropped
    assert out[1] == (8.0, 2)   # mean(7,9), NaN and Inf dropped


def test_scrub_pii_redaction_and_counts(spark):
    """Email/URL/long-digit redaction: counts are per-category matches on
    the original text; replacement order (URL first) keeps a URL's query
    digits from being double-redacted."""
    from operator_families.functions.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c%d@x-y.co.uk see https://ex.org/p?q=1&r=(2) "
                "tel 123456789 end"),
            (2, "no pii 123456"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert out[1]["clean_text"] == (
        "mail <EMAIL> see <URL> tel <NUM> end"
    )
    assert (out[1]["n_emails"], out[1]["n_urls"], out[1]["n_longnums"]) == (
        1, 1, 1,
    )
    # six digits is below the long-run threshold — untouched
    assert out[2]["clean_text"] == "no pii 123456"
    assert out[2]["n_longnums"] == 0


def test_strip_html_tags_entities_whitespace(spark):
    """Tags out first, then entity decode (so &lt; cannot fabricate a
    strippable tag), then blank-run collapse + trim."""
    from operator_families.functions.text import strip_html

    df = spark.createDataFrame(
        [(1, "<p>Hello &amp; welcome</p><br/> <a href='https://z.z'>x</a> "
             "&lt;tag&gt; &#39;q&quot;")],
        "doc_id bigint, text string",
    )
    r = strip_html(df).collect()[0]
    assert r["clean_text"] == "Hello & welcome x <tag> 'q\""
    assert r["n_tags"] == 5


def test_repeated_span_stats(spark):
    """A doc sharing a 5-gram run with another doc counts those positions
    (with multiplicity); unique text scores zero; short docs are excluded."""
    from operator_families.functions.text import repeated_span_stats

    df = spark.createDataFrame(
        [
            (1, "a b c d e unique tail one"),
            (2, "prefix a b c d e different end"),
            (3, "totally distinct words here now"),
            (4, "too short"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in repeated_span_stats(df).collect()}
    assert 4 not in out                      # < 5 tokens
    assert out[3]["n_shared_spans"] == 0
    # docs 1 and 2 share exactly the span "a b c d e" (one position each)
    assert out[1]["n_shared_spans"] == 1 and out[2]["n_shared_spans"] == 1
    assert out[1]["n_spans"] == 4 and out[2]["n_spans"] == 4


def test_incremental_near_dup_matches_full_pair_generator(spark):
    """Cross-split pairs from incremental_near_dup must equal the
    new×index subset of the full-corpus pair generator (same shingles,
    same Jaccard, same threshold)."""
    from operator_families.functions.dedup import (
        incremental_near_dup,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "one two three four five six seven"),
            (4, "one two three four five six eight"),
            (5, "totally different words in this doc"),
        ],
        "doc_id bigint, text string",
    )
    new = docs.filter("doc_id % 2 = 0")
    idx = docs.filter("doc_id % 2 = 1")
    got = {
        (r["new_id"], r["index_id"]): r["jaccard"]
        for r in incremental_near_dup(new, idx, threshold=0.2).collect()
    }
    full = ngram_jaccard_pairs(docs, threshold=0.2).collect()
    want = {}
    for r in full:
        a, b = r["doc_a"], r["doc_b"]
        if (a % 2 == 0) != (b % 2 == 0):
            new_id, index_id = (a, b) if a % 2 == 0 else (b, a)
            want[(new_id, index_id)] = r["jaccard"]
    assert got == want and got  # non-empty and identical


def test_remove_boilerplate_lines(spark):
    """Lines shared by >= min_docs docs vanish (normalization-insensitive);
    unique lines survive in order; an all-boilerplate doc becomes ''."""
    from operator_families.functions.text import (
        remove_boilerplate_lines,
    )

    docs = _docs(
        spark,
        [
            "Accept  cookies\nalpha beta\nref zero",
            "accept cookies\ngamma delta\nref one",
            "ACCEPT\tCookies\nref two",
            "Accept cookies",  # all boilerplate -> empty
            "no banner here\nref four",
        ],
    )
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(docs, min_docs=3).collect()
    }
    assert out[0]["clean_text"] == "alpha beta\nref zero"
    assert out[0]["n_lines_removed"] == 1 and out[0]["n_lines_kept"] == 2
    assert out[1]["clean_text"] == "gamma delta\nref one"
    assert out[2]["clean_text"] == "ref two"
    assert out[3]["clean_text"] == "" and out[3]["n_lines_kept"] == 0
    assert out[4]["clean_text"] == "no banner here\nref four"
    assert out[4]["n_lines_removed"] == 0


def test_web_domain_parsing_and_cap(spark):
    """Host parse (port/case), registered-domain suffix rule, and the
    two-level per-domain cap equal to the single-window definition."""
    from operator_families.functions import web

    rows = [
        Row(doc_id=0, url="https://News.Example.co.uk:8443/a"),
        Row(doc_id=1, url="https://example.co.uk/b"),
        Row(doc_id=2, url="http://www.plain.com/c"),
        Row(doc_id=3, url="not a url"),
        Row(doc_id=4, url="https://localhost/d"),
    ] + [
        Row(doc_id=100 + i, url=f"https://big.whale.org/{i}") for i in range(40)
    ]
    df = spark.createDataFrame(rows)
    doms = {
        r["doc_id"]: (r["host"], r["domain"])
        for r in df.select(
            "doc_id",
            web.url_host(F.col("url")).alias("host"),
            web.registered_domain(web.url_host(F.col("url"))).alias("domain"),
        ).collect()
    }
    assert doms[0] == ("news.example.co.uk", "example.co.uk")
    assert doms[1] == ("example.co.uk", "example.co.uk")
    assert doms[2] == ("www.plain.com", "plain.com")
    assert doms[3] == (None, None)
    assert doms[4] == ("localhost", "localhost")

    capped = web.cap_per_domain(df, cap=10, salt_buckets=4)
    by_dom = {}
    for r in capped.collect():
        by_dom.setdefault(r["domain"], []).append((r["sample_rank"], r["doc_id"]))
    assert len(by_dom["whale.org"]) == 10
    # two-level result == single-window definition (exactness of the split)
    from operator_families.functions.sketch import _rank_hash
    ranked = (
        df.withColumn("host", web.url_host(F.col("url")))
        .withColumn("domain", web.registered_domain(F.col("host")))
        .filter(F.col("domain") == "whale.org")
        .withColumn("_h", _rank_hash(F.col("doc_id"), "domcap"))
        .orderBy("_h", "doc_id")
        .limit(10)
    )
    expect = [r["doc_id"] for r in ranked.collect()]
    got = [d for _, d in sorted(by_dom["whale.org"])]
    assert got == expect


def test_quality_classifier_score_and_keep(spark):
    """Exact rational score; keep decision flips with content; degenerate
    docs score NULL and keep=False."""
    from operator_families.functions.text import (
        quality_classifier,
    )

    docs = _docs(
        spark,
        [
            "the quick brown fox is happy to be in a nice field of grass",
            "!!! ??? ... ;;; :::",  # punctuation soup
            "",
        ],
    )
    out = {r["doc_id"]: r for r in quality_classifier(docs).collect()}
    assert out[0]["keep"] is True and out[0]["score"] > 0.22
    assert out[1]["keep"] is False
    assert out[2]["score"] is None and out[2]["keep"] is False


def test_vocab_coverage_curve(spark):
    from operator_families.functions.text import vocab_coverage

    docs = _docs(spark, ["a a a b b c", "a b d"])
    out = vocab_coverage(docs, k=3).collect()
    assert [(r["term"], r["n_occ"], r["rank"]) for r in out] == [
        ("a", 4, 1), ("b", 3, 2), ("c", 1, 3)
    ]
    assert out[0]["cum_share"] == round(4 / 9, 6)
    assert out[2]["cum_share"] == round(8 / 9, 6)


def test_quantize_int8_roundtrip(spark):
    from operator_families.functions.simsearch import (
        quantize_int8,
    )

    df = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[0.5, -1.0, 0.25]),
            Row(vec_id=1, embedding=[0.0, 0.0, 0.0]),
        ]
    )
    out = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    assert out[0]["qvec"][1] in (-127, -126)  # max-abs element
    assert all(-127 <= q <= 127 for q in out[0]["qvec"])
    assert out[0]["max_abs_err"] <= out[0]["scale"]
    assert out[1]["qvec"] == [0, 0, 0] and out[1]["scale"] == 0.0


def test_trailing_anomalies_cold_start_and_flag(spark):
    import datetime as dt

    from operator_families.functions.behavior import (
        trailing_anomalies,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        Row(user_id=1, event_id=i, ts=t0 + dt.timedelta(minutes=i),
            value=1.0 if i != 9 else 100.0)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows)
    out = trailing_anomalies(df, window_rows=10, min_prior=5, factor=3)
    got = out.collect()
    # only event 9 (value 100 vs trailing mean 1.0) and never the first 5
    assert [(r["event_id"], r["trailing_mean"]) for r in got] == [(9, 1.0)]


def test_pagerank_deterministic_and_sensible(spark):
    """Hub node outranks leaves; result invariant under repartitioning;
    per-node mass stays within [teleport, total]."""
    from operator_families.functions.graph import (
        PAGERANK_UNIT,
        pagerank_units,
    )

    nodes = spark.createDataFrame([Row(id=i) for i in range(5)])
    # star: everyone links to 0; 0 links to 1
    edges = spark.createDataFrame(
        [Row(src=i, dst=0) for i in range(1, 5)] + [Row(src=0, dst=1)]
    )
    pr = {r["node"]: r["pr_units"] for r in pagerank_units(nodes, edges).collect()}
    assert pr[0] == max(pr.values())
    assert pr[1] > pr[2] == pr[3] == pr[4]
    assert all(v >= 15 * PAGERANK_UNIT // 100 for v in pr.values())

    pr2 = {
        r["node"]: r["pr_units"]
        for r in pagerank_units(
            nodes.repartition(7), edges.repartition(3)
        ).collect()
    }
    assert pr2 == pr


def test_grid_quantile_sketch_merge_equals_direct(spark):
    """States built over disjoint slices (shared bounds) merge to the
    direct sketch; estimates land within one bin width of the exact
    quantile."""
    from operator_families.functions.sketch import (
        grid_quantile_estimate,
        grid_quantile_merge,
        grid_quantile_sketch,
    )

    rows = [Row(g="a", v=float(i)) for i in range(1000)] + [
        Row(g="b", v=float(i * i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows)
    direct = grid_quantile_sketch(df, "v", ["g"])

    # the merge contract requires slices binned against SHARED bounds —
    # the public `bounds=` parameter (one global bounds pass, then
    # per-slice builds), no hand-reimplemented binning needed.
    import pyspark.sql.functions as SF

    bounds = direct.select("g", "lo", "hi").distinct()
    halves = [
        grid_quantile_sketch(df.filter(pred), "v", ["g"], bounds=bounds)
        for pred in (SF.col("v") % 2 == 0, SF.col("v") % 2 == 1)
    ]
    merged = grid_quantile_merge(halves[0].union(halves[1]), ["g"])

    def est_map(state):
        return {
            (r["g"], r["q_pct"]): r["est"]
            for r in grid_quantile_estimate(state, ["g"]).collect()
        }

    em, ed = est_map(merged), est_map(direct)
    assert em == ed
    # error bound: one bin width
    assert abs(ed[("a", 50)] - 500.0) <= 999.0 / 128 + 1
    # rank r = ceil(0.9*100) = 90 -> 90th smallest of {i^2} = 89^2
    assert abs(ed[("b", 90)] - 89 * 89) <= (99 * 99) / 128 + 1

    # per-slice n derives from the slice's own binned counts
    got_n = {r["g"]: r["n"] for r in halves[0].select("g", "n").distinct().collect()}
    assert got_n["a"] == 500 and got_n["b"] == 50

    # out-of-bounds values clamp into the edge bins (a drifted slice
    # binned against stale global bounds still yields a valid state)
    drift = spark.createDataFrame([Row(g="a", v=-50.0), Row(g="a", v=5000.0)])
    dstate = grid_quantile_sketch(drift, "v", ["g"], bounds=bounds).collect()
    assert sorted(r["bin"] for r in dstate) == [0, 127]


def test_grid_quantile_merge_rejects_mismatched_bounds(spark):
    """Merging states binned against DIFFERENT grids is a silent-garbage
    hazard — the merge must fail loudly, not sum incompatible counts."""
    import pytest
    from operator_families.functions.sketch import (
        grid_quantile_merge,
        grid_quantile_sketch,
    )

    a = grid_quantile_sketch(
        spark.createDataFrame([Row(g="g", v=float(i)) for i in range(10)]),
        "v", ["g"],
    )
    b = grid_quantile_sketch(
        spark.createDataFrame([Row(g="g", v=float(i)) for i in range(5, 50)]),
        "v", ["g"],
    )
    with pytest.raises(Exception, match="distinct \\(lo, hi\\)"):
        grid_quantile_merge(a.union(b), ["g"]).collect()


def test_plan_audio_chunks_windows(spark):
    from operator_families.functions.multimodal import (
        plan_audio_chunks,
    )

    df = spark.createDataFrame(
        [Row(doc_id=0, duration_ms=70_000), Row(doc_id=1, duration_ms=400)]
    )
    out = {}
    for r in plan_audio_chunks(df).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start_ms"], r["end_ms"])
        )
    assert out[0] == [(0, 0, 30000), (1, 25000, 55000), (2, 50000, 70000)]
    assert out[1] == [(0, 0, 400)]  # short clip: one clamped chunk


def test_shard_assignment_stable_and_balanced(spark):
    from operator_families.functions.corpus import (
        assign_shards,
        shard_stats,
    )

    docs = _docs(spark, [f"word{i} text here" for i in range(200)])
    a1 = {r["doc_id"]: r["shard"] for r in assign_shards(docs, 8).collect()}
    a2 = {
        r["doc_id"]: r["shard"]
        for r in assign_shards(docs.repartition(5), 8).collect()
    }
    assert a1 == a2  # partitioning-invariant
    assert set(a1.values()) == set(range(8))
    stats = shard_stats(docs, 8).collect()
    assert sum(r["n_docs"] for r in stats) == 200
    assert abs(sum(r["token_share"] for r in stats) - 1.0) < 1e-6


def test_canonical_url_and_blocklist(spark):
    from operator_families.functions import web

    df = spark.createDataFrame(
        [
            Row(doc_id=0, url="https://Ex.COM/a?utm_source=t&q=2#frag"),
            Row(doc_id=1, url="https://ex.com/a?q=2"),
            Row(doc_id=2, url="https://ex.com/a/"),
            Row(doc_id=3, url="https://ex.com/a"),
            Row(doc_id=4, url="https://bad.org/x"),
            Row(doc_id=5, url="nonsense"),
            # param-boundary anchor: 'ref=' inside another param name must
            # NOT be stripped (unanchored regex falsely merged these two)
            Row(doc_id=6, url="https://ex.com/p?href=AAA"),
            Row(doc_id=7, url="https://ex.com/p?href=BBB"),
            # mid-query tracking param: strip must not leave '&&' residue
            Row(doc_id=8, url="https://ex.com/p?a=1&utm_x=2&b=3"),
            Row(doc_id=9, url="https://ex.com/p?a=1&b=3"),
            Row(doc_id=10, url="https://ex.com/p?autm_x=1"),
        ]
    )
    canon = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", web.canonical_url(F.col("url")).alias("c")
        ).collect()
    }
    assert canon[0] == "https://ex.com/a?q=2" == canon[1]
    assert canon[2] == "https://ex.com/a" == canon[3]
    assert canon[5] is None
    assert canon[6] == "https://ex.com/p?href=AAA"
    assert canon[7] == "https://ex.com/p?href=BBB"
    assert canon[6] != canon[7]  # distinct pages stay distinct
    assert canon[8] == "https://ex.com/p?a=1&b=3" == canon[9]
    assert canon[10] == "https://ex.com/p?autm_x=1"

    groups = {
        r["canonical_url"]: (r["keeper_id"], r["n_copies"])
        for r in web.dedup_urls(df).collect()
    }
    assert groups["https://ex.com/a?q=2"] == (0, 2)
    assert groups["https://ex.com/a"] == (2, 2)

    blocked = spark.createDataFrame([("bad.org",)], ["domain"])
    kept = sorted(
        r["doc_id"] for r in web.filter_blocklist(df, blocked).collect()
    )
    assert kept == [0, 1, 2, 3, 5, 6, 7, 8, 9, 10]  # bad.org dropped; non-URL survives


def test_stats_moments_zscore_corr_ols(spark):
    import math

    from operator_families.functions import stats

    rows = [Row(g="a", x=float(i), y=2.0 * i + 1) for i in range(10)] + [
        Row(g="b", x=5.0, y=1.0) for _ in range(3)
    ]
    df = spark.createDataFrame(rows)
    m = {r["g"]: r for r in stats.group_moments(df, "x", ["g"]).collect()}
    assert m["a"]["mean"] == 4.5
    assert abs(m["a"]["std"] - math.sqrt(sum((i - 4.5) ** 2 for i in range(10)) / 9)) < 1e-12
    assert m["b"]["std"] == 0.0  # constant group clamps to zero variance

    z = stats.zscore(df, "x", ["g"]).filter(F.col("g") == "b").collect()
    assert all(r["z"] is None for r in z)  # zero variance -> NULL

    c = {r["g"]: r["r"] for r in stats.pearson_corr(df, "x", "y", ["g"]).collect()}
    assert abs(c["a"] - 1.0) < 1e-12  # perfectly linear
    assert c["b"] is None

    pts = spark.createDataFrame(
        [Row(g="a", x=i, y=3 * i + 7) for i in range(5)]
    )
    fit = stats.ols_fit(pts, "x", "y", ["g"]).collect()[0]
    assert abs(fit["slope"] - 3.0) < 1e-12
    assert abs(fit["intercept"] - 7.0) < 1e-12


def test_sliding_distinct_kmv_exact_below_k(spark):
    """Below k distinct values the sliding estimate is EXACT — check
    against a brute-force trailing distinct count."""
    import datetime as dt

    from operator_families.functions.sketch import (
        sliding_distinct_kmv,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for d in range(10):
        for u in range(d + 1):  # day d sees users 0..d
            rows.append(Row(ts=t0 + dt.timedelta(days=d), user_id=u))
    df = spark.createDataFrame(rows)
    out = {
        r["day"].isoformat(): r["distinct_estimate"]
        for r in sliding_distinct_kmv(df, "ts", "user_id", window_days=3).collect()
    }
    # trailing 3 days ending day d covers users 0..d -> d+1 distinct
    assert out["2024-01-01"] == 1.0
    assert out["2024-01-05"] == 5.0
    assert out["2024-01-10"] == 10.0


def test_bloom_no_false_negatives_and_merge(spark):
    from operator_families.functions.sketch import (
        bloom_build,
        bloom_probe,
    )

    members = spark.createDataFrame([Row(v=i) for i in range(100)])
    others = spark.createDataFrame([Row(v=i) for i in range(100, 400)])
    state = bloom_build(members, "v")
    probed = {r["v"]: r["maybe_member"] for r in bloom_probe(
        members.union(others), state, "v"
    ).collect()}
    assert all(probed[i] for i in range(100))  # no false negatives
    fp = sum(1 for i in range(100, 400) if probed[i])
    assert fp < 30  # m=8192,k=3,n=100 -> fp rate well under 10%

    # union-merge == direct build
    s1 = bloom_build(members.filter(F.col("v") < 50), "v")
    s2 = bloom_build(members.filter(F.col("v") >= 50), "v")
    merged = (
        s1.union(s2)
        .select(F.explode("bloom").alias("p"))
        .distinct()
        .agg(F.array_sort(F.collect_list("p")).alias("bloom"))
    )
    assert merged.collect()[0]["bloom"] == state.collect()[0]["bloom"]


def test_prefix_filter_equals_full_inverted_index(spark):
    """PPJoin prefix filtering loses no pairs: at the same threshold it
    returns exactly the full inverted-index Jaccard pair set."""
    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "the quick brown fox jumps over the lazy dog again and again today",
        "a completely different sentence with other words entirely here",
        "a completely different sentence with other words entirely here too",
        "one more unrelated document about spark and parquet files",
    ]
    df = _docs(spark, texts)
    full = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.6).collect()
    }
    pref = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.prefix_filter_pairs(df, threshold=(3, 5)).collect()
    }
    assert pref == full and len(pref) >= 2


def test_hard_negatives_label_mismatch_only(spark):
    from operator_families.functions.simsearch import (
        hard_negatives,
    )

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label=0),
        Row(vec_id=1, embedding=[0.99, 0.1], label=0),   # same label: excluded
        Row(vec_id=2, embedding=[0.9, 0.2], label=1),    # nearest negative
        Row(vec_id=3, embedding=[0.0, 1.0], label=1),
    ]
    df = spark.createDataFrame(rows)
    out = hard_negatives(df, [0], k=2).collect()
    assert [r["neighbor_id"] for r in out] == [2, 3]
    assert all(r["neighbor_label"] != 0 for r in out)


def test_novelty_first_doc_wins(spark):
    from operator_families.functions.text import novelty_scores

    docs = _docs(
        spark,
        [
            "alpha beta gamma delta",          # all novel
            "alpha beta gamma delta",          # exact copy: zero novel
            "alpha beta gamma epsilon zeta",   # partially novel
        ],
    )
    out = {r["doc_id"]: r for r in novelty_scores(docs).collect()}
    assert out[0]["novelty"] == 1.0
    assert out[1]["novelty"] == 0.0
    assert 0.0 < out[2]["novelty"] < 1.0


def test_zorder_key_interleaves_and_localizes(spark):
    from operator_families.functions.layout import zorder_key

    df = spark.createDataFrame(
        [Row(x=x, y=y) for x in range(4) for y in range(4)]
    )
    out = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")).collect()
    }
    # known Morton codes for 2-bit domains
    assert out[(0, 0)] == 0 and out[(1, 0)] == 1
    assert out[(0, 1)] == 2 and out[(1, 1)] == 3
    assert out[(2, 2)] == 12 and out[(3, 3)] == 15
    # locality: all keys for x<2,y<2 precede all keys for x>=2,y>=2
    assert max(out[(x, y)] for x in range(2) for y in range(2)) < min(
        out[(x, y)] for x in range(2, 4) for y in range(2, 4)
    )


def test_leakproof_split_group_atomicity(spark):
    from operator_families.functions.corpus import (
        leakproof_split,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, grp=f"g{i % 23}") for i in range(230)]
    )
    out = leakproof_split(docs, "grp").collect()
    sides = {}
    for r in out:
        sides.setdefault(r["grp"], set()).add(r["split"])
    assert all(len(s) == 1 for s in sides.values())  # no group straddles
    assert {"train", "heldout"} == {r["split"] for r in out}
    # nested rates: heldout at 1/8 is a subset of heldout at 1/4
    h4 = {r["grp"] for r in leakproof_split(docs, "grp", (1, 4)).collect()
          if r["split"] == "heldout"}
    h8 = {r["grp"] for r in leakproof_split(docs, "grp", (1, 8)).collect()
          if r["split"] == "heldout"}
    assert h8 <= h4


def test_table_profile_and_rules(spark):
    from operator_families.functions.profile import (
        check_rules,
        table_profile,
    )

    df = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v=None), Row(k=2, v="b")]
    )
    prof = {r["column"]: r for r in table_profile(df, ["k", "v"]).collect()}
    assert prof["k"]["n_rows"] == 3 and prof["k"]["n_nulls"] == 0
    assert prof["k"]["n_distinct"] == 2
    assert prof["v"]["n_nulls"] == 1 and prof["v"]["n_distinct"] == 2

    rules = check_rules(
        table_profile(df, ["k", "v"]),
        {"k": {"not_null": True, "unique": True}, "v": {"min_distinct": 2}},
    ).collect()
    got = {(r["column"], r["rule"]): r["passed"] for r in rules}
    assert got[("k", "not_null")] is True
    assert got[("k", "unique")] is False  # k=2 duplicated
    assert got[("v", "min_distinct")] is True

    # empty / unrecognized rules: empty typed frame, not an IndexError
    empty = check_rules(table_profile(df, ["k"]), {})
    assert empty.columns == ["column", "rule", "passed"]
    assert empty.count() == 0
    assert check_rules(
        table_profile(df, ["k"]), {"k": {"bogus_rule": 1}}
    ).count() == 0


def test_fit_quality_weights_matches_numpy_ridge(spark):
    """The distributed sufficient-statistics fit equals a local numpy
    ridge solve on the same design matrix, and the trained head separates
    an obviously-labeled corpus."""
    import numpy as np
    from operator_families.functions.text import (
        STOPWORDS,
        apply_quality_weights,
        fit_quality_weights,
    )

    prose = "the cat and the dog sat in a warm house of wood and stone"
    noise = "@@@ ### $$$ %% !!! ??? ** ++ // \\\\ ^^ ~~ || &&"
    rows = [(i, prose + f" extra{i}", 1) for i in range(40)] + [
        (40 + i, noise + f" x{i}!", 0) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    got = fit_quality_weights(df, "label")

    # local mirror of the four features (simple ASCII rows -> whitespace
    # split is the engine tokenization)
    def feats(t):
        toks = t.split()
        n, L = len(toks), len(t)
        a = sum(1 for w in toks if w in STOPWORDS) / n
        b = min(n, 200) / 200
        tl = sum(len(w) for w in toks)
        c = min(tl, 8 * n) / (8 * n)
        p = sum(1 for ch in t if not (ch.isalnum() or ch == "_" or ch.isspace())) / L
        return [1.0, a, b, c, p]

    X = np.array([feats(t) for _, t, _ in rows])
    y = np.array([lab for _, _, lab in rows], dtype=float)
    lam = np.diag([0.0, 1e-6, 1e-6, 1e-6, 1e-6])
    w_ref = np.linalg.solve(X.T @ X + lam, X.T @ y)
    w_got = np.array(
        [got["intercept"], got["stopword_ratio"], got["length_saturation"],
         got["token_len_saturation"], got["punct_ratio"]]
    )
    assert np.allclose(w_got, w_ref, rtol=1e-8, atol=1e-8), (w_got, w_ref)

    scored = {
        r["doc_id"]: r["keep"]
        for r in apply_quality_weights(df, got).collect()
    }
    assert all(scored[i] for i in range(40))           # prose kept
    assert not any(scored[40 + i] for i in range(40))  # noise dropped


def test_fit_quality_weights_singular_raises(spark):
    import pytest
    from operator_families.functions.text import (
        fit_quality_weights,
    )

    # empty text -> all-zero features; with ridge=0 the Gram matrix is
    # rank-1 (intercept only) and the solve must fail loudly
    df = spark.createDataFrame(
        [(0, "", 1), (1, "", 0)], "doc_id long, text string, label int"
    )
    with pytest.raises(ValueError, match="singular"):
        fit_quality_weights(df, "label", ridge=0.0)


def test_kmv_set_ops_estimates_overlap(spark):
    """Union/intersection/Jaccard estimates land near ground truth on two
    overlapping id sets, are exact below k, and depend only on the
    sketches (not the raw data)."""
    from operator_families.functions.sketch import (
        kmv_set_ops,
        kmv_sketch,
    )

    a = spark.createDataFrame([(i,) for i in range(2000)], "v bigint")
    b = spark.createDataFrame([(i,) for i in range(1000, 4000)], "v bigint")
    ska, skb = kmv_sketch(a, [], "v", k=256), kmv_sketch(b, [], "v", k=256)
    row = kmv_set_ops(ska, skb, k=256).collect()[0]
    # truth: union 4000, intersection 1000, jaccard 0.25
    assert abs(row["union_estimate"] - 4000) / 4000 < 0.25
    assert abs(row["intersection_estimate"] - 1000) / 1000 < 0.45
    assert abs(row["jaccard_estimate"] - 0.25) < 0.12

    # below k on both sides: everything exact
    sa = spark.createDataFrame([(i,) for i in range(10)], "v bigint")
    sb = spark.createDataFrame([(i,) for i in range(5, 15)], "v bigint")
    r2 = kmv_set_ops(
        kmv_sketch(sa, [], "v"), kmv_sketch(sb, [], "v")
    ).collect()[0]
    assert r2["union_estimate"] == 15.0
    assert r2["intersection_estimate"] == 5.0
    assert abs(r2["jaccard_estimate"] - 5 / 15) < 1e-3

    # disjoint sets: zero intersection
    sc = spark.createDataFrame([(i + 10_000,) for i in range(10)], "v bigint")
    r3 = kmv_set_ops(
        kmv_sketch(sa, [], "v"), kmv_sketch(sc, [], "v")
    ).collect()[0]
    assert r3["intersection_estimate"] == 0.0 and r3["jaccard_estimate"] == 0.0


def test_remove_repeated_spans_semantics(spark):
    """Positions covered by any shared n-gram are deleted (overlapping
    occurrences union, not double-delete); short and unique docs pass
    through; a fully-templated doc empties out."""
    from operator_families.functions.text import (
        remove_repeated_spans,
    )

    lic = "licensed under the apache license version two"
    docs = spark.createDataFrame(
        [
            (0, lic + " alpha beta gamma"),
            (1, lic + " delta epsilon"),
            (2, "totally unique words nobody else wrote here"),
            (3, "tiny doc"),            # < n tokens: untouched
            (4, lic),                   # nothing but the template
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in remove_repeated_spans(docs, n=5, min_docs=2).collect()
    }
    # the 7-token license prefix is covered by its three 5-gram
    # occurrences in >= 2 docs; the unique tails survive intact
    assert got[0] == ("alpha beta gamma", 10, 7)
    assert got[1] == ("delta epsilon", 9, 7)
    assert got[2] == (
        "totally unique words nobody else wrote here", 7, 0
    )
    assert got[3] == ("tiny doc", 2, 0)
    assert got[4] == ("", 7, 7)


def test_quantile_bucketize_semantics(spark):
    """Edges are exact quantiles; boundary values go UP; NULLs get NULL
    buckets; grouped mode bins against each group's own distribution."""
    from operator_families.functions.stats import (
        quantile_bucketize,
    )

    rows = [(i, float(i)) for i in range(1, 9)] + [(9, None)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    got = {
        r["event_id"]: r["bucket"]
        for r in quantile_bucketize(df, "value", n_buckets=4).collect()
    }
    # values 1..8: edges p25=2.75, p50=4.5, p75=6.25
    assert [got[i] for i in range(1, 9)] == [0, 0, 1, 1, 2, 2, 3, 3]
    assert got[9] is None

    # grouped: each segment bins on its own quartiles
    g = spark.createDataFrame(
        [("a", i, float(i)) for i in range(1, 5)]
        + [("b", 10 + i, float(100 * i)) for i in range(1, 5)],
        "g string, event_id long, value double",
    )
    gb = {
        (r["g"], r["event_id"]): r["bucket"]
        for r in quantile_bucketize(
            g, "value", n_buckets=2, group_cols=["g"]
        ).collect()
    }
    # per-group median splits each segment in half regardless of scale
    assert gb[("a", 1)] == 0 and gb[("a", 4)] == 1
    assert gb[("b", 11)] == 0 and gb[("b", 14)] == 1


def test_mixture_plan_temperature(spark):
    """alpha spans natural mix (1.0, all rates 1) to equalized (0.0,
    original behavior); intermediate alpha tempers monotonically; the
    realized token mass under the rates is proportional to n^alpha."""
    from operator_families.functions.corpus import (
        mixture_plan,
    )

    docs = spark.createDataFrame(
        [("big", i, "w " * 100) for i in range(64)]
        + [("small", 1000 + i, "w " * 100) for i in range(4)],
        "source string, doc_id long, text string",
    )

    def rates(alpha):
        return {
            r["source"]: r["sample_rate"]
            for r in mixture_plan(docs, alpha=alpha).collect()
        }

    r0, rh, r1 = rates(0.0), rates(0.5), rates(1.0)
    assert r0 == {"big": 0.0625, "small": 1.0}      # equalize: 4/64
    assert rh == {"big": 0.25, "small": 1.0}        # sqrt(4/64)
    assert r1 == {"big": 1.0, "small": 1.0}         # natural
    # realized mass big/small = (n_big * rate) / (n_small * rate)
    # = (64*0.25)/(4*1) = 4 = (64/4)^alpha for alpha=0.5
    assert abs((64 * rh["big"]) / (4 * rh["small"]) - (64 / 4) ** 0.5) < 1e-9


def test_tfidf_top_terms_semantics(spark):
    """Doc-unique terms outrank corpus-wide ones at equal tf; higher tf
    outranks within equal df; rank is a total order with term tiebreak."""
    from operator_families.functions.search import (
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [
            (0, "common rare rare"),
            (1, "common common other"),
            (2, "common other zed"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"], r["score"])
        for r in tfidf_top_terms(docs, k=2).collect()
    }
    # doc 0: 'rare' tf=2 df=1 -> 2*4/2 = 4.0 beats 'common' tf=1 df=3 -> 1.0
    assert got[(0, 1)] == ("rare", 2, 1, 4.0)
    assert got[(0, 2)] == ("common", 1, 3, 1.0)
    # doc 1: 'common' tf=2 df=3 -> 2.0 beats 'other' tf=1 df=2 -> 4/3
    assert got[(1, 1)] == ("common", 2, 3, 2.0)
    assert got[(1, 2)][0] == "other"
    # doc 2: 'zed' df=1 -> 2.0, 'other' df=2 -> 1.333333; common 1.0 cut at k=2
    assert got[(2, 1)] == ("zed", 1, 1, 2.0)
    assert got[(2, 2)][0] == "other"


def test_kfold_assign_group_integrity(spark):
    """Every group lands in exactly one fold, folds cover 0..k-1-ish
    ranges, assignment is partitioning-invariant, and fold 0 equals the
    groups leakproof_split carves out at rate (1, k) under the same
    salt semantics (interval-partition consistency)."""
    from operator_families.functions.corpus import (
        kfold_assign,
    )

    docs = spark.createDataFrame(
        [(i, f"g{i % 37}") for i in range(300)], "doc_id long, grp string"
    )
    out = kfold_assign(docs, "grp", k=5).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["grp"], set()).add(r["fold"])
    assert all(len(folds) == 1 for folds in by_group.values())
    all_folds = {r["fold"] for r in out}
    assert all_folds <= set(range(5)) and len(all_folds) >= 3

    again = kfold_assign(docs.repartition(7), "grp", k=5).collect()
    assert {(r["doc_id"], r["fold"]) for r in again} == {
        (r["doc_id"], r["fold"]) for r in out
    }


def test_sliding_distinct_sketch_within_kmv_error_of_exact(spark):
    """The trailing-window KMV estimate stays inside the KMV error bound
    of the EXACT twin on every day (k=64 -> ~12.6% relative sigma; 3
    sigma as the test bound), over the same day domain."""
    import datetime as dt

    from operator_families.functions.sketch import (
        sliding_distinct_exact,
        sliding_distinct_kmv,
    )

    t0 = dt.datetime(2026, 5, 1)
    rows = [
        (t0 + dt.timedelta(days=d, minutes=u), (d * 131 + u * 7) % 900)
        for d in range(15)
        for u in range(300)
    ]
    ev = spark.createDataFrame(rows, "ts timestamp, user_id bigint")
    exact = {
        r["day"]: r["n_distinct"]
        for r in sliding_distinct_exact(ev, "ts", "user_id").collect()
    }
    est = {
        r["day"]: r["distinct_estimate"]
        for r in sliding_distinct_kmv(ev, "ts", "user_id", k=64).collect()
    }
    assert set(exact) == set(est)  # identical day domain
    for day, n in exact.items():
        assert abs(est[day] - n) <= max(3 * 0.126 * n, 1), (day, est[day], n)


def test_cm_sketch_one_sided_error_and_merge(spark):
    """Count-Min estimates NEVER undercount (the one-sided guarantee),
    match exact counts when the table is collision-light, and states
    over disjoint slices merge by summing to the whole-corpus state."""
    from pyspark.sql import functions as SF
    from operator_families.functions.sketch import (
        cm_build,
        cm_query,
    )

    # zipf-ish: value v appears 200//(v+1) times
    rows = [(v,) for v in range(50) for _ in range(200 // (v + 1))]
    df = spark.createDataFrame(rows, "v bigint")
    exact = {r["v"]: r["n"] for r in df.groupBy("v").count()
             .withColumnRenamed("count", "n").collect()}
    state = cm_build(df, "v", width=512, depth=4)
    items = df.select(SF.col("v").alias("value")).distinct()
    est = {
        r["value"]: r["est"]
        for r in cm_query(state, items, width=512, depth=4).collect()
    }
    for v, n in exact.items():
        assert est[v] >= n, (v, est[v], n)          # never undercounts
        assert est[v] <= n + 50, (v, est[v], n)     # collision-bounded
    # width 512 >> 50 distinct values: most estimates exact
    assert sum(1 for v in exact if est[v] == exact[v]) >= 45

    # disjoint-slice states sum-merge to the direct state
    a = cm_build(df.filter("v % 2 = 0"), "v", width=512, depth=4)
    b = cm_build(df.filter("v % 2 = 1"), "v", width=512, depth=4)
    merged = (
        a.unionByName(b)
        .groupBy("row", "bucket")
        .agg(SF.sum("c").alias("c"))
    )
    direct = {(r["row"], r["bucket"]): r["c"] for r in state.collect()}
    got = {(r["row"], r["bucket"]): r["c"] for r in merged.collect()}
    assert got == direct


def test_mixture_plan_rejects_out_of_range_alpha(spark):
    """alpha > 1 flips the tempering exponent negative (rates above 1.0
    — invalid Bernoulli input); alpha < 0 over-flattens.  Both must fail
    loudly at plan-build time, not hand bad rates downstream."""
    import pytest

    from operator_families.functions.corpus import mixture_plan

    docs = spark.createDataFrame(
        [("a", "x y z"), ("b", "x")], ["source", "text"]
    )
    for bad in (-0.1, 1.5, 2.0):
        with pytest.raises(ValueError, match="alpha"):
            mixture_plan(docs, alpha=bad)
    # boundary values are legal
    for ok in (0.0, 1.0):
        assert mixture_plan(docs, alpha=ok).count() == 2


def test_kmv_set_ops_rejects_oversized_sketch(spark):
    """A sketch built with larger k than the set-op's k argument would
    silently bias the union estimate — the guard must abort instead."""
    import pytest

    from operator_families.functions.sketch import (
        kmv_set_ops,
        kmv_sketch,
    )

    ids = spark.createDataFrame([(i,) for i in range(500)], ["user_id"])
    small = kmv_sketch(ids, [], "user_id", k=16)
    big = kmv_sketch(ids, [], "user_id", k=64)
    # consistent k: fine
    assert kmv_set_ops(small, small, k=16).count() == 1
    # sketch carries 64 hashes but k=16: loud failure, either side
    for a, b in ((big, small), (small, big)):
        with pytest.raises(Exception, match="kmv_set_ops"):
            kmv_set_ops(a, b, k=16).collect()


def test_ewma_general_alpha_bit_exact(spark):
    """stats.ewma replays the documented IEEE chain s*(1-a) + v*a
    BIT-IDENTICALLY for dyadic and non-dyadic alpha (Python floats are
    IEEE doubles executing the same op sequence), delegates alpha=0.5 to
    the exact-halving chain, and validates alpha."""
    import datetime as dt

    import pytest

    from operator_families.functions.stats import (
        ewma,
        ewma_halving,
    )

    t0 = dt.datetime(2026, 3, 1, 8, 0)
    rows = [
        (1, i, t0 + dt.timedelta(minutes=i), v)
        for i, v in enumerate([8.0, 4.0, 2.0, 7.3, 0.1, 11.0, 5.5])
    ] + [(2, 100, t0, 3.25), (2, 101, t0 + dt.timedelta(minutes=1), None)]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )

    for alpha in (0.25, 0.3, 1.0):
        got = {
            r.event_id: r.ewma for r in ewma(df, alpha=alpha).collect()
        }
        # pure-Python replay of the exact same op sequence
        oma = 1.0 - alpha
        s = None
        expect = {}
        for uid, eid, _, v in rows:
            if uid != 1 or v is None:
                continue
            s = v if s is None else s * oma + v * alpha
            expect[eid] = s
        for eid, want in expect.items():
            assert got[eid] == want, (alpha, eid)  # bit-exact, no approx
        assert got[100] == 3.25 and 101 not in got

    # alpha=0.5 is the halving chain, token for token
    a = sorted(ewma(df, alpha=0.5).collect(), key=lambda r: r.event_id)
    b = sorted(ewma_halving(df).collect(), key=lambda r: r.event_id)
    assert [(r.event_id, r.ewma) for r in a] == [
        (r.event_id, r.ewma) for r in b
    ]

    for bad in (0.0, -0.5, 1.5):
        with pytest.raises(ValueError, match="alpha"):
            ewma(df, alpha=bad)


# ---------------------------------------------------------------------------
# BFS hop distance (functions/graph.py::bfs_hops)
# ---------------------------------------------------------------------------
def test_bfs_hops_chain_and_bound(spark):
    from operator_families.functions.graph import bfs_hops

    # 0 -> 1 -> 2 -> 3 -> 4 chain plus a shortcut 0 -> 3
    edges = spark.createDataFrame(
        [Row(src=0, dst=1), Row(src=1, dst=2), Row(src=2, dst=3),
         Row(src=3, dst=4), Row(src=0, dst=3)]
    )
    seeds = spark.createDataFrame([Row(node=0)])
    out = {r.node: r.hop for r in bfs_hops(edges, seeds, max_hops=2).collect()}
    # shortcut wins for 3; node 4 is at hop 2 via the shortcut; max_hops
    # bound respected (nothing beyond hop 2)
    assert out == {0: 0, 1: 1, 3: 1, 2: 2, 4: 2}


def test_bfs_hops_disconnected_and_cycle(spark):
    from operator_families.functions.graph import bfs_hops

    edges = spark.createDataFrame(
        [Row(src=0, dst=1), Row(src=1, dst=0), Row(src=5, dst=6)]
    )
    seeds = spark.createDataFrame([Row(node=0)])
    out = {r.node: r.hop for r in bfs_hops(edges, seeds, max_hops=4).collect()}
    # cycle terminates (settled set blocks re-expansion); 5/6 unreachable
    assert out == {0: 0, 1: 1}


# ---------------------------------------------------------------------------
# Edit-distance dictionary join (functions/fuzzy.py)
# ---------------------------------------------------------------------------
def test_edit_distance_join_bounds_and_passthrough(spark):
    from operator_families.functions.fuzzy import (
        edit_distance_join,
    )

    toks = spark.createDataFrame(
        [Row(token="cat", n=7), Row(token="cart", n=2), Row(token="dog", n=1)]
    )
    d = spark.createDataFrame([Row(word="cat"), Row(word="carts")])
    out = edit_distance_join(toks, d, max_dist=1).collect()
    got = {(r.token, r.match): (r.dist, r.n) for r in out}
    # cat==cat (0); cart~cat (1 deletion); cart~carts (1 insertion);
    # dog matches nothing; extra column n passes through
    assert got == {
        ("cat", "cat"): (0, 7),
        ("cart", "cat"): (1, 2),
        ("cart", "carts"): (1, 2),
    }


def test_edit_distance_join_length_band_is_complete(spark):
    from operator_families.functions.fuzzy import (
        edit_distance_join,
    )

    # a word 2 shorter and a word 2 longer must still be candidates at
    # max_dist=2 (the banding must not prune true matches)
    toks = spark.createDataFrame([Row(token="abcd")])
    d = spark.createDataFrame([Row(word="ab"), Row(word="abcdef")])
    got = {(r.match, r.dist) for r in edit_distance_join(toks, d, 2).collect()}
    assert got == {("ab", 2), ("abcdef", 2)}


def test_remove_repeated_spans_null_text_survives_cap(spark):
    from operator_families.functions.text import (
        remove_repeated_spans,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="x y z"), Row(doc_id=2, text=None)]
    )
    out = {r.doc_id: r for r in remove_repeated_spans(
        docs, n=2, min_docs=2, max_tokens=10
    ).collect()}
    # NULL text mirrors the uncapped ("", 0, 0) row instead of vanishing
    assert 2 in out and out[2].quarantined is False
    assert out[2].clean_text == "" and out[2].n_tokens == 0


def _png_with_filter(f, w, h, ch, color_type):
    """Hand-encode a PNG using scanline filter ``f`` so the decoder's
    reconstruction of every predictor (None/Sub/Up/Average/Paeth) is
    pinned — the gate's encoder only emits filter 0."""
    import struct
    import zlib

    import numpy as np

    px = np.array(
        [(i * 37 + 11) % 256 for i in range(w * h * ch)], dtype=np.uint8
    ).reshape(h, w * ch)
    rows = bytearray()
    prev = np.zeros(w * ch, dtype=np.uint8)
    for y in range(h):
        row = px[y].astype(int)
        rows.append(f)
        for x in range(w * ch):
            a = int(row[x - ch]) if x >= ch else 0
            b = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            if f == 0:
                v = row[x]
            elif f == 1:
                v = row[x] - a
            elif f == 2:
                v = row[x] - b
            elif f == 3:
                v = row[x] - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = row[x] - pred
            rows.append(v & 0xFF)
        prev = px[y]

    def chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(rows)))
        + chunk(b"IEND", b"")
    ), px


def test_png_decode_all_filters_and_color_types():
    from operator_families.functions.multimodal import (
        _png_decode_pixels,
        png_encode_rgb,
    )

    # every scanline predictor reconstructs bit-exactly (RGB)
    for f in range(5):
        blob, px = _png_with_filter(f, 5, 4, 3, color_type=2)
        got = _png_decode_pixels(blob)
        assert got is not None, f
        w, h, ch, arr = got
        assert (w, h, ch) == (5, 4, 3)
        assert (arr.reshape(h, w * ch) == px).all(), f

    # grayscale and RGBA channel layouts
    blob, px = _png_with_filter(4, 6, 3, 1, color_type=0)
    w, h, ch, arr = _png_decode_pixels(blob)
    assert ch == 1 and (arr.reshape(3, 6) == px).all()
    blob, px = _png_with_filter(1, 4, 4, 4, color_type=6)
    w, h, ch, arr = _png_decode_pixels(blob)
    assert ch == 4 and (arr.reshape(4, 16) == px).all()

    # quarantine contract: truncation / junk / bad zlib never raise
    good = png_encode_rgb(7, 9, 5)
    assert _png_decode_pixels(good) is not None
    assert _png_decode_pixels(good[:10]) is None
    assert _png_decode_pixels(b"not a png") is None
    corrupt_idat = bytearray(good)
    corrupt_idat[40] ^= 0xFF
    assert _png_decode_pixels(bytes(corrupt_idat)) is None

    # decompression-bomb quarantine: (a) IDAT inflating far past the
    # declared 2x2 dimensions is rejected by the bounded inflate without
    # materializing the payload; (b) a header DECLARING absurd
    # dimensions is rejected before any allocation
    import struct
    import zlib as _z

    def _chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", _z.crc32(t + d) & 0xFFFFFFFF)
        )

    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", _z.compress(b"\x00" * (256 * 1024 * 1024)))
        + _chunk(b"IEND", b"")
    )
    assert _png_decode_pixels(bomb) is None
    huge_hdr = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(
            b"IHDR", struct.pack(">IIBBBBB", 2**20, 2**20, 8, 2, 0, 0, 0)
        )
        + _chunk(b"IDAT", _z.compress(b"\x00" * 16))
        + _chunk(b"IEND", b"")
    )
    assert _png_decode_pixels(huge_hdr) is None


def test_png_adam7_interlace():
    """Adam7 deinterlace: (a) interlaced == sequential pixel-for-pixel
    across odd sizes (tiny dims leave several of the seven passes
    EMPTY — zero bytes, the classic interlace bug); (b) the pass grids
    partition every pixel exactly once; (c) filters apply WITHIN a pass
    (prev-row context restarts at zero per pass); (d) truncation
    quarantines."""
    import struct
    import zlib as _z

    import numpy as np

    from operator_families.functions.multimodal import (
        _PNG_ADAM7,
        _png_decode_pixels,
        png_encode_rgb,
    )

    for doc in (0, 5, 97, 291):
        for w, h in [(1, 1), (2, 2), (3, 2), (7, 3), (8, 8), (9, 10),
                     (16, 17), (1, 9), (9, 1), (33, 21)]:
            a = _png_decode_pixels(png_encode_rgb(doc, w, h))
            b = _png_decode_pixels(
                png_encode_rgb(doc, w, h, interlace=True)
            )
            assert a is not None and b is not None, (doc, w, h)
            assert a[:3] == b[:3] == (w, h, 3)
            assert (a[3] == b[3]).all(), (doc, w, h)

    for w in range(1, 21):
        for h in range(1, 21):
            seen = np.zeros((h, w), int)
            for x0, y0, dx, dy in _PNG_ADAM7:
                seen[y0::dy, x0::dx] += 1
            assert (seen == 1).all(), (w, h)

    # hand-encode an interlaced image whose pass rows all use filter 2
    # (Up): the FIRST row of every pass must reconstruct against an
    # all-zero prior row — filter context leaking across passes breaks it
    w, h, ch = 9, 10, 3
    px = np.array(
        [(i * 37 + 11) % 256 for i in range(w * h * ch)], dtype=np.uint8
    ).reshape(h, w, ch)
    rows = bytearray()
    for x0, y0, dx, dy in _PNG_ADAM7:
        sub = px[y0::dy, x0::dx]
        prev = np.zeros(sub.shape[1] * ch, dtype=np.uint8)
        for j in range(sub.shape[0]):
            row = sub[j].reshape(-1)
            rows.append(2)
            rows.extend((row - prev) & 0xFF)
            prev = row
    def _chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", _z.crc32(t + d) & 0xFFFFFFFF)
        )
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1))
        + _chunk(b"IDAT", _z.compress(bytes(rows)))
        + _chunk(b"IEND", b"")
    )
    got = _png_decode_pixels(blob)
    assert got is not None and (got[3] == px).all()

    full = png_encode_rgb(3, 9, 7, interlace=True)
    for cut in (5, 10, 30, len(full) - 20):
        assert _png_decode_pixels(full[:cut]) is None, cut


def test_warc_record_walk():
    """ISO 28500 walk: record attribution (types, URIs, per-record
    payload sums), metadata records carry no target URI, and malformed
    archives (bad version line, clipped terminator, trailing garbage)
    quarantine rather than mis-split."""
    from operator_families.functions.web import (
        _warc_records,
        warc_encode,
    )

    for doc in (0, 3, 10):
        n = 2 + doc % 3
        recs = _warc_records(warc_encode(doc, n))
        assert recs is not None and len(recs) == n
        for j, (idx, wt, uri, clen, s, swt) in enumerate(recs):
            k = doc + j
            assert idx == j
            assert wt == ("response", "request", "metadata")[j % 3]
            assert (uri is None) == (wt == "metadata")
            assert clen == 16 + k % 23
            exp = [(doc * 7 + j * 3 + i * 5) % 256 for i in range(clen)]
            assert s == sum(exp)
            assert swt == sum((i + 1) * v for i, v in enumerate(exp))
    b = warc_encode(5, 3)
    assert _warc_records(b[:-2]) is None
    assert _warc_records(b + b"junk") is None
    assert _warc_records(b"HTTP/1.1 200 OK\r\n\r\n") is None
    assert _warc_records(b"") is None


def test_zip_entry_walk():
    """PKZIP walk: EOCD location, central-directory traversal, STORED +
    raw-DEFLATE entries, and VERIFIED (not trusted) size/CRC — the
    fixture's deliberately corrupted entry-2 CRC must read crc_ok=False;
    stdlib zipfile cross-reads the fixture bytes (two independent
    implementations of the container)."""
    import io
    import zipfile

    from operator_families.functions.multimodal import (
        _zip_entries,
        zip_encode,
    )

    for doc in (0, 1, 5, 30):
        n = 1 + doc % 5
        es = _zip_entries(zip_encode(doc, n))
        assert es is not None and len(es) == n
        for j, (idx, name, method, nb, bs, ok) in enumerate(es):
            k = doc + j
            raw = bytes(
                (doc * 11 + j * 5 + i * 3) % 256
                for i in range(20 + k % 31)
            )
            assert (idx, name) == (j, f"f{j}.txt")
            assert method == (0 if j == 0 else 8)
            assert nb == len(raw) and bs == sum(raw)
            assert ok == (j != 2)
    zf = zipfile.ZipFile(io.BytesIO(zip_encode(7, 2)))
    assert [i.filename for i in zf.infolist()] == ["f0.txt", "f1.txt"]
    assert zf.read("f1.txt") == bytes(
        (7 * 11 + 5 + i * 3) % 256 for i in range(20 + 8 % 31)
    )
    assert _zip_entries(b"PK\x03\x04junk") is None
    assert _zip_entries(zip_encode(3, 3)[:40]) is None
    assert _zip_entries(b"") is None


def test_png_pixel_stats_kernel(spark):
    from operator_families.functions.multimodal import (
        decode_png_pixel_stats,
        png_encode_rgb,
    )

    rows = [
        (1, bytearray(png_encode_rgb(1, 3, 2))),
        (2, bytearray(b"junk")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in decode_png_pixel_stats(df).collect()}
    exp = [sum((31 + p * 3 + c) % 256 for p in range(6)) for c in range(3)]
    assert got[1].decoded and (got[1].width, got[1].height) == (3, 2)
    assert [got[1].ch0_sum, got[1].ch1_sum, got[1].ch2_sum] == exp
    assert not got[2].decoded and got[2].width is None


def test_reciprocal_rank_fusion_semantics(spark):
    from operator_families.functions.search import (
        reciprocal_rank_fusion,
    )

    r1 = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id bigint, neighbor_id bigint, rank int",
    )
    r2 = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)],
        "query_id bigint, neighbor_id bigint, rank int",
    )
    out = {
        r.neighbor_id: r
        for r in reciprocal_rank_fusion([r1, r2], k_const=60, top_k=10)
        .collect()
    }
    # 11 appears in both systems -> highest fused score
    assert out[11].fused_rank == 1
    assert out[11].rrf_score == round(1 / 62 + 1 / 61, 9)
    # 13 only in system 2; its rank_0 is null, score is one term
    assert out[13].rank_0 is None and out[13].rrf_score == round(1 / 62, 9)
    # item 10: rank 1 in system 1 only
    assert out[10].rrf_score == round(1 / 61, 9)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        reciprocal_rank_fusion([])


def test_ndcg_at_k_hand_case(spark):
    import math

    from operator_families.functions.mleval import ndcg_at_k

    # ranking with rels [1, 3, 0]: dcg = 1/log2(2) + 3/log2(3) + 0
    # ideal order [3, 1, 0]: idcg = 3/log2(2) + 1/log2(3)
    df = spark.createDataFrame(
        [(1, 1, 1), (1, 2, 3), (1, 3, 0)],
        "query_id bigint, rank int, rel bigint",
    )
    row = ndcg_at_k(df, k=10).collect()[0]
    term = lambda rel, pos: round(rel / math.log2(pos + 1), 12)  # noqa: E731
    dcg = term(1, 1) + term(3, 2) + term(0, 3)
    idcg = term(3, 1) + term(1, 2) + term(0, 3)
    assert row.dcg == round(dcg, 9) and row.idcg == round(idcg, 9)
    assert row.ndcg == round(dcg / idcg, 9)
    # all-zero relevance -> NULL ndcg (idcg = 0)
    z = spark.createDataFrame(
        [(2, 1, 0), (2, 2, 0)], "query_id bigint, rank int, rel bigint"
    )
    assert ndcg_at_k(z, k=10).collect()[0].ndcg is None


def test_cohens_kappa_textbook(spark):
    from operator_families.functions.mleval import (
        cohens_kappa,
    )

    # classic 2x2: a=20 agree-yes, d=15 agree-no, b=5, c=10 (n=50)
    rows = (
        [("y", "y")] * 20 + [("n", "n")] * 15
        + [("y", "n")] * 5 + [("n", "y")] * 10
    )
    df = spark.createDataFrame(rows, "a string, b string")
    row = cohens_kappa(df, "a", "b").collect()[0]
    # po = 35/50; pe = (25*30 + 25*20)/2500 = 0.5 -> kappa = 0.4
    assert (row.n, row.n_agree) == (50, 35)
    assert row.kappa == 0.4
    # constant equal raters: pe = 1 -> NULL kappa
    const = spark.createDataFrame([("x", "x")] * 4, "a string, b string")
    assert cohens_kappa(const, "a", "b").collect()[0].kappa is None
    # disjoint label sets: empty marginal join -> pe = 0, kappa = po
    # (NOT NULL — the SUM over the empty join must coalesce to 0)
    disj = spark.createDataFrame(
        [("p", "q")] * 3 + [("r", "s")], "a string, b string"
    )
    row = cohens_kappa(disj, "a", "b").collect()[0]
    assert (row.n, row.n_agree) == (4, 0)
    assert row.kappa == 0.0


def test_winnow_fingerprint_guarantee(spark):
    """MOSS guarantee: two docs sharing a run of >= k+w-1 tokens share at
    least one fingerprint; short docs yield none."""
    from operator_families.functions.text import (
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = k+w-1
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three"),
            (2, f"{shared} four five six seven"),
            (3, "tiny doc"),          # < k tokens after winnowing window
            (4, "   "),                # empty after trim
        ],
        "doc_id bigint, text string",
    )
    fps = winnow_fingerprints(docs, k=3, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert by_doc.get(3) is None and by_doc.get(4) is None
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a fingerprint"
    # positions are within each doc's k-gram range
    assert all(r.pos >= 1 for r in fps)


def test_pmi_collocations_ranking(spark):
    import math

    from operator_families.functions.text import (
        pmi_collocations,
    )

    docs = spark.createDataFrame(
        [(f"the a the b strong glue the c {'strong glue ' * 2}",)] * 3,
        "text string",
    )
    out = pmi_collocations(docs, min_count=3, top_k=10).collect()
    assert out, "collocations expected"
    nu = sum(len(r.text.split()) for r in docs.collect())
    nb = nu - 3  # bigrams per doc = tokens - 1, three docs

    # exact pmi for the perfect collocation (strong -> glue, 3x per doc)
    sg = next(r for r in out if (r.w1, r.w2) == ("strong", "glue"))
    assert (sg.c_xy, sg.c_x, sg.c_y) == (9, 9, 9)
    exp = round(math.log((9 * nu * nu) / ((nb * 9) * 9)), 9)
    assert sg.pmi == exp

    # a frequent-but-promiscuous pair scores strictly lower: glue is
    # followed by 'the' only 1 of 3 times (both words frequent)
    gt = next(r for r in out if (r.w1, r.w2) == ("glue", "the"))
    assert gt.pmi < sg.pmi

    # result is ordered by rounded pmi desc with (w1, w2) tiebreak
    keys = [(-r.pmi, r.w1, r.w2) for r in out]
    assert keys == sorted(keys)


def test_label_vote_majority_and_ties(spark):
    from operator_families.functions.mleval import label_vote

    rows = [
        (1, 1, 1, 0),        # 2 pos vs 1 neg -> 1
        (2, 0, 0, 1),        # 2 neg vs 1 pos -> 0
        (3, 1, 0, None),     # tie -> NULL
        (4, None, None, None),  # all abstain -> NULL
        (5, None, None, 1),  # single vote wins
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, a int, b int, c int"
    )
    out = {r.doc_id: r for r in label_vote(df, ["a", "b", "c"]).collect()}
    assert out[1].label == 1 and out[1].n_votes == 3
    assert out[2].label == 0
    assert out[3].label is None and out[3].n_votes == 2
    assert out[4].label is None and out[4].n_votes == 0
    assert out[5].label == 1 and out[5].n_votes == 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        label_vote(df, [])


def test_duplicate_clusters_as_graph_components(spark):
    """duplicate_clusters doubles as the connected-components primitive:
    a two-triangle + bridge + isolate-pair fixture labels exactly by
    component minimum."""
    from operator_families.functions.dedup import (
        duplicate_clusters,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (10, 11), (11, 12), (20, 21)],
        "src bigint, dst bigint",
    )
    got = {
        r.doc: r.cluster_rep
        for r in duplicate_clusters(
            edges, id_a="src", id_b="dst", max_iter=16
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_jpeg_dc_roundtrip_and_quarantine():
    from operator_families.functions.multimodal import (
        _jpeg_decode_dc,
        jpeg_encode_gray_blocks,
    )

    for doc, bw, bh in [(0, 2, 1), (5, 4, 3), (123, 3, 2), (9967, 5, 1)]:
        blob = jpeg_encode_gray_blocks(doc, bw, bh)
        dec = _jpeg_decode_dc(blob)
        assert dec is not None
        w, h, gbw, gbh, dcs = dec
        assert (w, h, gbw, gbh) == (bw * 8, bh * 8, bw, bh)
        assert dcs == [
            8 * (((doc * 17 + i * 7) % 256) - 128) for i in range(bw * bh)
        ]

    good = jpeg_encode_gray_blocks(7, 3, 2)
    assert _jpeg_decode_dc(b"not a jpeg") is None
    assert _jpeg_decode_dc(good[:20]) is None           # truncated
    assert _jpeg_decode_dc(good[:-4]) is None           # stream cut mid-scan
    progressive = bytearray(good)
    sof_at = good.index(b"\xff\xc0")
    progressive[sof_at + 1] = 0xC2                      # SOF2: progressive
    assert _jpeg_decode_dc(bytes(progressive)) is None
    sub = bytearray(good)
    # component sampling byte inside SOF0 (prec1+dims4+nc1+cid1 = offset 9)
    sub[sof_at + 4 + 7] = 0x22                          # 2x2 subsampled
    assert _jpeg_decode_dc(bytes(sub)) is None


def test_jpeg_dc_ac_skip_alignment():
    """A nonzero AC coefficient between two DC codes must be skipped
    bit-exactly: if the (run,size) skip is off by one bit, block 2's DC
    decodes wrong."""
    import struct

    from operator_families.functions.multimodal import (
        _JPEG_STD_DC_BITS,
        _JPEG_STD_DC_VALS,
        _huff_canonical,
        _jpeg_decode_dc,
    )

    dc_enc = _huff_canonical(_JPEG_STD_DC_BITS, _JPEG_STD_DC_VALS)
    # AC table with two 2-bit symbols: EOB (0x00) and run0/size3 (0x03)
    ac_bits = [0, 2] + [0] * 14
    ac_enc = _huff_canonical(ac_bits, [0x00, 0x03])

    bits = []

    def emit(code, ln):
        bits.extend(((code >> (ln - 1 - i)) & 1) for i in range(ln))

    def emit_dc(diff):
        cat = abs(diff).bit_length()
        emit(*dc_enc[cat])
        if cat:
            emit(diff if diff >= 0 else diff + (1 << cat) - 1, cat)

    emit_dc(40)            # block 1: DC = 40
    emit(*ac_enc[0x03])    # one AC coef, size 3
    emit(0b101, 3)         # its 3 raw bits
    emit(*ac_enc[0x00])    # EOB
    emit_dc(-15)           # block 2: DC = 25
    emit(*ac_enc[0x00])    # EOB

    payload = bytearray()
    acc = bits + [1] * ((8 - len(bits) % 8) % 8)
    for i in range(0, len(acc), 8):
        byte = int("".join(map(str, acc[i : i + 8])), 2)
        payload.append(byte)
        if byte == 0xFF:
            payload.append(0x00)

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    blob = (
        b"\xff\xd8"
        + seg(0xDB, bytes([0x00]) + bytes([2] * 64))    # quant scale 2
        + seg(0xC0, struct.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x11, 0]))
        + seg(
            0xC4,
            bytes([0x00]) + bytes(_JPEG_STD_DC_BITS)
            + bytes(_JPEG_STD_DC_VALS)
            + bytes([0x10]) + bytes(ac_bits) + bytes([0x00, 0x03]),
        )
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bytes(payload)
        + b"\xff\xd9"
    )
    dec = _jpeg_decode_dc(blob)
    assert dec is not None
    w, h, bw, bh, dcs = dec
    assert (w, h, bw, bh) == (16, 8, 2, 1)
    assert dcs == [80, 50]  # dequantized by q0 = 2; predictor 40 -> 25


def test_hits_units_hand_computed_and_partition_invariant(spark):
    """Two unrolled rounds on a 5-node hub/authority fixture match the
    hand-computed power iteration exactly; invariant under
    repartitioning (integer arithmetic has no accumulation order)."""
    from operator_families.functions.graph import hits_units

    nodes = spark.createDataFrame([Row(id=i) for i in range(5)])
    edges = spark.createDataFrame(
        [Row(src=s, dst=d) for s in (0, 1, 2) for d in (3, 4)]
        + [Row(src=3, dst=4)]
    )
    out = {
        r["node"]: (r["auth_units"], r["hub_units"])
        for r in hits_units(nodes, edges, iterations=2).collect()
    }
    # h0=1; a1 = {3: 3, 4: 4}; h1 = {0,1,2: 7, 3: 4}
    # a2 = {3: 21, 4: 25}; h2 = {0,1,2: 46, 3: 25}
    assert out == {
        0: (0, 46),
        1: (0, 46),
        2: (0, 46),
        3: (21, 25),
        4: (25, 0),
    }
    out2 = {
        r["node"]: (r["auth_units"], r["hub_units"])
        for r in hits_units(
            nodes.repartition(7), edges.repartition(3), iterations=2
        ).collect()
    }
    assert out2 == out


def test_degree_assortativity_star_and_cycle(spark):
    """A star is perfectly disassortative (-1); a cycle has zero degree
    variance (NULL); duplicate/reversed/self edges are canonicalized."""
    from operator_families.functions.graph import (
        degree_assortativity,
    )

    star = spark.createDataFrame(
        [Row(src=0, dst=i) for i in range(1, 5)]
        + [Row(src=3, dst=0), Row(src=2, dst=2)]  # reversed dup + self
    )
    r = degree_assortativity(star).collect()[0]
    assert r["n_edges"] == 4 and r["n_endpoints"] == 8
    assert r["assortativity"] == -1.0

    cycle = spark.createDataFrame(
        [Row(src=i, dst=(i + 1) % 4) for i in range(4)]
    )
    rc = degree_assortativity(cycle).collect()[0]
    assert rc["assortativity"] is None


def test_local_clustering_hand_computed(spark):
    """Two shared triangles + a pendant pair: per-node triangle counts
    and coefficients match the closed form; degree-1 nodes get NULL."""
    from operator_families.functions.graph import (
        local_clustering,
    )

    edges = spark.createDataFrame(
        [
            Row(src=0, dst=1),
            Row(src=1, dst=0),  # duplicate reversed
            Row(src=1, dst=2),
            Row(src=0, dst=2),
            Row(src=0, dst=3),
            Row(src=1, dst=3),
            Row(src=2, dst=2),  # self loop, dropped
            Row(src=4, dst=5),
        ]
    )
    out = {
        r["node"]: (r["degree"], r["triangles"], r["lcc"])
        for r in local_clustering(edges).collect()
    }
    assert out[0] == (3, 2, round(2 * 2 / 6, 9))
    assert out[1] == (3, 2, round(2 * 2 / 6, 9))
    assert out[2] == (2, 1, 1.0)
    assert out[3] == (2, 1, 1.0)
    assert out[4] == (1, 0, None)
    assert out[5] == (1, 0, None)


def test_k_anonymity_classes_and_flags(spark):
    """Class sizes, distinct-sensitive counts, and both flags match the
    hand-built fixture; NULL-sensitive rows still count toward size."""
    from operator_families.functions.profile import (
        k_anonymity,
    )

    rows = [Row(g="a", s=i % 2) for i in range(5)] + [
        Row(g="b", s=0),
        Row(g="b", s=0),
    ]
    out = {
        r["g"]: (
            r["class_size"],
            r["distinct_sensitive"],
            r["k_anonymous"],
            r["l_diverse"],
        )
        for r in k_anonymity(
            spark.createDataFrame(rows), ["g"], "s", k=3, l=2
        ).collect()
    }
    assert out["a"] == (5, 2, True, True)
    assert out["b"] == (2, 1, False, False)


def test_column_entropy_uniform_constant_null(spark):
    """A 2-value uniform column scores exactly 1 bit, a constant scores
    0 with NULL normalization, and NULLs are profiled separately."""
    from operator_families.functions.profile import (
        column_entropy,
    )

    df = spark.createDataFrame(
        [
            Row(u="x", c="k", z=None),
            Row(u="x", c="k", z=None),
            Row(u="y", c="k", z="only"),
            Row(u="y", c="k", z=None),
        ]
    )
    out = {
        r["column_name"]: r
        for r in column_entropy(df, ["u", "c", "z"]).collect()
    }
    assert out["u"]["entropy_bits"] == 1.0
    assert out["u"]["normalized_entropy"] == 1.0
    assert out["u"]["n_distinct"] == 2 and out["u"]["n_null"] == 0
    assert out["c"]["entropy_bits"] == 0.0
    assert out["c"]["normalized_entropy"] is None
    assert out["z"] ["n_null"] == 3 and out["z"]["n_values"] == 1
    assert out["z"]["entropy_bits"] == 0.0


def test_psi_drift_identical_periods_zero(spark):
    """Identical reference/current distributions give PSI == 0 in every
    bucket (Laplace smoothing cancels when counts and totals match)."""
    from operator_families.functions.mleval import psi_drift

    rows = [Row(v=float(i), p=per) for i in range(100) for per in (0, 1)]
    out = psi_drift(
        spark.createDataFrame(rows), "v", "p", n_buckets=5
    ).collect()
    assert len(out) == 5
    assert all(r["psi_contrib"] == 0.0 for r in out)
    assert all(r["psi_total"] == 0.0 for r in out)
    assert all(r["cnt_ref"] == 20 and r["cnt_cur"] == 20 for r in out)


def test_js_divergence_identical_and_disjoint(spark):
    """JSD is 0 bits for identical distributions and exactly 1 bit for
    disjoint supports (the log2 upper bound)."""
    from operator_families.functions.corpus import (
        js_divergence,
    )

    same = spark.createDataFrame(
        [Row(k=w, p=per) for w in ("a", "b", "c") for per in (0, 1)]
    )
    r = js_divergence(same, "k", "p").collect()[0]
    assert r["jsd_bits"] == 0.0 and r["n_keys"] == 3

    disjoint = spark.createDataFrame(
        [Row(k="a", p=0), Row(k="b", p=0), Row(k="x", p=1), Row(k="y", p=1)]
    )
    r2 = js_divergence(disjoint, "k", "p").collect()[0]
    assert r2["jsd_bits"] == 1.0 and r2["n_keys"] == 4


def test_zipf_fit_perfect_inverse_law(spark):
    """Counts exactly proportional to 1/rank fit slope -1 with r2 == 1
    (up to the 12-digit term quantization)."""
    from operator_families.functions.text import zipf_fit

    text = " ".join(["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3)
    docs = spark.createDataFrame([Row(doc_id=0, text=text)])
    r = zipf_fit(docs, top_n=10).collect()[0]
    assert r["n_terms"] == 4
    assert abs(r["slope"] + 1.0) < 1e-8
    assert abs(r["r2"] - 1.0) < 1e-8
    assert abs(r["intercept"] - __import__("math").log(12)) < 1e-8


def test_type_token_stats_hand_computed(spark):
    """'a a b c' -> 4 tokens, 3 types, ttr .75, 2 hapax, ratio .5."""
    from operator_families.functions.text import (
        type_token_stats,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a a b c"), Row(doc_id=2, text="z")]
    )
    out = {r["doc_id"]: r for r in type_token_stats(docs).collect()}
    assert (
        out[1]["n_tokens"],
        out[1]["n_types"],
        out[1]["ttr"],
        out[1]["hapax_count"],
        out[1]["hapax_ratio"],
    ) == (4, 3, 0.75, 2, 0.5)
    assert out[2]["ttr"] == 1.0


def test_term_burstiness_bursty_vs_even(spark):
    """A term concentrated in one doc scores fano 3.0; a term spread one
    per doc scores 0 (sub-Poisson regular); min_df prunes."""
    from operator_families.functions.text import (
        term_burstiness,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=0, text="x x x x y")]
        + [Row(doc_id=i, text="y") for i in (1, 2, 3)]
    )
    out = {
        r["term"]: r for r in term_burstiness(docs, min_df=1).collect()
    }
    assert out["x"]["df"] == 1 and out["x"]["fano"] == 3.0
    assert out["y"]["df"] == 4 and out["y"]["fano"] == 0.0
    assert out["y"]["mean_per_doc"] == 1.0
    out2 = {
        r["term"]: r for r in term_burstiness(docs, min_df=2).collect()
    }
    assert "x" not in out2 and "y" in out2


def test_holt_linear_matches_python_replay(spark):
    """The packed fold replays the textbook recurrence exactly (same
    IEEE op sequence as a scalar Python loop), invariant under
    repartitioning."""
    import datetime

    from operator_families.functions.stats import holt_linear

    vals = [10.0, 12.0, 14.0, 13.0, 20.0]
    rows = [
        Row(
            user_id=1,
            event_id=i,
            ts=datetime.datetime(2024, 1, 1, 0, i),
            value=v,
        )
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows).repartition(4)
    out = {
        r["event_id"]: (r["level"], r["trend"], r["forecast"])
        for r in holt_linear(df, alpha=0.3, beta=0.2).collect()
    }
    l, t = vals[0], 0.0
    assert out[0] == (l, t, l + t)
    for i, v in enumerate(vals[1:], start=1):
        ln = v * 0.3 + (l + t) * 0.7
        t = (ln - l) * 0.2 + t * 0.8
        l = ln
        assert out[i] == (l, t, l + t)


def test_fifo_allocate_clamps_and_tiebreaks(spark):
    """Budget 100 against [60, 30, 30]: full, full, partial 10; ties on
    (order, amount) produce an order-invariant output multiset."""
    from operator_families.functions.temporal import (
        fifo_allocate,
    )

    df = spark.createDataFrame(
        [
            Row(k=1, pos=1, amt=60.0, bud=100.0),
            Row(k=1, pos=2, amt=30.0, bud=100.0),
            Row(k=1, pos=3, amt=30.0, bud=100.0),
        ]
    )
    out = {
        r["pos"]: (
            r["allocated"],
            r["fully_covered"],
            r["remaining_budget"],
            r["cum_before"],
        )
        for r in fifo_allocate(df, ["k"], "pos", "amt", "bud").collect()
    }
    assert out[1] == (60.0, True, 40.0, 0.0)
    assert out[2] == (30.0, True, 10.0, 60.0)
    assert out[3] == (10.0, False, 0.0, 90.0)

    tied = spark.createDataFrame(
        [Row(k=1, pos=1, amt=40.0, bud=60.0) for _ in range(2)]
    )
    got = sorted(
        (r["cum_before"], r["allocated"])
        for r in fifo_allocate(tied, ["k"], "pos", "amt", "bud").collect()
    )
    assert got == [(0.0, 40.0), (40.0, 20.0)]


def test_png_thumbnail_pixels_samples_floor_grid(spark):
    """The 4x3 thumbnail of a formula-valued PNG equals the encode
    formula at the floor-mapped source indices; a truncated payload
    quarantines as one decoded=false row."""
    from operator_families.functions.multimodal import (
        png_encode_rgb,
        png_thumbnail_pixels,
    )

    w, h, doc = 10, 6, 7
    blob = png_encode_rgb(doc, w, h)
    df = spark.createDataFrame(
        [Row(doc_id=7, payload=bytearray(blob)),
         Row(doc_id=8, payload=bytearray(blob[:10]))]
    )
    out = png_thumbnail_pixels(df, thumb_w=4, thumb_h=3).collect()
    good = {(r["tx"], r["ty"]): (r["ch0"], r["ch1"], r["ch2"])
            for r in out if r["doc_id"] == 7}
    assert len(good) == 12
    for (tx, ty), chans in good.items():
        p = (ty * h // 3) * w + (tx * w // 4)
        assert chans == tuple((doc * 31 + p * 3 + c) % 256 for c in range(3))
    bad = [r for r in out if r["doc_id"] == 8]
    assert len(bad) == 1 and bad[0]["decoded"] is False
    assert bad[0]["tx"] is None and bad[0]["ch0"] is None


def test_entropy_rate_deterministic_vs_uniform(spark):
    """A strictly alternating chain has rate 0; a source that splits
    50/50 contributes exactly 1 bit weighted by its share."""
    import datetime as dt

    from operator_families.functions.behavior import (
        entropy_rate,
    )

    t0 = dt.datetime(2024, 1, 1)
    det = [
        Row(user_id=1, event_id=i, ts=t0 + dt.timedelta(minutes=i),
            event_type="ab"[i % 2])
        for i in range(6)
    ]
    out = entropy_rate(spark.createDataFrame(det)).collect()
    assert all(r["h_bits"] == 0.0 for r in out)
    assert all(r["entropy_rate_bits"] == 0.0 for r in out)

    # a->b, a->c equally: H(a)=1 bit; b,c are terminal-ish (single dst
    # back to a with H=0), sequences: a b a c  (transitions a->b, b->a,
    # a->c) per user pair
    mix = []
    eid = 0
    for u, seq in ((1, "abac"), (2, "acab")):
        for i, t in enumerate(seq):
            mix.append(
                Row(user_id=u, event_id=eid,
                    ts=t0 + dt.timedelta(minutes=i), event_type=t)
            )
            eid += 1
    rows = {r["src"]: r for r in entropy_rate(
        spark.createDataFrame(mix)).collect()}
    # src a: dsts b,c equally -> 1 bit; srcs b,c: always -> a, 0 bits
    assert rows["a"]["h_bits"] == 1.0 and rows["a"]["n_dst_distinct"] == 2
    assert rows["b"]["h_bits"] == 0.0 and rows["c"]["h_bits"] == 0.0
    # rate = share(a) * 1 = 4/6
    assert abs(rows["a"]["entropy_rate_bits"] - round(4 / 6, 9)) < 2e-9


def test_bh_fdr_textbook_example(spark):
    """The classic BH worked example: p = [.01, .04, .03, .005] at
    alpha=.05 -> all four significant (the suffix-min rescue of .04);
    adj_p is the running minimum of p*n/rank from the bottom."""
    from operator_families.functions.stats import bh_fdr

    df = spark.createDataFrame(
        [Row(k="a", p=0.01), Row(k="b", p=0.04),
         Row(k="c", p=0.03), Row(k="d", p=0.005)]
    )
    out = {r["k"]: r for r in bh_fdr(df, "p", ["k"], alpha=0.05).collect()}
    # ranks: d(1), a(2), c(3), b(4); raw = [.02, .02, .04, .04]
    assert [out[k]["rank"] for k in "dacb"] == [1, 2, 3, 4]
    assert out["d"]["adj_p"] == 0.02 and out["a"]["adj_p"] == 0.02
    assert out["c"]["adj_p"] == 0.04 and out["b"]["adj_p"] == 0.04
    assert all(r["significant"] for r in out.values())
    # a large p is clamped at 1 and not significant
    df2 = spark.createDataFrame([Row(k="x", p=0.99), Row(k="y", p=0.5)])
    out2 = {r["k"]: r for r in bh_fdr(df2, "p", ["k"], alpha=0.1).collect()}
    assert out2["x"]["adj_p"] == 0.99 and not out2["x"]["significant"]
    assert out2["y"]["adj_p"] == 0.99  # min(1.0, .5*2/1)=1 -> suffix min .99


def test_survivorship_pick_quality_then_id(spark):
    """Longest member wins; equal quality tie-breaks on the LOWEST id;
    member counts and ranks are per cluster."""
    from operator_families.functions.dedup import (
        survivorship_pick,
    )

    clusters = spark.createDataFrame(
        [Row(doc=1, cluster_rep=1), Row(doc=2, cluster_rep=1),
         Row(doc=3, cluster_rep=1), Row(doc=9, cluster_rep=9)]
    )
    docs = spark.createDataFrame(
        [Row(doc_id=1, n_chars=10), Row(doc_id=2, n_chars=40),
         Row(doc_id=3, n_chars=40), Row(doc_id=9, n_chars=5)]
    )
    out = {r["doc_id"]: r for r in survivorship_pick(clusters, docs).collect()}
    assert out[2]["is_canonical"] and out[2]["pick_rank"] == 1
    assert out[3]["pick_rank"] == 2 and not out[3]["is_canonical"]
    assert out[1]["pick_rank"] == 3
    assert all(out[i]["n_members"] == 3 for i in (1, 2, 3))
    assert out[9]["is_canonical"] and out[9]["n_members"] == 1


def test_woe_iv_symmetric_and_flat(spark):
    """A bucket with balanced labels under balanced totals has woe 0;
    mirrored buckets get mirrored woe; IV is the shared total."""
    from operator_families.functions.mleval import woe_iv

    rows = (
        [Row(b="hi", y=1)] * 8 + [Row(b="hi", y=0)] * 2
        + [Row(b="lo", y=1)] * 2 + [Row(b="lo", y=0)] * 8
    )
    out = {r["b"]: r for r in woe_iv(
        spark.createDataFrame(rows), "b", "y").collect()}
    import math
    # smoothed shares: hi events (8+1)/(10+2)=.75 vs nonevents .25
    assert out["hi"]["share_event"] == 0.75
    assert abs(out["hi"]["woe"] - math.log(3.0)) < 1e-9
    assert abs(out["lo"]["woe"] + math.log(3.0)) < 1e-9
    assert out["hi"]["iv_total"] == out["lo"]["iv_total"] > 0


def test_diff_in_diff_recovers_planted_effect(spark):
    """Control drifts +5, treated drifts +5 plus a +3 effect: did == 3
    exactly (decimal cell sums, fixed closing chain)."""
    from operator_families.functions.mleval import (
        diff_in_diff,
    )

    rows = []
    for t in (0, 1):
        for p in (0, 1):
            base = 10.0 + 5.0 * p + (3.0 * p if t else 0.0)
            rows += [Row(v=base + i, t=t, p=p) for i in (-1.0, 0.0, 1.0)]
    r = diff_in_diff(spark.createDataFrame(rows), "v", "t", "p").collect()[0]
    assert r["delta_control"] == 5.0
    assert r["delta_treated"] == 8.0
    assert r["did"] == 3.0
    assert r["n_c0"] == r["n_t1"] == 3


def test_propensity_match_caliper_and_att(spark):
    """Nearest in-caliper control wins with id tiebreak; out-of-caliper
    treated units stay unmatched; ATT averages matched pair diffs."""
    from operator_families.functions.mleval import (
        propensity_match,
    )

    units = spark.createDataFrame(
        [
            Row(uid=1, s=100, t=1, y=10.0),   # controls at 90 & 110: tie -> cid 2
            Row(uid=2, s=90, t=0, y=4.0),
            Row(uid=3, s=110, t=0, y=6.0),
            Row(uid=4, s=5000, t=1, y=20.0),  # nearest control 40 away
            Row(uid=5, s=5040, t=0, y=12.0),
            Row(uid=6, s=99000, t=1, y=9.0),  # nothing within caliper 100
        ]
    )
    out = {
        r["uid"]: r
        for r in propensity_match(
            units, "uid", "s", "t", "y", caliper=100
        ).collect()
    }
    assert out[1]["matched_control"] == 2 and out[1]["score_dist"] == 10
    assert out[4]["matched_control"] == 5
    assert out[6]["matched"] is False and out[6]["matched_control"] is None
    # ATT = mean of (10-4, 20-12) = 7.0
    assert all(r["att_mean"] == 7.0 for r in out.values())


def test_cuped_theta_and_imbalance_correction(spark):
    """Balanced arms with y = x + 3t: theta == 1 and both effects read
    exactly 3.  Pure x imbalance with y = x (no effect): the raw effect
    reads 2, CUPED removes all of it (rho2 == 1)."""
    from operator_families.functions.mleval import cuped

    balanced = [Row(x=float(x), y=float(x), t=0) for x in (1, 2, 3)] + [
        Row(x=float(x), y=float(x + 3), t=1) for x in (1, 2, 3)
    ]
    r = cuped(spark.createDataFrame(balanced), "x", "y", "t").collect()[0]
    assert r["theta"] == 1.0
    assert r["effect_raw"] == 3.0 and r["effect_cuped"] == 3.0
    assert abs(r["rho2"] - round(16 / 70, 9)) < 1e-9

    imbalanced = [Row(x=1.0, y=1.0, t=0), Row(x=2.0, y=2.0, t=0),
                  Row(x=3.0, y=3.0, t=1), Row(x=4.0, y=4.0, t=1)]
    r2 = cuped(spark.createDataFrame(imbalanced), "x", "y", "t").collect()[0]
    assert r2["theta"] == 1.0 and r2["rho2"] == 1.0
    assert r2["effect_raw"] == 2.0
    assert r2["effect_cuped"] == 0.0


def test_mann_kendall_monotone_and_flat(spark):
    """A strictly increasing series maxes S = n(n-1)/2 with positive z;
    a constant series has S = 0 and NULL z (variance fully tied out)."""
    from operator_families.functions.stats import (
        mann_kendall,
    )

    rows = [Row(g="up", o=i, v=float(i)) for i in range(6)] + [
        Row(g="flat", o=i, v=7.0) for i in range(6)
    ]
    out = {r["g"]: r for r in mann_kendall(
        spark.createDataFrame(rows), ["g"], "o", "v").collect()}
    assert out["up"]["s_stat"] == 15
    # var(S) = 6*5*17/18; z = 14/sqrt(var)
    import math
    assert abs(out["up"]["z"] - 14 / math.sqrt(6 * 5 * 17 / 18)) < 1e-8
    # all-tied group: tie term equals the untied term -> var 0 -> NULL z
    assert out["flat"]["s_stat"] == 0 and out["flat"]["z"] is None


def test_power_mde_closed_form(spark):
    """MDE and required n match the two-sample normal formula computed
    by hand on a tiny group."""
    import math

    from operator_families.functions.stats import power_mde

    vals = [10.0, 12.0, 14.0, 16.0]
    df = spark.createDataFrame([Row(g="a", v=x) for x in vals])
    r = power_mde(df, ["g"], "v").collect()[0]
    n, mean = 4, 13.0
    var = sum((x - mean) ** 2 for x in vals) / (n - 1)
    zsum = 1.959963985 + 0.841621234
    assert r["mean"] == mean and abs(r["variance"] - var) < 1e-9
    assert abs(r["mde"] - zsum * math.sqrt(2 * var / n)) < 1e-8
    want_n = math.ceil(2 * var * zsum**2 / (0.05 * mean) ** 2)
    assert r["n_required"] == want_n


def test_source_divergence_outlier_source(spark):
    """A source disjoint from the rest scores 1 bit; a source that
    mirrors the complement distribution scores ~0."""
    from operator_families.functions.corpus import (
        source_divergence,
    )

    rows = (
        [Row(s="normal1", k=w) for w in ("a", "b", "a", "b")]
        + [Row(s="normal2", k=w) for w in ("a", "b", "a", "b")]
        + [Row(s="weird", k=w) for w in ("x", "y", "x", "y")]
    )
    out = {
        r["s"]: r
        for r in source_divergence(
            spark.createDataFrame(rows), "k", "s"
        ).collect()
    }
    assert out["weird"]["jsd_bits"] == 1.0
    assert out["weird"]["vocab_used"] == 2
    # normal1's complement is half normal2 (same dist) half weird:
    # divergence positive but well below the disjoint bound
    assert 0 < out["normal1"]["jsd_bits"] < 0.5
    assert out["normal1"]["n_tokens"] == 4
    assert out["normal1"]["n_rest_tokens"] == 8


def test_robots_decisions_longest_match_and_allow_tie(spark):
    """Longest rule wins (re-Allow under a Disallow tree), Allow wins a
    length tie, unmatched URLs default to allowed, and the rules come
    from PARSED raw text."""
    from operator_families.functions.web import (
        robots_decisions,
    )

    urls = spark.createDataFrame(
        [Row(url=u) for u in (
            "https://ex.com/private/x",      # Disallow /private
            "https://ex.com/private/ok/1",   # re-Allow /private/ok
            "https://ex.com/open",           # no rule
            "https://ex.com/tie",            # /tie Allow + Disallow: allow wins
            "https://ex.com",                # empty path -> '/'
        )]
    )
    robots = spark.createDataFrame(
        [Row(domain="ex.com", robots_txt=(
            "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
            "Allow: /tie\nDisallow: /tie\nnot a rule line"
        ))]
    )
    out = {r["url"]: r for r in robots_decisions(urls, robots).collect()}
    assert out["https://ex.com/private/x"]["allowed"] is False
    assert out["https://ex.com/private/ok/1"]["allowed"] is True
    assert out["https://ex.com/private/ok/1"]["matched_rule"] == "/private/ok"
    assert out["https://ex.com/open"]["allowed"] is True
    assert out["https://ex.com/open"]["matched_rule"] is None
    assert out["https://ex.com/tie"]["allowed"] is True
    assert out["https://ex.com/tie"]["rule_type"] == "allow"
    assert out["https://ex.com"]["path"] == "/"


def test_robots_decisions_rfc9309_wildcards_and_groups(spark):
    """RFC 9309 semantics beyond literal prefixes: '*' wildcards, a
    final '$' anchor, case-insensitive directives with free whitespace,
    and group slicing — rules in a non-matching User-agent group are
    ignored, consecutive UA lines share one group, rules above any
    group header are dropped, and regex metachars in rules stay
    literal."""
    from operator_families.functions.web import (
        robots_decisions,
    )

    urls = spark.createDataFrame(
        [Row(url=u) for u in (
            "https://ex.com/a.php",          # /*.php$ -> disallow
            "https://ex.com/a.php?q=1",      # $ anchor: not an end match
            "https://ex.com/img/x.png",      # badbot's Disallow / ignored
            "https://ex.com/tmp/x",          # lowercase 'disallow : /tmp'
            "https://ex.com/dl/file",        # no-space 'Allow:/dl'
            "https://ex.com/a(1).php",       # metachars literal in rule
        )]
    )
    robots = spark.createDataFrame(
        [Row(domain="ex.com", robots_txt=(
            "Disallow: /img\n"               # above any group: ignored
            "# politeness rules\n"
            "User-Agent: BadBot\n"
            "Disallow: /\n"
            "\n"
            "User-agent: *\n"
            "User-agent: testbot\n"          # same group as *
            "Disallow: /*.php$\n"
            "disallow : /tmp\n"
            "Allow:/dl\n"
            "Disallow: /a(1).php$\n"
        ))]
    )
    out = {r["url"]: r for r in robots_decisions(urls, robots).collect()}
    assert out["https://ex.com/a.php"]["allowed"] is False
    assert out["https://ex.com/a.php"]["matched_rule"] == "/*.php$"
    assert out["https://ex.com/a.php?q=1"]["allowed"] is True
    assert out["https://ex.com/a.php?q=1"]["matched_rule"] is None
    assert out["https://ex.com/img/x.png"]["allowed"] is True
    assert out["https://ex.com/tmp/x"]["allowed"] is False
    assert out["https://ex.com/dl/file"]["allowed"] is True
    assert out["https://ex.com/dl/file"]["rule_type"] == "allow"
    # '(' ')' '.' stay literal: the 10-char exact rule beats /*.php$ (7)
    assert out["https://ex.com/a(1).php"]["allowed"] is False
    assert out["https://ex.com/a(1).php"]["matched_rule"] == "/a(1).php$"


def test_psi_drift_both_empty_buckets_still_contribute(spark):
    """Duplicate-heavy data collapses the quantile edges so all mass
    lands in one bucket; the other buckets are empty in BOTH periods
    yet their Laplace-smoothed contribution is nonzero whenever
    n_ref != n_cur — the full bucket spine must keep them in the
    output (and in psi_total) instead of silently dropping them."""
    from operator_families.functions.mleval import psi_drift

    rows = [Row(v=1.0, p=0) for _ in range(10)] + [
        Row(v=1.0, p=1) for _ in range(5)
    ]
    out = {r["bucket"]: r for r in psi_drift(
        spark.createDataFrame(rows), "v", "p", n_buckets=4
    ).collect()}
    assert sorted(out) == [0, 1, 2, 3]          # full spine present
    empty = out[0]
    assert empty["cnt_ref"] == 0 and empty["cnt_cur"] == 0
    # p_ref = 1/14, p_cur = 1/9: smoothed shares differ -> nonzero term
    assert empty["psi_contrib"] != 0.0
    assert out[3]["cnt_ref"] == 10 and out[3]["cnt_cur"] == 5
    import math
    want = round(sum(
        round((c / 9 - r / 14) * math.log((c / 9) / (r / 14)), 12)
        for r, c in [(1, 1), (1, 1), (1, 1), (11, 6)]
    ), 9)
    assert all(abs(r["psi_total"] - want) < 1e-9 for r in out.values())


def test_jpeg_pixels_roundtrip_exact():
    """Full baseline decode (AC Huffman -> zigzag -> dequant -> IDCT ->
    level shift -> fixed-point YCbCr->RGB) reproduces the fixture's
    closed-form sample values EXACTLY — every channel sum and the
    position-weighted luma sum."""
    from operator_families.functions.multimodal import (
        _jpeg_decode_pixels,
        jpeg_encode_ycbcr_blocks,
    )

    S = [1, -1, -1, 1, 1, -1, -1, 1]
    for doc, bw, bh in ((0, 1, 1), (13, 2, 1), (77, 3, 2), (1001, 2, 2)):
        W = bw * 8
        ys = cbs = crs = ywt = rs = gs = bs = 0
        for i in range(bw * bh):
            bx, by = i % bw, i // bw
            comp = []
            for c in range(3):
                dc = ((doc * 7 + i * 5 + c * 11) % 160) - 80
                ly = ((doc + i * 3 + c) % 31) - 15
                lx = ((doc * 3 + i + c * 5) % 31) - 15
                lxy = ((doc + i + c) % 25) - 12
                comp.append((dc, ly, lx, lxy))
            for y in range(8):
                for x in range(8):
                    vals = [
                        128 + dc + S[y] * ly + S[x] * lx
                        + S[x] * S[y] * lxy
                        for (dc, ly, lx, lxy) in comp
                    ]
                    Y, Cb, Cr = vals
                    ys += Y
                    cbs += Cb
                    crs += Cr
                    ywt += ((by * 8 + y) * W + bx * 8 + x + 1) * Y
                    dcb, dcr = Cb - 128, Cr - 128
                    clamp = lambda v: min(255, max(0, v))  # noqa: E731
                    rs += clamp(Y + ((91881 * dcr + 32768) >> 16))
                    gs += clamp(
                        Y - ((22554 * dcb + 46802 * dcr + 32768) >> 16)
                    )
                    bs += clamp(Y + ((116130 * dcb + 32768) >> 16))
        w, h, stats = _jpeg_decode_pixels(
            jpeg_encode_ycbcr_blocks(doc, bw, bh)
        )
        assert (w, h) == (bw * 8, bh * 8)
        assert stats == (ys, cbs, crs, ywt, rs, gs, bs), (doc, bw, bh)


def test_jpeg_pixels_quarantine_and_gray_crosscheck():
    """Truncated payloads quarantine (None), and the full pixel decoder
    agrees with the r8 DC-only fixture: constant blocks decode to the
    exact block-mean image (y_sum = 64 * sum of block values, chroma and
    RGB sums None for 1-component input)."""
    from operator_families.functions.multimodal import (
        _jpeg_decode_pixels,
        jpeg_encode_gray_blocks,
        jpeg_encode_ycbcr_blocks,
    )

    assert _jpeg_decode_pixels(b"not a jpeg") is None
    assert _jpeg_decode_pixels(
        jpeg_encode_ycbcr_blocks(5, 2, 2)[:25]
    ) is None
    w, h, (ys, cbs, crs, ywt, rs, gs, bs) = _jpeg_decode_pixels(
        jpeg_encode_gray_blocks(7, 3, 2)
    )
    assert (w, h) == (24, 16)
    assert ys == sum(64 * ((7 * 17 + i * 7) % 256) for i in range(6))
    assert (cbs, crs, rs, gs, bs) == (None,) * 5


def test_jpeg_subsampled_pixels_roundtrip_exact():
    """Chroma-subsampled baseline decode (4:2:0 / 4:2:2 / 4:4:0):
    interleaved MCU scan, in-MCU luma block raster, nearest-neighbor
    chroma replication, and partial-MCU crop ALL reproduce the fixture's
    closed form exactly — including cropped widths/heights that cut
    through a replicated chroma footprint."""
    from operator_families.functions.multimodal import (
        _jpeg_decode_pixels,
        jpeg_encode_ycbcr_subsampled,
    )

    S = [1, -1, -1, 1, 1, -1, -1, 1]
    clamp = lambda v: min(255, max(0, v))  # noqa: E731

    def ref(doc, mcw, hy, vy, w, h):
        ys = cbs = crs = ywt = rs = gs = bs = 0
        bw, bh = 8 * hy, 8 * vy  # MCU pixel dims
        for y in range(h):
            for x in range(w):
                mx, my = x // bw, y // bh
                m = my * mcw + mx
                lj = ((y - my * bh) // 8) * hy + (x - mx * bw) // 8
                t = m * (hy * vy) + lj
                sx, sy = S[x % 8], S[y % 8]
                Y = (
                    128 + ((doc * 7 + t * 5) % 160) - 80
                    + sy * (((doc + t * 3) % 31) - 15)
                    + sx * (((doc * 3 + t) % 31) - 15)
                    + sx * sy * (((doc + t) % 25) - 12)
                )
                cx = (x - mx * bw) // hy
                cy = (y - my * bh) // vy
                scx, scy = S[cx % 8], S[cy % 8]

                def chroma(c):
                    return (
                        128 + ((doc * 7 + m * 5 + c * 11) % 160) - 80
                        + scy * (((doc + m * 3 + c) % 31) - 15)
                        + scx * (((doc * 3 + m + c * 5) % 31) - 15)
                        + scx * scy * (((doc + m + c) % 25) - 12)
                    )

                Cb, Cr = chroma(1), chroma(2)
                ys += Y
                cbs += Cb
                crs += Cr
                ywt += (y * w + x + 1) * Y
                dcb, dcr = Cb - 128, Cr - 128
                rs += clamp(Y + ((91881 * dcr + 32768) >> 16))
                gs += clamp(
                    Y - ((22554 * dcb + 46802 * dcr + 32768) >> 16)
                )
                bs += clamp(Y + ((116130 * dcb + 32768) >> 16))
        return (w, h, (ys, cbs, crs, ywt, rs, gs, bs))

    cases = [
        (0, 1, 1, 2, 2, 16, 16),    # one full 4:2:0 MCU
        (7, 2, 1, 2, 2, 29, 13),    # 4:2:0, crop cuts chroma footprint
        (13, 1, 2, 2, 2, 15, 31),   # 4:2:0, odd crop both axes
        (22, 2, 2, 2, 2, 32, 32),   # 4-MCU full grid
        (5, 2, 1, 2, 1, 30, 8),     # 4:2:2
        (9, 1, 2, 1, 2, 8, 27),     # 4:4:0
    ]
    for doc, mcw, mch, hy, vy, w, h in cases:
        got = _jpeg_decode_pixels(
            jpeg_encode_ycbcr_subsampled(doc, mcw, mch, hy, vy, w, h)
        )
        assert got == ref(doc, mcw, hy, vy, w, h), (doc, hy, vy, w, h)


def test_jpeg_subsampled_quarantine_envelope():
    """Out-of-envelope sampling still quarantines: truncated 4:2:0
    payloads, sampling factors > 2, and chroma sampled ABOVE 1x1 all
    return None instead of raising or mis-decoding."""
    from operator_families.functions.multimodal import (
        _jpeg_decode_pixels,
        jpeg_encode_ycbcr_subsampled,
    )

    good = jpeg_encode_ycbcr_subsampled(5, 2, 2)
    assert _jpeg_decode_pixels(good) is not None
    assert _jpeg_decode_pixels(good[:25]) is None
    # 3x1 luma sampling (h=3 out of envelope): patch the SOF samp byte.
    # SOF layout: ...C0 len(2) prec(1) h(2) w(2) nc(1) [cid samp tq]*3 —
    # component 1's samp byte sits 7 bytes past the SOF marker payload.
    i = good.find(b"\xff\xc0")
    bad = bytearray(good)
    bad[i + 2 + 2 + 1 + 4 + 1 + 1] = 0x31
    assert _jpeg_decode_pixels(bytes(bad)) is None
    # chroma sampled 2x2 == luma (legal JPEG but outside the replication
    # envelope we implement): patch Cb's samp byte up
    bad2 = bytearray(good)
    bad2[i + 2 + 2 + 1 + 4 + 1 + 1 + 3] = 0x22
    assert _jpeg_decode_pixels(bytes(bad2)) is None


def test_wav_pcm_roundtrip_and_quarantine():
    """RIFF chunk walk (incl. the odd-chunk pad byte), PCM16 LE sample
    extraction, and exact integer stats; truncated/garbage quarantines."""
    from operator_families.functions.multimodal import (
        _wav_decode_pcm16,
        wav_encode_pcm16,
    )

    for doc, n in ((0, 5), (13, 200), (999, 457)):
        rate, nch, ns, (ssum, swt, peak, en) = _wav_decode_pcm16(
            wav_encode_pcm16(doc, n)
        )
        s = [((doc * 13 + i * 7) % 4001) - 2000 for i in range(n)]
        assert (rate, nch, ns) == (16000, 1, n)
        assert ssum == sum(s)
        assert swt == sum((i + 1) * v for i, v in enumerate(s))
        assert peak == max(abs(v) for v in s)
        assert en == sum(v * v for v in s)
    assert _wav_decode_pcm16(wav_encode_pcm16(5, 100)[:30]) is None
    assert _wav_decode_pcm16(b"garbage") is None


def test_bmp_roundtrip_flip_and_quarantine():
    """Bottom-up row flip, BGR order, and 4-byte padding all verified by
    the channel sums and the position-weighted (flip-sensitive) sum."""
    from operator_families.functions.multimodal import (
        _bmp_decode_pixels,
        bmp_encode_rgb,
    )

    for doc, w, h in ((0, 5, 3), (7, 6, 4), (123, 9, 7)):
        W, H, (rs, gs, bs, wt) = _bmp_decode_pixels(
            bmp_encode_rgb(doc, w, h)
        )
        assert (W, H) == (w, h)
        assert rs == sum((doc * 31 + p * 3) % 256 for p in range(w * h))
        assert bs == sum(
            (doc * 31 + p * 3 + 2) % 256 for p in range(w * h)
        )
        assert wt == sum(
            (p + 1) * (
                ((doc * 31 + p * 3) % 256)
                + ((doc * 31 + p * 3 + 1) % 256)
                + ((doc * 31 + p * 3 + 2) % 256)
            )
            for p in range(w * h)
        )
    assert _bmp_decode_pixels(bmp_encode_rgb(5, 5, 3)[:40]) is None
    assert _bmp_decode_pixels(b"BMgarbage") is None


def test_benford_deviation_spine_and_exact_digits(spark):
    """First digits come from quantized integer units (never float
    strings), the 1..9 spine keeps absent digits with their n*expected
    chi-square term, and a perfectly Benford-ish single-digit column
    shows share_obs 1.0 on its digit."""
    from operator_families.functions.profile import (
        benford_deviation,
    )

    rows = [Row(v=3.17) for _ in range(10)]  # units 317 -> digit 3
    out = {r["digit"]: r for r in benford_deviation(
        spark.createDataFrame(rows), "v"
    ).collect()}
    assert sorted(out) == list(range(1, 10))          # full spine
    assert out[3]["n_obs"] == 10 and out[3]["share_obs"] == 1.0
    assert out[1]["n_obs"] == 0
    assert out[1]["chi2_total"] == out[3]["chi2_total"] > 0
    # boundary: 9999.995 -> 999999.5 rounds to 1000000 -> digit 1, not 9
    b = {r["digit"]: r for r in benford_deviation(
        spark.createDataFrame([Row(v=9999.995)]), "v"
    ).collect()}
    assert b[1]["n_obs"] + b[9]["n_obs"] == 1  # quantized, no crash


def test_gif_lzw_decoder_pinned_and_roundtrip():
    """The LZW decoder is pinned by HAND-CRAFTED streams (code-size bump
    mid-stream, the KwKwK deferred-insert case) — independent of the
    fixture compressor — and the full GIF roundtrip matches the formula,
    including dictionary growth on long repetitive streams."""
    from operator_families.functions.multimodal import (
        _gif_decode_pixels,
        _lzw_decode,
        _lzw_encode,
        gif_encode_indexed,
    )

    def pack(codes):
        acc = n = 0
        out = bytearray()
        for c, w in codes:
            acc |= c << n
            n += w
            while n >= 8:
                out.append(acc & 255)
                acc >>= 8
                n -= 8
        if n:
            out.append(acc & 255)
        return bytes(out)

    # min_cs=2: CLEAR,0,1,2 at 3 bits; table hits 8 -> 4-bit 3, EOI
    assert _lzw_decode(
        pack([(4, 3), (0, 3), (1, 3), (2, 3), (3, 4), (5, 4)]), 2
    ) == [0, 1, 2, 3]
    # KwKwK: code == next slot decodes prev + prev[0]
    assert _lzw_decode(
        pack([(4, 3), (0, 3), (6, 3), (5, 3)]), 2
    ) == [0, 0, 0]
    # growth + 12-bit clear path
    rep = [1, 2, 3, 4] * 2000
    assert _lzw_decode(_lzw_encode(rep, 6), 6) == rep
    for doc, w, h in ((0, 4, 3), (123, 17, 9), (9999, 40, 30)):
        W, H, (rs, gs, bs, wt) = _gif_decode_pixels(
            gif_encode_indexed(doc, w, h)
        )
        idx = [(doc * 11 + p * 13) % 64 for p in range(w * h)]
        assert (W, H) == (w, h)
        assert rs == sum((doc * 7 + i * 11) % 256 for i in idx)
        assert gs == sum((i * 3) % 256 for i in idx)
        assert bs == sum((i * 5 + 1) % 256 for i in idx)
        assert wt == sum((p + 1) * i for p, i in enumerate(idx))
    assert _gif_decode_pixels(gif_encode_indexed(5, 8, 8)[:20]) is None
    assert _gif_decode_pixels(b"GIF89a") is None


def test_jpeg_progressive_dc_roundtrip_and_envelope():
    """T.81 successive approximation: the first DC scan (DPCM of
    DC >> Al) plus Al one-bit refinement scans reassemble every DC
    exactly (incl. negative values — arithmetic shift + OR identity);
    incomplete chains, AC scans, truncation, and sequential SOF0 input
    all quarantine."""
    from operator_families.functions.multimodal import (
        _jpeg_decode_progressive_dc,
        jpeg_encode_gray_blocks,
        jpeg_encode_progressive_dc,
    )

    for doc, bw, bh, al in ((0, 1, 1, 1), (7, 3, 2, 1), (13, 2, 3, 2),
                            (99, 4, 4, 3), (5, 2, 2, 0)):
        got = _jpeg_decode_progressive_dc(
            jpeg_encode_progressive_dc(doc, bw, bh, al)
        )
        dcs = [((doc * 19 + i * 23) % 256) - 128
               for i in range(bw * bh)]
        assert got == (bw * 8, bh * 8, bw, bh, 1 + al, dcs), (doc, al)
    # incomplete approximation (refinement scans cut off) quarantines:
    # truncate before the final refinement's entropy data
    full = jpeg_encode_progressive_dc(3, 2, 2, 2)
    assert _jpeg_decode_progressive_dc(full[:60]) is None
    assert _jpeg_decode_progressive_dc(b"junk") is None
    # a SEQUENTIAL baseline file is out of this decoder's envelope
    assert _jpeg_decode_progressive_dc(
        jpeg_encode_gray_blocks(3, 2, 2)
    ) is None
    # and the progressive file is out of the sequential decoders'
    from operator_families.functions.multimodal import (
        _jpeg_decode_dc,
        _jpeg_decode_pixels,
    )

    assert _jpeg_decode_dc(full) is None
    assert _jpeg_decode_pixels(full) is None


def test_gif_frame_sampling_exact_and_skip():
    """Animated-GIF frame sampling: sampled frames decode to the exact
    per-frame formula sums WITH the right GCE delay attached; stride
    skips frames structurally; NETSCAPE looping ext is walked; malformed
    payloads quarantine."""
    from operator_families.functions.multimodal import (
        _gif_decode_frames,
        gif_encode_animated,
    )

    def ref(doc, w, h, nf, stride):
        out = []
        for f in range(nf):
            if f % stride:
                continue
            rs = gs = bs = wt = 0
            for p in range(w * h):
                i = (doc * 11 + f * 17 + p * 13) % 64
                rs += (doc * 7 + i * 11) % 256
                gs += (i * 3) % 256
                bs += (i * 5 + 1) % 256
                wt += (p + 1) * i
            out.append((f, 4 + (doc + f) % 7, rs, gs, bs, wt))
        return (w, h, out)

    for doc, w, h, nf, st in (
        (0, 4, 3, 2, 2), (7, 8, 5, 5, 2), (31, 6, 6, 4, 1),
        (62, 5, 7, 3, 3),
    ):
        got = _gif_decode_frames(
            gif_encode_animated(doc, w, h, nf), stride=st
        )
        assert got == ref(doc, w, h, nf, st), (doc, w, h, nf, st)
    # stride larger than the frame count still yields frame 0
    assert _gif_decode_frames(
        gif_encode_animated(9, 4, 4, 3), stride=10
    )[2][0][0] == 0
    assert _gif_decode_frames(b"nope") is None
    assert _gif_decode_frames(
        gif_encode_animated(5, 4, 4, 3)[:30]
    ) is None


def test_bpe_word_pieces_hand_computed():
    """The greedy apply is pinned by hand: lowest rank merges first and
    merges ALL its occurrences; merged symbols only re-merge when the
    concatenated pair is itself in the table; no-merge words stay
    character-split."""
    from operator_families.functions.chunking import (
        bpe_word_pieces,
    )

    assert bpe_word_pieces("abab", {"ab": 0}) == ["ab", "ab"]
    assert bpe_word_pieces("aaab", {"aa": 0, "ab": 1}) == ["aa", "ab"]
    # rank order matters: 'ba' first leaves a lone leading 'a'
    assert bpe_word_pieces("aba", {"ba": 0, "ab": 1}) == ["a", "ba"]
    assert bpe_word_pieces("xyz", {"ab": 0}) == ["x", "y", "z"]
    assert bpe_word_pieces("q", {"ab": 0}) == ["q"]
    # multi-char symbols never match 2-char table keys by accident
    assert bpe_word_pieces("aaaa", {"aa": 0}) == ["aa", "aa"]


def test_bpe_merge_table_and_encode_consistency(spark):
    """The Spark-built merge table ranks by (count desc, pair asc), and
    encode's character mass conserves the ASCII word bytes while pieces
    shrink monotonically with merges applied."""
    from operator_families.functions.chunking import (
        bpe_encode_pieces,
        bpe_merge_table,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="banana bandana"),
            Row(doc_id=2, text="an an an  éclair"),  # non-ascii skipped
            Row(doc_id=3, text=None),
        ]
    )
    merges = {
        r["pair"]: r["rank"] for r in bpe_merge_table(docs, k=3).collect()
    }
    assert merges["an"] == 0  # 7 occurrences, clear winner
    assert len(merges) == 3
    out = {r["doc_id"]: r for r in bpe_encode_pieces(docs, merges).collect()}
    assert out[1]["n_words"] == 2
    assert out[1]["n_chars"] == len("banana") + len("bandana")
    assert 0 < out[1]["n_pieces"] < out[1]["n_chars"]  # merges applied
    assert out[2]["n_words"] == 3  # the 3 'an'; éclair filtered
    assert out[2]["n_pieces"] == 3  # each 'an' is one piece
    assert out[3]["n_words"] == 0 and out[3]["n_pieces"] == 0


def test_brier_decomposition_identity_and_perfect_calibration(spark):
    """Murphy identity Brier = REL - RES + UNC holds (the bin forecast
    is the bin mean, so the identity is exact up to output rounding);
    a perfectly sharp calibrated forecaster has REL = 0 and RES = UNC."""
    from operator_families.functions.mleval import (
        brier_decomposition,
    )

    D = 2**20
    # sharp + calibrated: score 0 for negatives, D-1 ~ 1.0 for positives
    rows = [Row(s=0, y=0)] * 30 + [Row(s=D - 1, y=1)] * 10
    out = brier_decomposition(
        spark.createDataFrame(rows), "s", "y", n_bins=10, denom=D
    ).collect()
    r = out[0]
    assert r["total_n"] == 40 and r["base_rate"] == 0.25
    assert r["uncertainty"] == round(0.25 * 0.75, 9)
    assert abs(r["resolution"] - r["uncertainty"]) < 1e-6  # sharp
    assert r["reliability"] < 1e-6                          # calibrated
    assert abs(r["brier"]) < 1e-6
    # identity on a miscalibrated mix
    rows2 = (
        [Row(s=D // 4, y=1)] * 5 + [Row(s=D // 4, y=0)] * 5
        + [Row(s=(3 * D) // 4, y=0)] * 8 + [Row(s=(3 * D) // 4, y=1)] * 2
    )
    r2 = brier_decomposition(
        spark.createDataFrame(rows2), "s", "y", n_bins=10, denom=D
    ).collect()[0]
    assert abs(
        r2["brier"] - (r2["reliability"] - r2["resolution"]
                       + r2["uncertainty"])
    ) < 1e-6


def test_hilbert_key_reference_and_adjacency(spark):
    """Spark with_hilbert_key matches the canonical xy2d reference on a
    grid, and the curve's defining property holds: consecutive keys are
    ADJACENT cells (Manhattan distance exactly 1) — the locality
    guarantee Z-order lacks at quadrant boundaries."""
    from operator_families.functions.layout import (
        hilbert_xy2d,
        with_hilbert_key,
    )

    grid = spark.createDataFrame(
        [Row(x=x, y=y) for x in range(16) for y in range(16)]
    )
    out = with_hilbert_key(grid, F.col("x"), F.col("y"), bits=4).collect()
    inv = {}
    for r in out:
        assert r["hkey"] == hilbert_xy2d(4, r["x"], r["y"]), (r["x"], r["y"])
        inv[r["hkey"]] = (r["x"], r["y"])
    assert sorted(inv) == list(range(256))  # a bijection onto 0..n^2-1
    assert all(
        abs(inv[d][0] - inv[d + 1][0]) + abs(inv[d][1] - inv[d + 1][1]) == 1
        for d in range(255)
    )


def test_unicode_nfc_stats_composes_and_counts(spark):
    """NFC collapses combining sequences (counts drop), leaves composed
    text unchanged, and quarantines NULL text as NULL stats."""
    from operator_families.functions.text import (
        unicode_nfc_stats,
    )

    rows = [
        Row(doc_id=1, text="é"),      # -> U+00E9: 2 cp -> 1
        Row(doc_id=2, text="plain ascii"),  # unchanged
        Row(doc_id=3, text="é"),       # already NFC
        Row(doc_id=4, text=None),
    ]
    out = {r["doc_id"]: r for r in unicode_nfc_stats(
        spark.createDataFrame(rows)
    ).collect()}
    assert out[1]["n_cp_raw"] == 2 and out[1]["n_cp_nfc"] == 1
    assert out[1]["n_bytes_raw"] == 3 and out[1]["n_bytes_nfc"] == 2
    assert out[1]["changed"] is True
    assert out[2]["changed"] is False
    assert out[2]["n_cp_raw"] == out[2]["n_cp_nfc"] == 11
    assert out[3]["changed"] is False and out[3]["n_cp_raw"] == 1
    assert out[4]["n_cp_raw"] is None and out[4]["changed"] is None


def test_fk_integrity_orphans_and_nulls_separate(spark):
    from operator_families.functions.profile import (
        fk_integrity,
    )

    child = spark.createDataFrame(
        [Row(fk=1), Row(fk=1), Row(fk=2), Row(fk=99), Row(fk=None)]
    )
    parent = spark.createDataFrame([Row(pk=1), Row(pk=2), Row(pk=3)])
    r = fk_integrity(child, parent, "fk", "pk", "child->parent").collect()[0]
    assert r["relation"] == "child->parent"
    assert r["n_child"] == 5
    assert r["n_null_fk"] == 1          # NULL is not an orphan
    assert r["n_orphan"] == 1 and r["n_orphan_keys"] == 1
    assert r["orphan_rate"] == 0.2


def test_cumulative_gains_perfect_ranker(spark):
    """A perfect ranker's top bin captures all positives: gain hits 1.0
    immediately and lift equals N/P in the first bin, decaying to 1."""
    from operator_families.functions.mleval import (
        cumulative_gains,
    )

    D = 100
    rows = [Row(s=95, y=1)] * 10 + [Row(s=5, y=0)] * 30
    out = sorted(
        cumulative_gains(
            spark.createDataFrame(rows), "s", "y", n_buckets=10, denom=D
        ).collect(),
        key=lambda r: -r["bin"],
    )
    top, bottom = out[0], out[-1]
    assert top["bin"] == 9 and top["cum_pos"] == 10 and top["gain"] == 1.0
    assert top["lift"] == 4.0            # (10*40)/(10*10)
    assert bottom["cum_n"] == 40 and bottom["lift"] == 1.0


def test_page_hinkley_detects_level_shift(spark):
    """A flat series never alarms; a series whose level jumps after the
    midpoint alarms shortly after the shift (the PH guarantee)."""
    from operator_families.functions.stats import (
        page_hinkley,
    )

    flat = [Row(g="a", event_id=i, ts=i, value=10.0) for i in range(100)]
    shift = [
        Row(g="b", event_id=i, ts=i, value=10.0 if i < 50 else 20.0)
        for i in range(100)
    ]
    out = {r["g"]: r for r in page_hinkley(
        spark.createDataFrame(flat + shift), ["g"],
        "value", "ts", "event_id", delta=0.05, lam=10.0,
    ).collect()}
    assert out["a"]["n_alarms"] == 0
    assert out["a"]["first_alarm_idx"] is None
    assert out["b"]["n_alarms"] > 0
    assert 50 < out["b"]["first_alarm_idx"] <= 60   # fires soon after
    assert out["b"]["max_ph"] > 10.0


def test_flesch_readability_ordering(spark):
    """Short simple sentences score higher than a long vowel-dense
    run-on; counts are exact and NULL text quarantines."""
    from operator_families.functions.text import (
        flesch_readability,
    )

    rows = [
        Row(doc_id=1, text="The cat sat. The dog ran. It was fun."),
        Row(doc_id=2, text=(
            "Notwithstanding interdisciplinary methodological "
            "considerations, epistemological heterogeneity "
            "characterizes contemporary organizational paradigms"
        )),
        Row(doc_id=3, text=None),
    ]
    out = {r["doc_id"]: r for r in flesch_readability(
        spark.createDataFrame(rows)
    ).collect()}
    assert out[1]["n_sentences"] == 3 and out[1]["n_words"] == 9
    assert out[1]["flesch"] > out[2]["flesch"]
    assert out[2]["n_sentences"] == 1   # floored at 1 (no terminator)
    assert out[3]["flesch"] is None and out[3]["n_words"] is None
