"""Unit tests for the r11 mining operators: TextRank keywords,
content-defined chunking, semi-hard triplet mining."""

from __future__ import annotations


def test_textrank_hub_word_outranks_frequency(spark):
    """A word adjacent to MANY distinct words outranks a word that is
    merely frequent next to one partner — the graph-centrality
    property frequency ranking lacks."""
    from operator_families.functions.text import (
        textrank_keywords,
    )

    docs = [
        (1, "hub alpha hub beta hub gamma hub delta"),
        (2, "loner buddy loner buddy loner buddy loner buddy loner"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["word"]: r for r in textrank_keywords(df, top_k=20).collect()}
    # 'loner' appears 5x, 'hub' 4x — but hub has 4 distinct neighbors
    assert out["hub"]["pr_units"] > out["loner"]["pr_units"]
    assert out["hub"]["rank"] < out["loner"]["rank"]


def test_textrank_deterministic_ranks(spark):
    from operator_families.functions.text import (
        textrank_keywords,
    )

    df = spark.createDataFrame(
        [(1, "a b c a b"), (2, "c a b c")], "doc_id long, text string"
    )
    a = [(r["rank"], r["word"]) for r in
         textrank_keywords(df).orderBy("rank").collect()]
    b = [(r["rank"], r["word"]) for r in
         textrank_keywords(df).orderBy("rank").collect()]
    assert a == b and len(a) >= 3


def test_cdc_boundaries_shift_locally_on_insertion(spark):
    """Content-defined chunking's defining property: inserting a
    prefix changes chunk alignment only near the edit — the chunk
    CONTENT sums far from the edit recur (fixed-size blocks would all
    shift)."""
    from operator_families.functions.chunking import (
        cdc_chunk_stats,
    )

    base = "the quick brown fox jumps over the lazy dog " * 20
    edited = "INSERTED PREFIX " + base
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in cdc_chunk_stats(df).collect()}
    assert out[1]["n_bytes"] == len(base)
    assert out[2]["n_bytes"] == len(edited)
    # both chunk; the edited doc has at most one extra chunk beyond a
    # small local perturbation
    assert out[1]["n_chunks"] >= 2
    assert abs(out[2]["n_chunks"] - out[1]["n_chunks"]) <= 2


def test_cdc_stateless_window_reference():
    """The boundary rule is the documented closed form — recompute one
    document's chunk count with a from-scratch loop."""
    text = "hello world this is a chunking test string " * 10

    def g(b):
        return (b * 2654435761) % 4294967296

    bts = text.encode()
    cuts = 0
    for i in range(3, len(bts)):
        h = (8 * g(bts[i - 3]) + 4 * g(bts[i - 2])
             + 2 * g(bts[i - 1]) + g(bts[i])) % 4294967296
        if h % 64 == 0:
            cuts += 1
    expected_chunks = cuts + 1
    from operator_families.functions.chunking import (
        cdc_chunk_stats,
    )
    from nl_railtraffic_etl_pipeline_spark.session import get_spark

    spark = get_spark("cdc-test")
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = cdc_chunk_stats(df).collect()[0]
    assert out["n_chunks"] == expected_chunks


def test_triplet_semi_hard_selection(spark):
    """The semi-hard negative is the most similar different-label
    vector BELOW the positive similarity; a closer negative must be
    skipped in favor of it."""
    from operator_families.functions.simsearch import (
        triplet_mining,
    )

    vecs = [
        (0, [1.0, 0.0, 0.0], 1),    # anchor (id % 1 == 0 with mod=1... use mod 100)
        (100, [0.95, 0.31, 0.0], 1),  # positive, cos ~0.95
        (1, [0.99, 0.14, 0.0], 2),    # negative CLOSER than positive
        (2, [0.6, 0.8, 0.0], 2),      # semi-hard negative (0.6 < 0.95)
    ]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["anchor_id"]: r
        for r in triplet_mining(df, anchor_mod=100).collect()
    }
    a = out[0]
    assert a["pos_id"] == 100
    assert a["neg_id"] == 2 and a["semi_hard"] is True
    # anchor 100: positive is 0; negatives 1 (0.99... vs pos cos) —
    # fallback allowed; just assert row exists with a negative
    assert out[100]["neg_id"] in (1, 2)


def test_triplet_hardest_fallback_flagged(spark):
    """When every negative is MORE similar than the positive, the
    fallback picks the hardest one and flags semi_hard = false."""
    from operator_families.functions.simsearch import (
        triplet_mining,
    )

    vecs = [
        (0, [1.0, 0.0], 1),
        (100, [0.0, 1.0], 1),     # positive, cos 0
        (1, [0.9, 0.44], 2),      # negative cos ~0.9 > 0
    ]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["anchor_id"]: r
        for r in triplet_mining(df, anchor_mod=100).collect()
    }
    a = out[0]
    assert a["pos_id"] == 100 and a["neg_id"] == 1
    assert a["semi_hard"] is False


def test_dtw_known_distance(spark):
    """Hand-checkable DP: dtw([3,1,4,1,5], [2,7,1,8]) = 8, and a pure
    shift has a much smaller DTW than L1."""
    from operator_families.functions.stats import (
        dtw_distance_units,
    )

    rows = [(0, i, v) for i, v in enumerate([3, 1, 4, 1, 5])]
    rows += [(1, i, v) for i, v in enumerate([2, 7, 1, 8])]
    df = spark.createDataFrame(rows, "part int, idx int, value long")
    out = dtw_distance_units(df, "part", "idx", "value").collect()[0]
    assert out["dtw_units"] == 8 and out["n_a"] == 5 and out["n_b"] == 4

    # phase shift: b = a shifted by one
    a = [0, 10, 0, 0, 10, 0, 0, 10, 0]
    b = [0, 0, 10, 0, 0, 10, 0, 0, 10]
    rows = [(0, i, v) for i, v in enumerate(a)]
    rows += [(1, i, v) for i, v in enumerate(b)]
    df = spark.createDataFrame(rows, "part int, idx int, value long")
    out = dtw_distance_units(df, "part", "idx", "value").collect()[0]
    l1 = sum(abs(x - y) for x, y in zip(a, b))
    assert out["dtw_units"] < l1  # alignment tolerance: 0 < 60
