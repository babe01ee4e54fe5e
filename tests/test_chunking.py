"""Chunking + sequence-packing semantics and scale-shape guards."""

import pytest
from pyspark.sql import Row

from operator_families.functions.chunking import (
    chunk_documents,
    pack_sequences,
)


def test_chunk_windows_and_tail(spark):
    """Chunks stride by size-overlap, the tail chunk may be short, every
    token appears in at least one chunk, empty docs yield nothing."""
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),  # 10 tokens
            (2, "x y"),                  # 2 tokens -> one short chunk
            (3, " "),                    # whitespace-only
        ],
        "doc_id bigint, text string",
    )
    rows = {
        (r.doc_id, r.chunk_no): (r.chunk_text, r.chunk_tokens)
        for r in chunk_documents(df, chunk_size=4, overlap=1).collect()
    }
    # doc 1: stride 3, starts 0,3,6,9 -> 4 chunks
    assert rows[(1, 0)] == ("a b c d", 4)
    assert rows[(1, 1)] == ("d e f g", 4)
    assert rows[(1, 2)] == ("g h i j", 4)
    assert rows[(1, 3)] == ("j", 1)
    assert rows[(2, 0)] == ("x y", 2)
    assert not any(doc == 3 for doc, _ in rows)

    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=4, overlap=4)


def test_pack_sequences_offsets_and_boundaries(spark):
    """Offsets are the running token count in id order; seq_id cuts every
    `window` tokens; spans_boundary marks straddling docs."""
    df = spark.createDataFrame(
        [(i, " ".join(["t"] * n)) for i, n in [(0, 6), (1, 3), (2, 4), (3, 2)]],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.start_offset, r.seq_id, r.spans_boundary)
        for r in pack_sequences(df, window=8, block_size=2).collect()
    }
    assert got[0] == (6, 0, 0, False)   # tokens [0,6) inside seq 0
    assert got[1] == (3, 6, 0, True)    # tokens [6,9) cross the cut at 8
    assert got[2] == (4, 9, 1, False)   # tokens [9,13) inside seq 1
    assert got[3] == (2, 13, 1, False)  # tokens [13,15) inside seq 1


def test_pack_sequences_partitioning_invariant(spark):
    """The two-level prefix sum must give identical offsets no matter how
    the input is split."""
    docs = [(i, " ".join(["w"] * (1 + i % 7))) for i in range(200)]
    a = spark.createDataFrame(docs, "doc_id bigint, text string")
    b = a.repartition(17)
    out_a = sorted(
        (r.doc_id, r.start_offset, r.seq_id)
        for r in pack_sequences(a, window=16, block_size=32).collect()
    )
    out_b = sorted(
        (r.doc_id, r.start_offset, r.seq_id)
        for r in pack_sequences(b, window=16, block_size=32).collect()
    )
    assert out_a == out_b
    # contiguity: each doc starts where the previous ended
    offs = {r.doc_id: (r.start_offset, r.n_tokens)
            for r in pack_sequences(a, window=16, block_size=32).collect()}
    run = 0
    for i in range(200):
        assert offs[i][0] == run
        run += offs[i][1]


def test_running_total_matches_naive_window_three_levels(spark):
    """The three-level block prefix sum equals a naive global cumulative
    sum, with block_size small enough that blocks, superblocks, AND the
    final superblock window all hold multiple rows."""
    from pyspark.sql import functions as F
    from operator_families.functions.prefixsum import running_total

    rows = [(i, (i * 37) % 11) for i in range(100)]
    df = spark.createDataFrame(rows, "id bigint, v bigint").repartition(7)
    got = {
        r["id"]: r["_cum"]
        for r in running_total(df, F.col("v"), "id", block_size=3).collect()
    }
    run = 0
    for i, v in rows:
        run += v
        assert got[i] == run


def test_running_total_rejects_string_ids(spark):
    from pyspark.sql import functions as F
    from operator_families.functions.prefixsum import running_total

    df = spark.createDataFrame([("a", 1)], "id string, v bigint")
    with pytest.raises(TypeError, match="integral"):
        running_total(df, F.col("v"), "id")


def test_pps_sample_no_bigint_overflow(spark):
    """Grid products run in decimal(38,0): weights big enough that
    hi * n overflows 64-bit must still match exact integer arithmetic."""
    from operator_families.functions.sketch import (
        pps_systematic_sample,
    )

    w = 1.0e15  # quantizes to 1e18 milli-units; W = 2e19 > 2^63
    rows = [(i, w) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id bigint, w double")
    out = {
        r["doc_id"]: r["n_picks"]
        for r in pps_systematic_sample(df, "w", 7, "doc_id", block_size=4).collect()
    }
    wq = 10**18
    total = 20 * wq
    expect = {}
    for i in range(20):
        hi, lo = (i + 1) * wq, i * wq
        p = hi * 7 // total - lo * 7 // total
        if p > 0:
            expect[i] = p
    assert out == expect
    assert sum(out.values()) == 7


def test_encode_tokens_semantics(spark):
    """Known-vocab terms map to their ids in stream order, OOV terms to
    oov_id and counted, empty docs yield an empty array."""
    from operator_families.functions.chunking import (
        encode_tokens,
    )

    docs = spark.createDataFrame(
        [
            (0, "the cat in the hat"),
            (1, "zzz"),
            (2, ""),
            (3, "of of of"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame(
        [("the", 1), ("in", 2), ("of", 3), ("cat", 9)], ["term", "token_id"]
    )
    got = {
        r["doc_id"]: (list(r["token_ids"]), r["n_tokens"], r["n_oov"])
        for r in encode_tokens(docs, vocab).collect()
    }
    assert got[0] == ([1, 9, 2, 1, 0], 5, 1)   # 'hat' is OOV
    assert got[1] == ([0], 1, 1)
    # engine tokenizer contract: splitting "" yields one empty token
    # (same on DuckDB's regexp_split_to_array — the gate pins this)
    assert got[2] == ([0], 1, 1)
    assert got[3] == ([3, 3, 3], 3, 0)
    assert got[4] == ([], 0, 0)  # NULL text -> empty id array

    # custom oov id
    got7 = {
        r["doc_id"]: list(r["token_ids"])
        for r in encode_tokens(docs, vocab, oov_id=7).collect()
    }
    assert got7[0] == [1, 9, 2, 1, 7]


def test_whale_doc_quarantine_caps(spark):
    """The max_tokens/max_lines whale guards: a ~1M-token document is
    QUARANTINED (passes through flagged, never building a 1M-entry
    reassembly buffer, never contributing spans/lines), while the small
    docs' results are identical to the uncapped run on them alone; the
    uncapped schema is unchanged."""
    from operator_families.functions.chunking import (
        encode_tokens,
    )
    from operator_families.functions.text import (
        remove_boilerplate_lines,
        remove_repeated_spans,
    )

    whale = " ".join(f"w{i % 97}" for i in range(1_000_000))
    small = [
        (1, "the same boiler span here plus alpha"),
        (2, "the same boiler span here plus beta"),
        (3, "unique words only gamma delta"),
    ]
    docs = spark.createDataFrame(
        small + [(9, whale)], ["doc_id", "text"]
    )
    small_df = spark.createDataFrame(small, ["doc_id", "text"])

    # --- remove_repeated_spans ---
    capped = remove_repeated_spans(docs, n=5, min_docs=2, max_tokens=10_000)
    rows = {r.doc_id: r for r in capped.collect()}
    assert rows[9].quarantined and rows[9].n_removed == 0
    assert rows[9].n_tokens == 1_000_000
    base = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in remove_repeated_spans(small_df, n=5, min_docs=2).collect()
    }
    for i in (1, 2, 3):
        assert not rows[i].quarantined
        assert (rows[i].clean_text, rows[i].n_removed) == base[i]
    # whale spans did NOT enter the shared counts: doc 3 untouched even
    # if the whale repeated its vocabulary
    assert rows[3].n_removed == 0
    # uncapped schema is the original four columns
    assert "quarantined" not in remove_repeated_spans(small_df).columns

    # --- encode_tokens ---
    vocab = spark.createDataFrame(
        [("the", 1), ("same", 2), ("alpha", 3)], ["term", "token_id"]
    )
    enc = {
        r.doc_id: r
        for r in encode_tokens(docs, vocab, max_tokens=10_000).collect()
    }
    assert enc[9].quarantined and enc[9].token_ids is None
    assert enc[9].n_tokens == 1_000_000 and enc[9].n_oov is None
    assert not enc[1].quarantined
    assert enc[1].token_ids[:2] == [1, 2]  # 'the same ...'
    assert "quarantined" not in encode_tokens(small_df, vocab).columns

    # --- remove_boilerplate_lines ---
    many_lines = "\n".join(f"line {i}" for i in range(50_000))
    ldocs = spark.createDataFrame(
        [(1, "keep me\nshared footer"), (2, "other text\nshared footer"),
         (3, "solo"), (9, many_lines)],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r
        for r in remove_boilerplate_lines(
            ldocs, min_docs=2, max_lines=1_000
        ).collect()
    }
    assert got[9].quarantined and got[9].clean_text == many_lines
    assert got[9].n_lines_kept == 50_000 and got[9].n_lines_removed == 0
    assert not got[1].quarantined
    assert got[1].clean_text == "keep me" and got[1].n_lines_removed == 1
    assert "quarantined" not in remove_boilerplate_lines(
        ldocs.filter("doc_id < 9"), min_docs=2
    ).columns


def test_encode_tokens_null_text_routes_to_base_when_capped(spark):
    from pyspark.sql import Row
    from operator_families.functions.chunking import (
        encode_tokens,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c"), Row(doc_id=2, text=None)]
    )
    vocab = spark.createDataFrame(
        [Row(term="a", token_id=1), Row(term="b", token_id=2)]
    )
    out = {r.doc_id: r for r in encode_tokens(
        docs, vocab, max_tokens=10
    ).collect()}
    # the NULL-text doc must survive the capped split (not vanish from
    # both branches) and mirror the uncapped empty-doc row
    assert 2 in out and out[2].quarantined is False
    assert out[1].quarantined is False and out[1].n_tokens == 3


def test_span_corruption_whale_guard(spark):
    """max_tokens quarantines overlong docs (NULL span fields, true
    n_tokens) while normal docs mask identically to the uncapped call."""
    from pyspark.sql import Row

    from operator_families.functions.chunking import (
        span_corruption_masks,
    )

    rows = [
        Row(doc_id=1, text="a b c d e f g h"),
        Row(doc_id=2, text="x " * 5000),  # whale
    ]
    df = spark.createDataFrame(rows)
    capped = span_corruption_masks(
        df, rate_mod=3, min_len=1, len_mod=2, max_tokens=100
    ).collect()
    q = [r for r in capped if r.quarantined]
    assert len(q) == 1 and q[0].doc_id == 2
    assert q[0].span_id is None and q[0].start_pos is None
    assert q[0].n_tokens == 5000
    normal_capped = sorted(
        (r.doc_id, r.span_id, r.start_pos, r.span_len)
        for r in capped
        if not r.quarantined
    )
    uncapped = sorted(
        (r.doc_id, r.span_id, r.start_pos, r.span_len)
        for r in span_corruption_masks(
            df.filter("doc_id = 1"), rate_mod=3, min_len=1, len_mod=2
        ).collect()
    )
    assert normal_capped == uncapped
