"""Document chunking and sequence packing — the training-batch shapers.

The step between a cleaned corpus and a training run: documents become
fixed-size token windows (``chunk_documents``), and the corpus is laid out
into contiguous context-window sequences (``pack_sequences``, the
concatenate-then-chunk layout GPT-style pipelines use: documents are
concatenated in a deterministic order and the stream is cut every
``window`` tokens, so a document may straddle a sequence boundary).

Both are pure DataFrame plans (no UDFs) and both are deterministic on any
partitioning, which is what makes a packed dataset reproducible: the same
corpus always yields the same sequence layout, so a training run can be
resumed or replayed against independently rebuilt shards.  All offset
arithmetic is integer (``div``), never floating division — float-cast
truncation differs between engines (DuckDB rounds double->int casts).

Scale notes (100 TB):
- chunking is embarrassingly parallel — one ``explode`` over per-row
  start offsets, no shuffle at all;
- packing needs a GLOBAL running token count, which a naive
  ``Window.orderBy`` would serialize onto one partition.  It is computed
  by ``prefixsum.running_total``'s three-level block scheme (see that
  module): the only single-partition window runs over one row per
  ``block_size**2`` documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens

__all__ = ["chunk_documents", "encode_tokens", "pack_sequences"]


def encode_tokens(
    docs: DataFrame,
    vocab: DataFrame,
    oov_id: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int | None = None,
) -> DataFrame:
    """Tokenizer APPLY: map each document's token stream to integer ids
    through a vocabulary table — the encode step between a cleaned corpus
    and :func:`pack_sequences` (which packs token COUNTS; this produces
    the ids a training run actually consumes).

    ``vocab`` is a ``(term, token_id)`` DataFrame (build one with
    :func:`.text.vocab_coverage` + a rank, or load a real tokenizer's
    vocab exported as a table).  Out-of-vocabulary tokens encode as
    ``oov_id`` and are counted.  Empty/whitespace docs yield an empty id
    array.

    Returns (id_col, token_ids array<int>, n_tokens, n_oov) — plus a
    ``quarantined`` boolean when ``max_tokens`` is set.

    ``max_tokens`` is the WHALE-DOC guard: the reassembly sort buffer is
    bounded by the document's own length, so one pathological multi-GB
    document becomes one executor's buffer.  With a cap, docs longer
    than ``max_tokens`` are QUARANTINED — emitted with ``token_ids =
    NULL`` (explicitly not encoded; never a silently truncated stream),
    their true ``n_tokens``, and ``quarantined = true`` — while every
    other doc encodes normally.  Uncapped calls keep the original
    four-column schema.

    Plan shape, audited for 100 TB: positional explode of the token
    stream (map-side), BROADCAST hash join against the vocab (model
    vocabularies are 30k-200k rows — small by nature), then ONE
    doc-keyed aggregation whose sort buffer is bounded by the document's
    own length (``array_sort`` of (pos, id) structs inside the agg — the
    same bounded-buffer reassembly ``remove_boilerplate_lines`` uses) —
    and, with ``max_tokens``, by the cap.  One corpus shuffle total; no
    UDFs; ids ride as ints, never strings.  The quarantine split is two
    map-side filters over the tokenized projection — two UNION branches,
    so the capped path re-tokenizes the corpus once per branch (compute,
    not shuffle); materialize the projection first (the
    dedup._materialize barrier) if that second regex pass matters more
    than the storage at your scale.
    """
    base = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_w"))
    quarantined = None
    if max_tokens is not None:
        # NULL text -> NULL token array -> size() is NULL, which fails
        # BOTH comparisons and would drop the doc from both branches;
        # coalesce routes NULL-text docs to the normal path (they emit
        # the same empty row the uncapped call produces)
        n_w = F.coalesce(F.size("_w"), F.lit(0))
        quarantined = base.filter(n_w > max_tokens).select(
            F.col(id_col),
            F.lit(None).cast("array<int>").alias("token_ids"),
            F.size("_w").cast("int").alias("n_tokens"),
            F.lit(None).cast("int").alias("n_oov"),
            F.lit(True).alias("quarantined"),
        )
        base = base.filter(n_w <= max_tokens)
    toks = base.select(
        F.col(id_col), F.posexplode_outer("_w")
    ).select(id_col, F.col("pos"), F.col("col").alias("_w"))
    v = F.broadcast(
        vocab.select(
            F.col("term").alias("_w"),
            F.col("token_id").cast("int").alias("_id"),
        )
    )
    # posexplode_outer keeps empty docs as one (pos NULL) row so they
    # survive the aggregation; the when() guards keep that placeholder
    # out of the id array and the OOV count (collect_list drops NULLs).
    real = F.col("pos").isNotNull()
    enc = toks.join(v, "_w", "left").select(
        id_col,
        "pos",
        F.coalesce(F.col("_id"), F.lit(oov_id).cast("int")).alias("_id"),
        (real & F.col("_id").isNull()).cast("int").alias("_oov"),
    )
    out = enc.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(real, F.struct(F.col("pos"), F.col("_id")))
                )
            ),
            lambda s: s["_id"],
        ).alias("token_ids"),
        F.count("pos").cast("int").alias("n_tokens"),
        F.sum("_oov").cast("int").alias("n_oov"),
    )
    if quarantined is not None:
        out = out.withColumn("quarantined", F.lit(False)).unionByName(
            quarantined
        )
    return out


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 8,
    overlap: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping fixed-size token windows per document.

    Chunk ``i`` covers tokens ``[i*stride, i*stride + chunk_size)`` with
    ``stride = chunk_size - overlap``; starts run while ``i*stride <
    n_tokens``, so the last chunk may be short and every token lands in at
    least one chunk.  Empty documents yield no chunks.

    Returns (id_col, chunk_no, chunk_text, chunk_tokens).
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    # trim-empty text splits to [''] (size 1, both engines) — drop those
    # rows explicitly, not via size()
    base = (
        df.filter(F.trim(F.lower(F.col(text_col))) != "")
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") > 0)
    )
    # number of starts = ceil(n / stride), integer arithmetic only
    last = F.expr(f"(size(_toks) + {stride - 1}) div {stride}") - 1
    chunk = F.slice(F.col("_toks"), F.col("chunk_no") * stride + 1, chunk_size)
    return (
        base.select(
            id_col,
            "_toks",
            F.explode(F.sequence(F.lit(0).cast("bigint"), last)).alias(
                "chunk_no"
            ),
        )
        .select(
            id_col,
            F.col("chunk_no").cast("int").alias("chunk_no"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("int").alias("chunk_tokens"),
        )
    )


def pack_sequences(
    df: DataFrame,
    window: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_size: int = 1024,
) -> DataFrame:
    """Concat-and-chunk sequence layout: where each document lands when the
    corpus is concatenated in ``id_col`` order and cut every ``window``
    tokens.

    Returns (id_col, n_tokens, start_offset, seq_id, spans_boundary):
    ``start_offset`` is the document's first token position in the global
    stream, ``seq_id = start_offset div window`` the training sequence it
    starts in, and ``spans_boundary`` whether it crosses into the next
    sequence (its tail is the next sequence's head — the standard layout;
    loss masking at boundaries is a trainer concern, not a layout one).
    Zero-token documents keep their offset with ``spans_boundary`` false.

    The global prefix sum is ``prefixsum.running_total``'s three-level
    block scheme: within-block running sums (window partitioned BY
    BLOCK), block offsets from within-SUPERBLOCK running sums over the
    one-row-per-block totals table, and a single-partition window only
    over the one-row-per-``block_size**2``-docs superblock table —
    metadata-scale even at 10^12 documents.  ``id_col`` must be a unique
    integral key (validated there).
    """
    from .prefixsum import running_total

    base = df.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("n_tokens"),
    )
    cum = running_total(
        base, F.col("n_tokens"), id_col, block_size=block_size, out_col="_end"
    ).select(
        id_col,
        "n_tokens",
        (F.col("_end") - F.col("n_tokens")).alias("start_offset"),
        "_end",
    )
    start_seq = F.expr(f"start_offset div {window}")
    end_seq = F.expr(f"(_end - 1) div {window}")
    return cum.select(
        id_col,
        "n_tokens",
        "start_offset",
        start_seq.alias("seq_id"),
        ((F.col("n_tokens") > 0) & (end_seq > start_seq)).alias(
            "spans_boundary"
        ),
    )


def span_corruption_masks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rate_mod: int = 20,
    min_len: int = 2,
    len_mod: int = 3,
    max_tokens: int | None = None,
) -> DataFrame:
    """T5-style span-corruption mask plan (Raffel et al. 2020): pick
    deterministic noise spans over each document's token positions —
    the pretraining-objective prep step (the trainer replaces each span
    with a sentinel and learns to reconstruct it).

    Spans are drawn from the repo-wide md5 hash contract, so the SAME
    masks come out on any engine, partitioning, or rerun — the property
    a resumable preprocessing pipeline needs (pandas/Spark/DuckDB all
    agree on which tokens are masked).  A position p (1-based) starts a
    span iff ``h32(doc|p) % rate_mod == 0``; its length is ``min_len +
    h32(doc|p|len) % len_mod``; spans clip at the doc end and
    OVERLAPPING spans merge (gaps-and-islands), matching the "merge
    adjacent noise" convention.  Defaults give ~5% starts x ~3 tokens
    ~= 15% corruption.

    Returns (id_col, span_id, start_pos, span_len, n_tokens) — span_id
    numbers islands per doc in position order.

    Plan: ONE pass — position sequences explode map-side (no token
    values needed, just counts), flagged starts expand map-side, then a
    doc-keyed dedup + doc-keyed islands window.  All integers.

    ``max_tokens`` is the WHALE-DOC guard (the encode_tokens contract):
    the islands window buffers a document's masked positions in one
    partition, so one pathological multi-GB doc becomes one executor's
    sort buffer.  With a cap, longer docs are QUARANTINED — one row with
    NULL span fields, their true ``n_tokens``, ``quarantined = true`` —
    and a ``quarantined`` boolean is appended to every row.
    """
    from .text import hash32

    if rate_mod < 1 or min_len < 1 or len_mod < 1:
        raise ValueError("rate_mod, min_len, len_mod must be >= 1")
    # Empty/whitespace-only docs split to [''] (the empty-split sentinel,
    # _n = 1) which would let position 1 start a span over a nonexistent
    # token — size them 0 explicitly, like chunk_documents does.
    t = F.trim(F.lower(F.col(text_col)))
    n_expr = F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))
    base = docs.select(F.col(id_col).alias("doc"), n_expr.alias("_n"))
    quarantined = None
    if max_tokens is not None:
        n_w = F.coalesce(F.col("_n"), F.lit(0))
        quarantined = base.filter(n_w > max_tokens).select(
            F.col("doc").alias(id_col),
            F.lit(None).cast("int").alias("span_id"),
            F.lit(None).cast("bigint").alias("start_pos"),
            F.lit(None).cast("bigint").alias("span_len"),
            F.col("_n").cast("bigint").alias("n_tokens"),
            F.lit(True).alias("quarantined"),
        )
        base = base.filter(n_w <= max_tokens)
    # _n >= 1 guard: sequence(1, 0) would DESCEND ([1, 0]) rather than be
    # empty, so zero-token docs must be filtered before the explode.
    pos = base.filter(F.col("_n") >= 1).select(
        "doc",
        "_n",
        F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("_p"),
    )
    key = F.concat(
        F.col("doc").cast("string"), F.lit("|"), F.col("_p").cast("string")
    )
    flagged = pos.filter(hash32(key) % rate_mod == 0).select(
        "doc",
        "_n",
        "_p",
        (
            F.lit(min_len) + hash32(F.concat(key, F.lit("|len"))) % len_mod
        ).alias("_len"),
    )
    masked = flagged.select(
        "doc",
        "_n",
        F.explode(
            F.sequence(
                F.col("_p"),
                F.least(F.col("_p") + F.col("_len") - 1, F.col("_n")),
            )
        ).alias("_mp"),
    ).distinct()
    from pyspark.sql import Window

    w1 = Window.partitionBy("doc").orderBy("_mp")
    isl = masked.withColumn(
        "_brk",
        F.when(F.col("_mp") - F.lag("_mp").over(w1) == 1, 0).otherwise(1),
    )
    grp = isl.withColumn(
        "_g",
        F.sum("_brk").over(
            w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    out = (
        grp.groupBy("doc", "_g")
        .agg(
            F.min("_mp").cast("bigint").alias("start_pos"),
            F.count("*").alias("span_len"),
            F.max("_n").cast("bigint").alias("n_tokens"),
        )
        .select(
            F.col("doc").alias(id_col),
            F.col("_g").cast("int").alias("span_id"),
            "start_pos",
            "span_len",
            "n_tokens",
        )
    )
    if quarantined is not None:
        out = out.withColumn("quarantined", F.lit(False)).unionByName(
            quarantined
        )
    return out


def bpe_merge_table(
    docs: DataFrame,
    k: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """One training round of byte-pair encoding over the corpus: the
    top-``k`` adjacent CHARACTER pairs inside ASCII-printable words,
    ranked by (count desc, pair asc — a total order, so the table is
    engine-exact).  This is the merge list :func:`bpe_encode_pieces`
    applies; real multi-round BPE training recounts after each merge
    (inherently iterative), but the round-1 table is already the
    corpus-adapted subword inventory a pipeline publishes as an
    artifact — and it is fully SQL-expressible, so the build itself is
    oracle-gated.

    Plan: map-side word explode + position explode (fan-out bounded by
    word length), ONE pair-keyed partial-agg shuffle, top-k over the
    pair-count frame (vocabulary-scale, tiny).  Output: (rank, pair,
    left_sym, right_sym, n) — rank 0 merges first.
    """
    words = docs.select(
        F.explode(tokens(F.col(text_col))).alias("_w")
    ).filter(F.col("_w").rlike("^[!-~]+$") & (F.length("_w") >= 2))
    pairs = words.select(
        F.explode(F.sequence(F.lit(1), F.length("_w") - 1)).alias("_i"),
        F.col("_w"),
    ).select(F.substring(F.col("_w"), F.col("_i"), 2).alias("pair"))
    counted = pairs.groupBy("pair").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.orderBy(F.col("n").desc(), F.col("pair").asc())
    return (
        counted.withColumn("rank", F.row_number().over(w) - 1)
        .filter(F.col("rank") < k)
        .select(
            F.col("rank").cast("int").alias("rank"),
            "pair",
            F.substring("pair", 1, 1).alias("left_sym"),
            F.substring("pair", 2, 1).alias("right_sym"),
            "n",
        )
    )


def bpe_word_pieces(word: str, ranks: dict) -> list[str]:
    """Greedy BPE apply for ONE word (GPT-2 convention, public
    algorithm): start from characters; repeatedly merge ALL occurrences
    of the present pair with the lowest rank until none remains.
    ``ranks`` maps 'xy' 2-char pair -> merge priority (lower first).
    Shared by the Arrow kernel and the driver-local oracle reference
    sweep — pytest pins hand-computed outcomes so the shared function
    cannot hide a semantics bug from the gate."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for a, b in zip(syms, syms[1:]):
            r = ranks.get(a + b)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, a + b
        if best_pair is None:
            break
        merged, i = [], 0
        while i < len(syms):
            if (
                i + 1 < len(syms)
                and syms[i] + syms[i + 1] == best_pair
            ):
                merged.append(best_pair)
                i += 2
            else:
                merged.append(syms[i])
                i += 1
        syms = merged
    return syms


def bpe_encode_pieces(
    docs: DataFrame,
    merge_ranks: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BPE tokenizer APPLY over the corpus: every ASCII-printable word
    runs :func:`bpe_word_pieces` against the published merge table; the
    per-doc outputs are exact integers an independent reference sweep
    can reproduce —

    - ``n_words`` / ``n_chars``: ASCII-word and character mass (the
      oracle recomputes BOTH natively in SQL — piece-length mass must
      conserve characters, so a splitting bug that loses or duplicates
      bytes is caught without the artifact);
    - ``n_pieces``: total subword count;
    - ``piece_weighted``: sum over the doc's piece stream (word order x
      piece order) of (position+1) * len(piece) — pins piece BOUNDARIES
      and ORDER, not just counts.

    ``merge_ranks`` is a plain dict (pair -> rank) captured in the Arrow
    kernel's closure — merge tables are inherently artifact-sized (30k
    merges in real tokenizers), the broadcast-variable case.  Scale
    shape: map-only ``mapInPandas``, zero shuffles; per-word work is
    bounded by word length squared (words, not documents, bound the
    inner loop).
    """
    import re as _re

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, docs.schema[id_col].dataType),
            T.StructField("n_words", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("n_pieces", T.LongType()),
            T.StructField("piece_weighted", T.LongType()),
        ]
    )
    word_re = _re.compile(r"^[!-~]+$")

    def batch(batches):
        import pandas as pd

        memo: dict[str, list[str]] = {}  # corpora repeat words heavily
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    rows.append((doc_id, 0, 0, 0, 0))
                    continue
                nw = nc = np_ = wt = 0
                pos = 0
                # ASCII whitespace class ONLY: Python's \s is
                # Unicode-aware, but bpe_merge_table's tokenizer (Java
                # regex \s = [ \t\n\x0B\f\r], exactly this class) splits
                # on ASCII whitespace — a document containing e.g.
                # U+00A0 must tokenize identically.  NOTE: RE2's \s is
                # [\t\n\f\r ] and EXCLUDES \x0B, so a DuckDB twin must
                # spell this class out explicitly instead of using \s.
                for w in _re.split(
                    r"[ \t\n\r\f\v]+", text.strip(" \t\n\r\f\v").lower()
                ):
                    if not w or not word_re.match(w):
                        continue
                    nw += 1
                    nc += len(w)
                    pieces = memo.get(w)
                    if pieces is None:
                        pieces = bpe_word_pieces(w, merge_ranks)
                        memo[w] = pieces
                    for piece in pieces:
                        pos += 1
                        np_ += 1
                        wt += pos * len(piece)
                rows.append((doc_id, nw, nc, np_, wt))
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "n_words", "n_chars", "n_pieces",
                    "piece_weighted",
                ],
            )

    return docs.select(id_col, text_col).mapInPandas(batch, out_schema)


def cdc_chunk_stats(
    docs: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    mask: int = 63,
) -> DataFrame:
    """Content-defined chunking over document bytes — the sub-document
    dedup primitive (rsync/LBFS/FastCDC family, public literature):
    chunk boundaries fall where a rolling content hash hits a mask, so
    an insertion shifts ONE chunk instead of re-aligning every
    fixed-size block after it.

    This variant uses a STATELESS 4-byte window hash
    ``H(i) = (8 g(b[i-3]) + 4 g(b[i-2]) + 2 g(b[i-1]) + g(b[i])) mod
    2^32`` with the Knuth multiplicative ``g(b) = 2654435761 b mod
    2^32`` — a closed form per position, so both engines compute
    boundaries with pure window functions and the whole operator is
    shuffle-bounded by the corpus token mass (production FastCDC adds
    min/max chunk fences, which make the scan sequential; that
    extension is the documented next step, not this contract).
    A boundary after position ``i`` (0-based) opens a new chunk at
    ``i + 1``.

    Plan: one per-character explode (the corpus byte mass — the
    irreducible input), three lags + one cumulative window on the
    (doc, position) key, two keyed aggregations.  The row-per-byte
    formulation is the ORACLE-SHARED reference; at petabyte scale the
    same closed form runs as a per-document Arrow byte kernel (one row
    per doc, identical boundaries) — the window form is what makes the
    operator SQL-checkable.  Output per doc:
    (doc_id, n_bytes, n_chunks, max_chunk_bytes, chunks_weighted =
    sum over chunks of (chunk_index + 1) * chunk byte sum — the
    boundary-placement pin).
    """
    from pyspark.sql import Window

    chars = docs.select(
        F.col(doc_col).alias("_doc"),
        F.posexplode(F.split(F.col(text_col), "")).alias("_p", "_c"),
    ).filter(F.col("_c") != "")
    g = lambda c: (F.ascii(c) * F.lit(2654435761)) % F.lit(4294967296)
    w = Window.partitionBy("_doc").orderBy("_p")
    h = (
        F.lit(8) * g(F.lag("_c", 3).over(w))
        + F.lit(4) * g(F.lag("_c", 2).over(w))
        + F.lit(2) * g(F.lag("_c", 1).over(w))
        + g(F.col("_c"))
    ) % F.lit(4294967296)
    flagged = chars.select(
        "_doc", "_p", F.ascii("_c").alias("_b"),
        F.when(
            F.lag("_c", 3).over(w).isNotNull() & (h % (mask + 1) == 0),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("_cut"),
    )
    wc = Window.partitionBy("_doc").orderBy("_p").rowsBetween(
        Window.unboundedPreceding, -1
    )
    assigned = flagged.select(
        "_doc", "_b",
        F.coalesce(F.sum("_cut").over(wc), F.lit(0)).alias("_chunk"),
    )
    per_chunk = assigned.groupBy("_doc", "_chunk").agg(
        F.count("*").cast("bigint").alias("_cb"),
        F.sum("_b").cast("bigint").alias("_cs"),
    )
    return per_chunk.groupBy("_doc").agg(
        F.sum("_cb").cast("bigint").alias("n_bytes"),
        F.count("*").cast("bigint").alias("n_chunks"),
        F.max("_cb").cast("bigint").alias("max_chunk_bytes"),
        F.sum((F.col("_chunk") + 1) * F.col("_cs"))
        .cast("bigint")
        .alias("chunks_weighted"),
    ).select(
        F.col("_doc").alias("doc_id"),
        "n_bytes", "n_chunks", "max_chunk_bytes", "chunks_weighted",
    )
