"""Full-text relevance search: BM25-style scoring over an inverted index.

The retrieval operator of a corpus engine: score every document against a
bag-of-terms query and return the top-k.  Classic BM25 (Robertson et al.,
Okapi) with one documented deviation: the IDF weight is the RATIONAL
``(N - df + 0.5) / (df + 0.5)`` instead of its logarithm — transcendental
functions differ across engines' libm in the last ulp, while the rational form is exact integer
arithmetic plus one IEEE division, bit-reproducible anywhere.  Per-term
weighting is still monotone-decreasing in df and the saturation /
length-normalization behavior (k1, b) is untouched.

Scale shape: the token array is filtered to the query terms BEFORE the
explode (a codegen higher-order ``filter``), so only query-term
occurrences ever become rows — for a 5-term query over a web corpus
that is orders of magnitude fewer exploded rows than the full token
stream.  Document length rides along that same projection, which makes
term frequencies ONE (doc,term)-keyed aggregation with dl carried as
``max`` — no separate doc-length frame and no doc-keyed shuffle join.
Document frequencies derive from the tf frame (one row per (doc,term)
already) and broadcast; corpus stats (N, avgdl) are a 1-row broadcast;
the final top-k is ``orderBy().limit(k)`` (TakeOrderedAndProject —
per-partition top-k, driver merges k per partition), never a global
sort or single-partition window.  Per-doc score summation is
DECIMAL(38,18) so the result is bit-identical under any partitioning
(double addition does not commute; decimal does).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens

__all__ = ["bm25_topk", "reciprocal_rank_fusion", "tfidf_top_terms"]


def bm25_topk(
    docs: DataFrame,
    terms: Sequence[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents for a bag-of-terms query by rational-IDF BM25.

    Returns (id_col, score, rank) — score rounded to 6, rank 1-based with
    ties broken on ascending id.  Documents containing none of the query
    terms are not scored.
    """
    terms = [t.lower() for t in terms]
    term_arr = F.array(*[F.lit(t) for t in terms])
    # doc length comes straight from the token-array size (map-side); the
    # array is filtered to the query terms BEFORE the explode so only
    # query-term occurrences become rows, with dl riding along — no
    # separate doc-length frame, no doc-keyed shuffle join below
    base = docs.select(
        F.col(id_col).alias("doc"),
        tokens(F.col(text_col)).alias("_toks"),
    ).select(
        "doc",
        F.size(F.col("_toks")).cast("bigint").alias("dl"),
        F.filter(
            F.col("_toks"), lambda t: F.array_contains(term_arr, t)
        ).alias("_qtoks"),
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        base.select("doc", "dl", F.explode("_qtoks").alias("term"))
        .groupBy("doc", "term")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
    )
    # tf is already one row per (doc, term): df needs no distinct pass
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))

    idf = (
        (F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    num = F.col("tf").cast("double") * F.lit(k1 + 1.0)
    den = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b)
        + F.lit(b) * (F.col("dl").cast("double") / F.col("avgdl"))
    )
    contrib = (idf * num) / den

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        # decimal summands: the cross-term sum is exact, hence stable
        # under any partitioning / AQE replan
        .groupBy("doc")
        .agg(
            F.round(
                F.sum(contrib.cast("decimal(38,18)")).cast("double"), 6
            ).alias("score")
        )
    )
    top = scored.orderBy(F.desc("score"), F.asc("doc")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc"))
    return top.select(
        F.col("doc").alias(id_col),
        "score",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF — the keyword-extraction /
    document-representation primitive (search snippets, topic labels,
    sparse doc vectors).

    Same rational-IDF contract as :func:`bm25_topk`: the weight is
    ``tf * (N + 1) / (df + 1)`` — exact integer numerator and
    denominator, ONE IEEE division — instead of the log form, because
    transcendentals differ across engines in the last ulp while this is
    bit-reproducible anywhere and identically monotone (decreasing in
    df, increasing in tf).  Ties break on the term string ascending, so
    the kept set is total-ordered.

    Returns (id_col, term, tf, df, score, rank) with rank 1..k per doc.

    Plan shape: tokenize+explode map-side; ONE (doc,term)-keyed count
    for tf; df and the corpus doc count derive from that same frame (no
    second corpus scan — df is a term-keyed partial agg, N a 1-row
    broadcast); the per-doc top-k window partitions on the doc key and
    its frame is bounded by the doc's own distinct-term count.  No
    broadcast of the vocabulary (term-keyed equi-join), no global sort.
    """
    tf = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("doc", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = tf.select("doc").distinct().agg(
        F.count("*").alias("_N")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc",
            "term",
            F.col("tf").cast("int").alias("tf"),
            F.col("df").cast("int").alias("df"),
            F.round(
                (F.col("tf") * (F.col("_N") + 1)).cast("double")
                / (F.col("df") + 1),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("doc").alias(id_col), "term", "tf", "df", "score", "rank"
        )
    )


def reciprocal_rank_fusion(
    rankings: Sequence[DataFrame],
    k_const: int = 60,
    top_k: int = 10,
    query_col: str = "query_id",
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al., SIGIR'09 — public method):
    combine per-query rankings from multiple retrieval systems as
    ``score(item) = sum over systems of 1 / (k_const + rank)``, items a
    system missed contributing nothing.  The standard zero-training way
    to fuse lexical + dense (or multi-resolution) retrieval.

    Determinism: double summation does not commute, so the per-system
    contributions are NOT an aggregate — the rankings full-outer-join on
    (query, item) and the score is ONE fixed left-to-right IEEE addition
    chain in system order, bit-identical on any engine and partitioning.
    Final order: (rrf_score desc, item) with row_number, top_k kept.

    Scale shape: len(rankings)-1 equi-joins on (query, item) — ranked
    lists are top-k-sized (k rows per query per system), orders of
    magnitude smaller than the corpora they rank — then one query-keyed
    window.  Output: (query, item, per-system ranks, rrf_score,
    fused_rank).
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    sides = []
    for i, r in enumerate(rankings):
        sides.append(
            r.select(
                F.col(query_col),
                F.col(item_col),
                F.col(rank_col).cast("int").alias(f"rank_{i}"),
            )
        )
    fused = sides[0]
    for s in sides[1:]:
        fused = fused.join(s, [query_col, item_col], "full_outer")
    score = None
    for i in range(len(sides)):
        term = F.when(
            F.col(f"rank_{i}").isNotNull(),
            F.lit(1.0) / (F.lit(k_const) + F.col(f"rank_{i}")).cast("double"),
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_score"), F.asc(item_col)
    )
    return (
        fused.withColumn("rrf_score", F.round(score, 9))
        .withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= top_k)
        .select(
            query_col,
            item_col,
            *[f"rank_{i}" for i in range(len(sides))],
            "rrf_score",
            "fused_rank",
        )
    )
