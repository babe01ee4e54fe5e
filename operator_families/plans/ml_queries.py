"""Gate queries for the training-data operators (dedup, similarity search,
text analysis, multimodal) over ``documents`` and ``embeddings``.

Every oracle replicates the Spark expression EXACTLY (same tokenization,
same md5-derived hash family, same cast/round order) — see functions/text.py
for the shared hash contract.  LSH queries replicate the full LSH algorithm
in SQL, not just its output shape, so candidate recall is compared too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nl_railtraffic_etl_pipeline_spark.plans.testdata import load_table

from ..functions import dedup, graph, multimodal, simsearch
from ..functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    avg_token_len,
    fingerprint,
    predicted_lang,
    punct_count,
    stopword_ratio,
    token_count,
    tokens,
)
from .registry import query

# ---------------------------------------------------------------------------
# Per-application artifact cache.  Shingle sets, signature tables, and ANN
# indexes are offline artifacts in a real pipeline (persisted once per
# corpus, queried many times); computing them once per Spark application
# mirrors that, exactly like the materialized warehouse tables in
# testdata.py.  Keyed on applicationId so a fresh session rebuilds.
# ---------------------------------------------------------------------------
_ARTIFACTS: dict = {}


def _artifact(spark: SparkSession, sf_dir: str, name: str, build):
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _ARTIFACTS:
        _ARTIFACTS[key] = build()
    return _ARTIFACTS[key]

# Shared DuckDB fragments mirroring functions/text.py exactly.
_TOKENS = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_H32 = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT)"
_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {_TOKENS} AS w FROM documents),
shingles AS (
    SELECT doc_id,
           unnest(list_distinct(
               [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                for i in range(1, len(w) - 1)]
           )) AS shingle
    FROM toks WHERE len(w) >= 3
)
"""
_EXACT_JACCARD_SQL = """
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
    FROM shingles a JOIN shingles b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jac AS (
    SELECT doc_a, doc_b,
           ROUND(shared / CAST(sa.sz + sb.sz - shared AS DOUBLE), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
)
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
_SW = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@query(
    "text_quality_features",
    f"""
WITH t AS (SELECT doc_id, text, {_TOKENS} AS toks FROM documents)
SELECT doc_id,
       length(text) AS n_chars,
       len(toks) AS n_tokens,
       ROUND(list_sum(list_transform(toks, x -> length(x)))
             / CAST(len(toks) AS DOUBLE), 4) AS avg_token_len,
       ROUND((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
             / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
       ROUND(len(list_filter(toks, x -> list_contains({_SW}, x)))
             / CAST(len(toks) AS DOUBLE), 4) AS stopword_ratio,
       CASE WHEN len(toks) < 5 THEN 'too_short'
            WHEN len(list_filter(toks, x -> list_contains({_SW}, x)))
                 / CAST(len(toks) AS DOUBLE) > 0.5 THEN 'low_content'
            ELSE 'ok' END AS quality_bucket
FROM t
""",
)
def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = tokens(F.col("text"))
    swr = stopword_ratio(toks)
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        F.round(avg_token_len(toks), 4).alias("avg_token_len"),
        F.round(punct_count(F.col("text")) / F.length("text"), 4).alias(
            "punct_ratio"
        ),
        F.round(swr, 4).alias("stopword_ratio"),
        F.when(token_count(F.col("text")) < 5, "too_short")
        .when(swr > 0.5, "low_content")
        .otherwise("ok")
        .alias("quality_bucket"),
    )


_MARKER_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in ws) + "]"
    for lang, ws in LANG_MARKERS.items()
}
_SCORE_SQL = {
    lang: f"len(list_intersect(list_distinct(toks), {m}))"
    for lang, m in _MARKER_SQL.items()
}
_BEST_SQL = "GREATEST(" + ", ".join(_SCORE_SQL[x] for x in LANG_MARKERS) + ")"
_PRED_SQL = "CASE " + " ".join(
    f"WHEN {_SCORE_SQL[lang]} = {_BEST_SQL} THEN '{lang}'"
    for lang in LANG_MARKERS
) + " END"


@query(
    "text_language_id",
    f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents)
SELECT doc_id,
       {_PRED_SQL} AS predicted_lang,
       CAST({_BEST_SQL} AS INTEGER) AS marker_hits
FROM t
""",
)
def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = tokens(F.col("text"))
    from ..functions.text import lang_scores

    best = F.greatest(*lang_scores(toks).values())
    return d.select(
        "doc_id",
        predicted_lang(toks).alias("predicted_lang"),
        best.cast("int").alias("marker_hits"),
    )


@query(
    "text_fingerprints",
    """
SELECT doc_id,
       md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
FROM documents
""",
)
def _fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )


@query(
    "text_token_stats",
    f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks,
                  regexp_extract_all(lower(text), '\\w+|[^\\w\\s]') AS bpe
           FROM documents)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_ws_tokens,
       CAST(len(bpe) AS INTEGER) AS n_bpe_tokens,
       list_reduce(list_transform(toks, t -> {_H32.format(x='t')}),
                   (a, b) -> (a * 31 + b) % 2147483647) AS rolling_fp
FROM t
""",
)
def _token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import bpe_ish_tokens, rolling_fingerprint

    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_ws_tokens"),
        F.size(bpe_ish_tokens(F.col("text"))).cast("int").alias("n_bpe_tokens"),
        rolling_fingerprint(toks).alias("rolling_fp"),
    )


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------
@query(
    "dedup_exact_groups",
    """
SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS representative_id
FROM documents
GROUP BY fp
""",
)
def _exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dup_groups(
        load_table(spark, sf_dir, "documents"), "text", "doc_id"
    )


#: Shingles occurring in more than DF_CAP rows are dropped before Jaccard —
#: boilerplate removal + skew control (functions/dedup.py docstring).
_DF_CAP = 100


@query(
    "dedup_ngram_jaccard",
    f"WITH {_SHINGLES_CTE.strip()}"
    + f""",
hot AS (
    SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) > {_DF_CAP}
),
kept AS (
    SELECT s.doc_id, s.shingle FROM shingles s
    WHERE s.shingle NOT IN (SELECT shingle FROM hot)
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
    FROM kept a JOIN kept b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jac AS (
    SELECT doc_a, doc_b,
           ROUND(shared / CAST(sa.sz + sb.sz - shared AS DOUBLE), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.2
""",
)
def _ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    arrays = _artifact(
        spark, sf_dir, "doc_shingles_3", lambda: dedup.shingle_arrays(docs)
    )
    return dedup.ngram_jaccard_pairs(
        docs, threshold=0.2, df_cap=_DF_CAP, arrays=arrays
    )


_MH = _H32.format(x="CAST(seed AS VARCHAR) || ':' || shingle")


#: Shared CTE chain ending in `mh_pairs` (the verified MinHash-LSH pair
#: set) — consumed by the pairs gate AND the clustering gate's oracle.
_MINHASH_CTES = (
    f"{_SHINGLES_CTE.strip()}, {_EXACT_JACCARD_SQL.strip()}"
    + f""",
sigs AS (
    SELECT doc_id, s.seed, MIN({_MH}) AS mh
    FROM shingles, unnest(range(0, 12)) AS s(seed)
    GROUP BY doc_id, s.seed
),
bands AS (
    SELECT doc_id, seed // 3 AS band,
           string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS band_key
    FROM sigs GROUP BY doc_id, band
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
mh_pairs AS (
    SELECT j.doc_a, j.doc_b, j.jaccard
    FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
    WHERE j.jaccard >= 0.2
)"""
)


def _minhash_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    arrays = _artifact(
        spark, sf_dir, "doc_shingles_3", lambda: dedup.shingle_arrays(docs)
    )
    return dedup.minhash_lsh_pairs(docs, threshold=0.2, arrays=arrays)


@query(
    "dedup_minhash_lsh",
    f"WITH {_MINHASH_CTES}\nSELECT doc_a, doc_b, jaccard FROM mh_pairs",
)
def _minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs_df(spark, sf_dir)


@query(
    "dedup_clusters",
    # Duplicate clusters = connected components over the near-dup pair
    # graph; the oracle walks reachability with a recursive CTE and takes
    # each node's minimum reachable id — exactly the min-label fixpoint
    # the Spark operator converges to.
    f"""
WITH RECURSIVE {_MINHASH_CTES},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
    UNION ALL
    SELECT doc_b, doc_a FROM mh_pairs
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
reach(doc, lab) AS (
    SELECT doc, doc FROM nodes
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc
)
SELECT doc, MIN(lab) AS cluster_rep FROM reach GROUP BY doc
""",
)
def _clusters_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged duplicate-cluster labels — a corpus-level artifact like the
    LSH/IVF indexes (the fixpoint loop runs once per application)."""
    return _artifact(
        spark,
        sf_dir,
        "dup_clusters",
        lambda: dedup._materialize(
            dedup.duplicate_clusters(_minhash_pairs_df(spark, sf_dir))
        ),
    )


@query(
    "corpus_clean",
    # The composed hygiene pipeline: exact-dedup representatives, minus
    # near-dup cluster losers (recursive-CTE components over the MinHash
    # pair graph of the EXACT-KEPT docs — the exact-first ordering the
    # Spark operator uses), minus low-quality docs — the full
    # training-corpus prep as ONE query.
    f"""
WITH RECURSIVE exact_reps AS (
    SELECT MIN(doc_id) AS doc_id
    FROM documents
    GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
),
corpus_docs AS (
    SELECT d.* FROM documents d JOIN exact_reps k ON k.doc_id = d.doc_id
),
{_MINHASH_CTES.replace("FROM documents", "FROM corpus_docs")},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
    UNION ALL
    SELECT doc_b, doc_a FROM mh_pairs
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
reach(doc, lab) AS (
    SELECT doc, doc FROM nodes
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc
),
losers AS (
    SELECT doc FROM (SELECT doc, MIN(lab) AS rep FROM reach GROUP BY doc)
    WHERE doc <> rep
),
t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents)
SELECT t.doc_id, CAST(len(t.toks) AS INTEGER) AS n_tokens
FROM t
JOIN exact_reps k ON k.doc_id = t.doc_id
WHERE t.doc_id NOT IN (SELECT doc FROM losers)
  AND len(t.toks) >= 5
  AND len(list_filter(t.toks, x -> list_contains({_SW}, x)))
      / CAST(len(t.toks) AS DOUBLE) <= 0.5
""",
)
def _corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.corpus import clean_corpus

    # Exact-first clusters are their own corpus artifact (distinct from the
    # full-corpus `dup_clusters` the standalone clustering gate audits).
    docs = load_table(spark, sf_dir, "documents")
    clusters = _artifact(
        spark,
        sf_dir,
        "dup_clusters_exact_first",
        lambda: dedup._materialize(
            dedup.duplicate_clusters(
                dedup.minhash_lsh_pairs(
                    docs.join(
                        dedup.exact_dup_groups(docs, "text", "doc_id").select(
                            F.col("representative_id").alias("doc_id")
                        ),
                        "doc_id",
                        "left_semi",
                    ),
                    threshold=0.2,
                )
            )
        ),
    )
    return clean_corpus(docs, clusters=clusters)


_SIMHASH_BITS_SQL = ", ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(32)
)
_SIMHASH_SUM_SQL = " + ".join(
    f"CASE WHEN b{i} > 0 THEN {2**i} ELSE 0 END" for i in range(32)
)


@query(
    "dedup_simhash_pairs",
    f"""
WITH toks AS (
    SELECT doc_id, unnest(list_distinct({_TOKENS})) AS tok FROM documents
),
hashed AS (SELECT doc_id, {_H32.format(x='tok')} AS h FROM toks),
votes AS (SELECT doc_id, {_SIMHASH_BITS_SQL} FROM hashed GROUP BY doc_id),
sims AS (
    SELECT doc_id AS doc, CAST({_SIMHASH_SUM_SQL} AS BIGINT) AS simhash
    FROM votes
)
SELECT a.doc AS doc_a, b.doc AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sims a JOIN sims b ON a.doc < b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
""",
)
def _simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sims = _artifact(
        spark,
        sf_dir,
        "doc_simhash32",
        lambda: dedup._materialize(dedup.simhash32(docs, "text", "doc_id")),
    )
    return dedup.simhash_pairs(docs, max_hamming=1, sims=sims).withColumn(
        "hamming", F.col("hamming").cast("int")
    )


_COS_SQL = """
ROUND(
  list_sum(list_transform(list_zip(a.{va}, b.{vb}),
           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(a.{va}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(b.{vb}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
6)
"""


@query(
    "dedup_embedding_cosine",
    f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_COS_SQL.format(va='embedding', vb='embedding')} AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_COS_SQL.format(va='embedding', vb='embedding')} > 0.35
""",
)
def _emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_near_dup_pairs_blocked(
        load_table(spark, sf_dir, "embeddings"), threshold=0.35
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
_KNN_QUERY_IDS = [0, 1, 2, 3, 4]


@query(
    "sim_knn_bruteforce",
    f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv FROM embeddings
    WHERE vec_id IN ({", ".join(map(str, _KNN_QUERY_IDS))})
),
scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           {_COS_SQL.format(va='qv', vb='embedding').replace('a.', 'q.').replace('b.', 'c.')} AS cosine
    FROM embeddings c CROSS JOIN q
    WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rank
    FROM scored
) WHERE rank <= 10
""",
)
def _knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simsearch.knn_bruteforce(
        load_table(spark, sf_dir, "embeddings"), _KNN_QUERY_IDS, k=10
    )


_EMB_DIM = 64  # all driver SFs ship 64-dim embeddings (TESTDATA.md)


def _lsh_sig_sql(vec_expr: str, dim: int = _EMB_DIM, planes: int = 8) -> str:
    """DuckDB twin of ``simsearch.lsh_signature``: same md5-derived plane
    literals, same zip/transform/sum fold, same >=0 sign rule."""
    terms = []
    for i in range(planes):
        comps = simsearch.hyperplane_components(dim, i)
        arr = "[" + ", ".join(repr(c) for c in comps) + "]"
        dot = (
            f"list_sum(list_transform(list_zip({vec_expr}, {arr}), "
            f"x -> CAST(x[1] AS DOUBLE) * x[2]))"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {2 ** i} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INTEGER)"


_LSH_COS_SQL = """
ROUND(
  list_sum(list_transform(list_zip(q.qv, c._v),
           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(c._v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
6)
"""


@query(
    "sim_knn_lsh",
    f"""
WITH tagged AS (
    SELECT vec_id AS _id, embedding AS _v,
           {_lsh_sig_sql('embedding')} AS _sig
    FROM embeddings
),
q AS (
    SELECT _id AS query_id, _v AS qv, _sig FROM tagged
    WHERE _id IN ({", ".join(map(str, _KNN_QUERY_IDS))})
),
scored AS (
    SELECT q.query_id, c._id AS neighbor_id, {_LSH_COS_SQL} AS cosine
    FROM tagged c JOIN q ON c._sig = q._sig
    WHERE c._id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rank
    FROM scored
) WHERE rank <= 10
""",
)
def _knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _artifact(
        spark, sf_dir, "lsh_index", lambda: simsearch.lsh_build(emb, _EMB_DIM)
    )
    return simsearch.lsh_bucket_topk(
        emb, _KNN_QUERY_IDS, dim=_EMB_DIM, k=10, index=idx
    )


# Banded hyperplane-LSH candidates (8 sign bits -> 2 bands of 4), exact
# cosine verify — the sub-quadratic scale path for embedding dedup, whose
# full algorithm (planes, banding, verify) is replicated by the oracle.
# Lives with the ANN queries because it probes the SAME lsh_build artifact.
_EMB_LSH_BANDS = 2
_EMB_LSH_PLANES = 8


def _emb_lsh_oracle() -> str:
    bits = _EMB_LSH_PLANES // _EMB_LSH_BANDS
    mask = (1 << bits) - 1
    band_rows = ", ".join(str(b) for b in range(_EMB_LSH_BANDS))
    band_key = " ".join(
        f"WHEN {b} THEN (_sig >> {b * bits}) & {mask}"
        for b in range(_EMB_LSH_BANDS)
    )
    return f"""
WITH tagged AS (
    SELECT vec_id AS _id, {_lsh_sig_sql('embedding')} AS _sig FROM embeddings
),
banded AS (
    SELECT _id, g.band, CASE g.band {band_key} END AS key
    FROM tagged, unnest([{band_rows}]) AS g(band)
),
cands AS (
    SELECT DISTINCT x._id AS id_a, y._id AS id_b
    FROM banded x JOIN banded y
      ON x.band = y.band AND x.key = y.key AND x._id < y._id
)
SELECT c.id_a, c.id_b,
       {_COS_SQL.format(va='embedding', vb='embedding')} AS cosine
FROM cands c
JOIN embeddings a ON a.vec_id = c.id_a
JOIN embeddings b ON b.vec_id = c.id_b
WHERE {_COS_SQL.format(va='embedding', vb='embedding')} > 0.35
"""


@query("dedup_embedding_lsh", _emb_lsh_oracle())
def _emb_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _artifact(
        spark, sf_dir, "lsh_index", lambda: simsearch.lsh_build(emb, _EMB_DIM)
    )
    return dedup.embedding_lsh_pairs(
        emb,
        dim=_EMB_DIM,
        threshold=0.35,
        num_planes=_EMB_LSH_PLANES,
        bands=_EMB_LSH_BANDS,
        index=idx,
    )


def _cos6(va: str, na: str, vb: str, nb: str) -> str:
    """ROUND(dot/(na*nb), 6) — DuckDB twin of simsearch's rounded cosine."""
    return (
        f"ROUND(list_sum(list_transform(list_zip({va}, {vb}), "
        f"z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) "
        f"/ ({na} * {nb}), 6)"
    )


_IVF_NORM = (
    "sqrt(list_sum(list_transform(embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


#: Published IVF centroid artifact: `ivf_build` writes the k-means centroid
#: table here; the oracle reads the SAME parquet bits instead of re-deriving
#: the clustering (Lloyd's double arithmetic is not portably replayable in
#: SQL, the materialized table is).  The gate runs Spark-then-oracle per
#: query, so the file always holds the centroids of the run being checked.
# Pid-scoped: concurrent same-machine runs (e.g. full-registry checks at
# two SFs in parallel) must not race on the published-centroid artifact —
# the oracle READS this path while another process may be rewriting it.
# One process runs one sf_dir (checker/driver/bench contract), so pid
# alone disambiguates.
import os as _os  # noqa: E402

_IVF_CENTROIDS_PATH = (
    f"/tmp/nl_spark_ivf_centroids_{_os.getpid()}.parquet"
)
#: Centroids trained on the deterministic 1/2 id-hash sample (train_mod=2)
#: — the 100 TB index-build contract: Lloyd's iterates the sample, then ALL
#: vectors are assigned once.  Separate artifact so both gates stay
#: hash-exact against their own published bits.
_IVF_SAMPLED_CENTROIDS_PATH = (
    f"/tmp/nl_spark_ivf_centroids_sampled_{_os.getpid()}.parquet"
)


def _ivf_oracle_sql(centroids_path: str) -> str:
    """DuckDB twin of assign→probe→rank over a published centroid table.

    Everything downstream of the centroids (nearest-centroid assignment,
    nprobe=2 probing, exact-cosine rank) is deterministic given the
    centroid parquet, so the same SQL checks any training regime — full
    corpus or train_mod sampled — by pointing at that regime's artifact.
    """
    return f"""
WITH base AS (
    SELECT vec_id AS _id, embedding AS _v, {_IVF_NORM} AS _n FROM embeddings
),
cents AS (
    SELECT centroid_id, cv, cn
    FROM read_parquet('{centroids_path}/*.parquet')
),
assigned AS (
    SELECT _id, _v, _n, centroid_id FROM (
        SELECT b._id, b._v, b._n, c.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY b._id
                   ORDER BY {_cos6('b._v', 'b._n', 'c.cv', 'c.cn')} DESC,
                            c.centroid_id
               ) AS rn
        FROM base b CROSS JOIN cents c
    ) WHERE rn = 1
),
q AS (
    SELECT _id AS query_id, _v AS qv, _n AS qn FROM base
    WHERE _id IN ({", ".join(map(str, _KNN_QUERY_IDS))})
),
probes AS (
    SELECT query_id, qv, qn, centroid_id FROM (
        SELECT q.query_id, q.qv, q.qn, c.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {_cos6('q.qv', 'q.qn', 'c.cv', 'c.cn')} DESC,
                            c.centroid_id
               ) AS rn
        FROM q CROSS JOIN cents c
    ) WHERE rn <= 2
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
    SELECT p.query_id, a._id AS neighbor_id,
           {_cos6('p.qv', 'p.qn', 'a._v', 'a._n')} AS cosine,
           ROW_NUMBER() OVER (
               PARTITION BY p.query_id
               ORDER BY {_cos6('p.qv', 'p.qn', 'a._v', 'a._n')} DESC, a._id
           ) AS rank
    FROM probes p JOIN assigned a USING (centroid_id)
    WHERE a._id <> p.query_id
) WHERE rank <= 10
"""


@query("sim_knn_ivf", _ivf_oracle_sql(_IVF_CENTROIDS_PATH))
def _knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _artifact(
        spark,
        sf_dir,
        "ivf_index",
        lambda: simsearch.ivf_build(
            emb, dim=_EMB_DIM, centroids_path=_IVF_CENTROIDS_PATH
        ),
    )
    return simsearch.ivf_topk(
        emb, _KNN_QUERY_IDS, k=10, dim=_EMB_DIM, index=idx
    )


@query("sim_knn_ivf_sampled", _ivf_oracle_sql(_IVF_SAMPLED_CENTROIDS_PATH))
def _knn_ivf_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale index build: k-means trains on the deterministic
    ``xxhash64(_id) % 2 == 0`` half of the corpus, then assigns ALL
    vectors.  Same probe/rank machinery as ``sim_knn_ivf``; only the
    published centroid bits differ."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _artifact(
        spark,
        sf_dir,
        "ivf_index_sampled",
        lambda: simsearch.ivf_build(
            emb,
            dim=_EMB_DIM,
            centroids_path=_IVF_SAMPLED_CENTROIDS_PATH,
            train_mod=2,
        ),
    )
    return simsearch.ivf_topk(
        emb, _KNN_QUERY_IDS, k=10, dim=_EMB_DIM, index=idx
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (Arrow/Pandas-UDF path)
# ---------------------------------------------------------------------------
@query(
    "mm_decode_image_meta",
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       CAST(octet_length(encode(text)) % 64 + 1 AS INTEGER) AS width,
       CAST(octet_length(encode(text)) // 64 % 64 + 1 AS INTEGER) AS height,
       'fake' AS format
FROM documents
""",
)
def _mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return multimodal.decode_image_meta(
        multimodal.with_binary_payload(d)
    )


@query(
    "mm_sample_frames",
    """
SELECT doc_id,
       CAST(g.i AS INTEGER) AS frame_no,
       CAST(1 + g.i * 97 AS INTEGER) AS byte_offset
FROM documents,
     unnest(range(0, (octet_length(encode(text)) + 96) // 97)) AS g(i)
""",
)
def _mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return multimodal.sample_frames(multimodal.with_binary_payload(d))


# ---------------------------------------------------------------------------
# REAL image-header parsing (multimodal.parse_image_headers): each doc is
# given GENUINE container bytes (a spec-valid PNG IHDR or GIF header
# assembled JVM-side via unhex, or junk), and the engine must parse the
# dimensions back OUT OF THE BYTES.  The oracle predicts width/height
# ARITHMETICALLY from doc_id — it never sees the payload — so unlike the
# shared-regex gates this one falsifies the parser itself: any offset /
# endianness / signature mistake hash-mismatches.
# ---------------------------------------------------------------------------
_MMW = "(doc_id % 1000 + 1)"
_MMH = "(doc_id % 677 + 1)"


def _mm_header_payload() -> F.Column:
    w = F.col("doc_id") % 1000 + 1
    h = F.col("doc_id") % 677 + 1
    be32 = lambda c: F.lpad(F.hex(c), 8, "0")  # noqa: E731
    le16 = lambda c: F.concat(  # noqa: E731
        F.lpad(F.hex(c % 256), 2, "0"), F.lpad(F.hex((c / 256).cast("long")), 2, "0")
    )
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A0000000D49484452"),
        be32(w),
        be32(h),
        F.lit("0802000000"),
    )
    gif_hex = F.concat(F.lit("474946383961"), le16(w), le16(h))
    m = F.col("doc_id") % 3
    return F.unhex(
        F.when(m == 0, png_hex).when(m == 1, gif_hex).otherwise(F.lit("6A756E6B"))
    )


@query(
    "mm_parse_image_headers",
    f"""
SELECT doc_id,
       CAST(CASE doc_id % 3 WHEN 0 THEN 29 WHEN 1 THEN 10 ELSE 4 END
            AS INTEGER) AS n_bytes,
       CAST(CASE WHEN doc_id % 3 = 2 THEN NULL ELSE {_MMW} END
            AS INTEGER) AS width,
       CAST(CASE WHEN doc_id % 3 = 2 THEN NULL ELSE {_MMH} END
            AS INTEGER) AS height,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE NULL END
           AS format
FROM documents
""",
)
def _mm_parse_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    payload = d.select("doc_id", _mm_header_payload().alias("payload"))
    return multimodal.parse_image_headers(payload)


# ---------------------------------------------------------------------------
# REAL pixel decode (multimodal.decode_png_pixel_stats): each selected doc
# gets a genuine zlib-compressed PNG whose pixel values follow an
# arithmetic formula (multimodal.png_encode_rgb), the engine inflates +
# unfilters the ACTUAL BYTES and sums channels, and the oracle recomputes
# the sums from the formula alone — it never sees a byte.  Any mistake in
# chunk walking, DEFLATE framing, stride math, or filter reconstruction
# hash-mismatches.  Every third doc ships truncated bytes to pin the
# quarantine row.  Closes the round-6 "pixel decode is stubbed" gap for
# the container stdlib zlib can decode; JPEG/video stay stubbed (codec
# libraries absent in this environment).
# ---------------------------------------------------------------------------
def _png_fixture_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared fixture builder for the PNG kernels: every 97th doc gets a
    genuine formula-valued RGB PNG (multimodal.png_encode_rgb), every
    third of those truncated to pin the quarantine row."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 97 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(8) + F.col("doc_id") % 9).cast("int").alias("_w"),
        (F.lit(6) + F.col("doc_id") % 7).cast("int").alias("_h"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import png_encode_rgb

        for pdf in batches:
            payloads = [
                png_encode_rgb(int(doc), int(w), int(h))[
                    : 10 if corrupt else None
                ]
                for doc, w, h, corrupt in zip(
                    pdf["doc_id"], pdf["_w"], pdf["_h"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    return sel.mapInPandas(gen, "doc_id long, payload binary")


@query(
    "mm_decode_png_pixels",
    """
WITH sel AS (
    SELECT doc_id,
           CAST(8 + doc_id % 9 AS INTEGER) AS w,
           CAST(6 + doc_id % 7 AS INTEGER) AS h,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 97 = 0
),
px AS (
    SELECT doc_id, w, h, unnest(range(0, w * h)) AS p
    FROM sel WHERE NOT corrupt
),
sums AS (
    SELECT doc_id,
           CAST(SUM((doc_id * 31 + p * 3    ) % 256) AS BIGINT) AS ch0_sum,
           CAST(SUM((doc_id * 31 + p * 3 + 1) % 256) AS BIGINT) AS ch1_sum,
           CAST(SUM((doc_id * 31 + p * 3 + 2) % 256) AS BIGINT) AS ch2_sum
    FROM px GROUP BY 1
)
SELECT sel.doc_id,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.w END AS width,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.h END AS height,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE 3 END AS INTEGER)
           AS channels,
       sums.ch0_sum, sums.ch1_sum, sums.ch2_sum,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_png_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.decode_png_pixel_stats(
        _png_fixture_payload(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# Adam7-INTERLACED PNG decode (the same multimodal.decode_png_pixel_stats
# kernel): genuine interlaced files — the seven passes are independently
# FILTERED sub-images whose pixels scatter back on the (x0 + i*dx,
# y0 + j*dy) grids, with small dimensions leaving several passes EMPTY
# (zero bytes, not zero-size rows — the classic interlace bug).  The
# fixture emits the SAME arithmetic pixel formula as the sequential
# gate, so the oracle is the same closed form; a wrong pass origin, a
# filter context leaking across passes, or an empty-pass byte-count
# error hash-mismatches.  Dimensions 3..15 x 2..12 guarantee both
# multi-row passes and empty passes across the doc set.  Closes the
# "interlaced PNGs quarantine" gap (r10 verdict ask #6); pytest pins
# interlaced == sequential pixel-for-pixel and the pass partition.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_png_adam7",
    """
WITH sel AS (
    SELECT doc_id,
           CAST(3 + doc_id % 13 AS INTEGER) AS w,
           CAST(2 + doc_id % 11 AS INTEGER) AS h,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 89 = 0
),
px AS (
    SELECT doc_id, w, h, unnest(range(0, w * h)) AS p
    FROM sel WHERE NOT corrupt
),
sums AS (
    SELECT doc_id,
           CAST(SUM((doc_id * 31 + p * 3    ) % 256) AS BIGINT) AS ch0_sum,
           CAST(SUM((doc_id * 31 + p * 3 + 1) % 256) AS BIGINT) AS ch1_sum,
           CAST(SUM((doc_id * 31 + p * 3 + 2) % 256) AS BIGINT) AS ch2_sum
    FROM px GROUP BY 1
)
SELECT sel.doc_id,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.w END AS width,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.h END AS height,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE 3 END AS INTEGER)
           AS channels,
       sums.ch0_sum, sums.ch1_sum, sums.ch2_sum,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_png_adam7(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 89 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(3) + F.col("doc_id") % 13).cast("int").alias("_w"),
        (F.lit(2) + F.col("doc_id") % 11).cast("int").alias("_h"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import png_encode_rgb

        for pdf in batches:
            payloads = [
                png_encode_rgb(int(doc), int(w), int(h), interlace=True)[
                    : 10 if corrupt else None
                ]
                for doc, w, h, corrupt in zip(
                    pdf["doc_id"], pdf["_w"], pdf["_h"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_png_pixel_stats(payload)


# ---------------------------------------------------------------------------
# REAL JPEG entropy decode, DC-only (multimodal.decode_jpeg_dc_stats):
# each selected doc gets a genuine baseline JPEG (canonical-Huffman DC
# stream, std luminance table, byte stuffing — multimodal.
# jpeg_encode_gray_blocks) whose per-block means follow an arithmetic
# formula; the engine Huffman-decodes the ACTUAL BYTES (marker walk,
# DHT build, DC predict + EXTEND) and the oracle recomputes the exact
# DC sums — plain AND position-weighted, so block ORDER is pinned —
# from the formula alone.  Every third doc ships truncated bytes to pin
# the quarantine row.  DC = 8 * (block_mean - 128) with an all-ones
# quant table, all exact BIGINTs.  Closes the r7 "JPEG decode stubbed"
# row for the entropy/DC layer; the FULL pixel decode is the
# mm_decode_jpeg_pixels gate below.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_jpeg_dc",
    """
WITH sel AS (
    SELECT doc_id,
           CAST(2 + doc_id % 4 AS INTEGER) AS bw,
           CAST(1 + doc_id % 3 AS INTEGER) AS bh,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 13 = 0
),
blk AS (
    SELECT doc_id, bw, bh, unnest(range(0, bw * bh)) AS i
    FROM sel WHERE NOT corrupt
),
dc AS (
    SELECT doc_id,
           8 * (((doc_id * 17 + i * 7) % 256) - 128) AS d,
           i
    FROM blk
),
sums AS (
    SELECT doc_id,
           CAST(SUM(d) AS BIGINT) AS dc_sum,
           CAST(SUM((i + 1) * d) AS BIGINT) AS dc_weighted
    FROM dc GROUP BY 1
)
SELECT sel.doc_id,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE sel.bw * 8 END
            AS INTEGER) AS width,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE sel.bh * 8 END
            AS INTEGER) AS height,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.bw END AS blocks_w,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.bh END AS blocks_h,
       sums.dc_sum, sums.dc_weighted,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_jpeg_dc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 13 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(2) + F.col("doc_id") % 4).cast("int").alias("_bw"),
        (F.lit(1) + F.col("doc_id") % 3).cast("int").alias("_bh"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import jpeg_encode_gray_blocks

        for pdf in batches:
            payloads = [
                jpeg_encode_gray_blocks(int(doc), int(bw), int(bh))[
                    : 20 if corrupt else None
                ]
                for doc, bw, bh, corrupt in zip(
                    pdf["doc_id"], pdf["_bw"], pdf["_bh"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_jpeg_dc_stats(payload)


# ---------------------------------------------------------------------------
# FULL baseline JPEG pixel decode (multimodal.decode_jpeg_pixel_stats):
# each selected doc gets a genuine 3-component YCbCr baseline JPEG with
# REAL AC structure (multimodal.jpeg_encode_ycbcr_blocks — levels at
# zigzag 0/10/14/39, all-8 quant table, run-length gaps incl. ZRL); the
# engine Huffman-decodes the ACTUAL BYTES through the zigzag,
# dequantizes, runs the exact 2-D IDCT and the fixed-point YCbCr->RGB
# matrix, and the oracle recomputes every channel sum from the closed-
# form sample(x,y) = 128 + dc + s(y)ly + s(x)lx + s(x)s(y)lxy formula
# (those four DCT bases are exactly integer-valued on the 8x8 grid) —
# it never sees a byte.  Any mistake in run decode, zigzag placement,
# dequant, IDCT normalization, level shift, component interleave, or
# the RGB fixed-point arithmetic hash-mismatches.  Every third doc
# ships truncated bytes to pin the quarantine row.  Closes the r8
# "JPEG decode stops at DC" gap.
# ---------------------------------------------------------------------------
_JPEG_RGB_SQL = """
    LEAST(255, GREATEST(0, yv + CAST(floor(
        (91881 * (cr - 128) + 32768) / 65536.0) AS BIGINT))) AS r,
    LEAST(255, GREATEST(0, yv - CAST(floor(
        (22554 * (cb - 128) + 46802 * (cr - 128) + 32768) / 65536.0)
        AS BIGINT))) AS g,
    LEAST(255, GREATEST(0, yv + CAST(floor(
        (116130 * (cb - 128) + 32768) / 65536.0) AS BIGINT))) AS b
"""


@query(
    "mm_decode_jpeg_pixels",
    f"""
WITH sel AS (
    SELECT doc_id,
           CAST(1 + doc_id % 3 AS INTEGER) AS bw,
           CAST(1 + doc_id % 2 AS INTEGER) AS bh,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 11 = 0
),
blk AS (
    SELECT doc_id, bw, bh, unnest(range(0, bw * bh)) AS i
    FROM sel WHERE NOT corrupt
),
px AS (
    SELECT doc_id, bw, i, unnest(range(0, 64)) AS p
    FROM blk
),
geo AS (
    SELECT doc_id, bw, i, p % 8 AS x, p // 8 AS y,
           CASE WHEN (p % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sx,
           CASE WHEN (p // 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sy
    FROM px
),
vals AS (
    SELECT doc_id, bw, i, x, y,
        128 + ((doc_id * 7 + i * 5) % 160) - 80
            + sy * (((doc_id + i * 3) % 31) - 15)
            + sx * (((doc_id * 3 + i) % 31) - 15)
            + sx * sy * (((doc_id + i) % 25) - 12) AS yv,
        128 + ((doc_id * 7 + i * 5 + 11) % 160) - 80
            + sy * (((doc_id + i * 3 + 1) % 31) - 15)
            + sx * (((doc_id * 3 + i + 5) % 31) - 15)
            + sx * sy * (((doc_id + i + 1) % 25) - 12) AS cb,
        128 + ((doc_id * 7 + i * 5 + 22) % 160) - 80
            + sy * (((doc_id + i * 3 + 2) % 31) - 15)
            + sx * (((doc_id * 3 + i + 10) % 31) - 15)
            + sx * sy * (((doc_id + i + 2) % 25) - 12) AS cr
    FROM geo
),
rgb AS (
    SELECT doc_id, yv, cb, cr,
        ((i // bw) * 8 + y) * (bw * 8) + (i % bw) * 8 + x + 1 AS pos,
        {_JPEG_RGB_SQL}
    FROM vals
),
sums AS (
    SELECT doc_id,
           CAST(SUM(yv) AS BIGINT) AS y_sum,
           CAST(SUM(cb) AS BIGINT) AS cb_sum,
           CAST(SUM(cr) AS BIGINT) AS cr_sum,
           CAST(SUM(pos * yv) AS BIGINT) AS y_weighted,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum
    FROM rgb GROUP BY 1
)
SELECT sel.doc_id,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE sel.bw * 8 END
            AS INTEGER) AS width,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE sel.bh * 8 END
            AS INTEGER) AS height,
       sums.y_sum, sums.cb_sum, sums.cr_sum, sums.y_weighted,
       sums.r_sum, sums.g_sum, sums.b_sum,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_jpeg_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 11 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(1) + F.col("doc_id") % 3).cast("int").alias("_bw"),
        (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("_bh"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import jpeg_encode_ycbcr_blocks

        for pdf in batches:
            payloads = [
                jpeg_encode_ycbcr_blocks(int(doc), int(bw), int(bh))[
                    : 25 if corrupt else None
                ]
                for doc, bw, bh, corrupt in zip(
                    pdf["doc_id"], pdf["_bw"], pdf["_bh"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_jpeg_pixel_stats(payload)


# ---------------------------------------------------------------------------
# 4:2:0 CHROMA-SUBSAMPLED baseline JPEG pixel decode — the dominant
# real-world sampling, which quarantined before r10.  Each selected doc
# gets a genuine interleaved-MCU 4:2:0 JPEG (multimodal.
# jpeg_encode_ycbcr_subsampled: 4 Y data units + Cb + Cr per 16x16 MCU,
# closed-form coefficients) with CROPPED SOF dims (w = 16*mcw - doc%5,
# h = 16*mch - doc%3) so partial-MCU crop and chroma-replication edges
# are under test.  The engine walks the interleaved MCU scan, decodes
# all six data units, nearest-neighbor-upsamples chroma to the luma
# grid, crops, and emits exact channel sums; the oracle recomputes every
# upsampled pixel from the closed form (Y from its 8x8 data unit at
# block-sequence index t = mcu*4 + in-MCU raster j; Cb/Cr from the MCU's
# single chroma unit sampled at (x%16)//2, (y%16)//2) — it never sees a
# byte.  A wrong MCU interleave order, in-MCU block raster, replication
# footprint, or crop arithmetic hash-mismatches.  Every third doc ships
# truncated bytes to pin the quarantine row.
# ---------------------------------------------------------------------------
_JPEG420_SIGN = (
    "CASE WHEN ({v}) % 8 IN (0, 3, 4, 7) THEN 1 ELSE -1 END"
)


@query(
    "mm_decode_jpeg420_pixels",
    f"""
WITH sel AS (
    SELECT doc_id,
           CAST(1 + doc_id % 2 AS INTEGER) AS mcw,
           CAST(1 + (doc_id // 2) % 2 AS INTEGER) AS mch,
           CAST(16 * (1 + doc_id % 2) - doc_id % 5 AS INTEGER) AS w,
           CAST(16 * (1 + (doc_id // 2) % 2) - doc_id % 3 AS INTEGER)
               AS h,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 23 = 0
),
px AS (
    SELECT doc_id, mcw, w, unnest(range(0, w * h)) AS p,
           h
    FROM sel WHERE NOT corrupt
),
geo AS (
    SELECT doc_id, mcw, w, p % w AS x, p // w AS y
    FROM px
),
idx AS (
    SELECT doc_id, w, x, y,
           (y // 16) * mcw + (x // 16) AS m,
           ((y % 16) // 8) * 2 + (x % 16) // 8 AS lj,
           (x % 16) // 2 AS cx,
           (y % 16) // 2 AS cy
    FROM geo
),
vals AS (
    SELECT doc_id, w, x, y,
        128 + ((doc_id * 7 + (m * 4 + lj) * 5) % 160) - 80
            + {_JPEG420_SIGN.format(v='y')}
                * (((doc_id + (m * 4 + lj) * 3) % 31) - 15)
            + {_JPEG420_SIGN.format(v='x')}
                * (((doc_id * 3 + (m * 4 + lj)) % 31) - 15)
            + {_JPEG420_SIGN.format(v='y')} * {_JPEG420_SIGN.format(v='x')}
                * (((doc_id + (m * 4 + lj)) % 25) - 12) AS yv,
        128 + ((doc_id * 7 + m * 5 + 11) % 160) - 80
            + {_JPEG420_SIGN.format(v='cy')}
                * (((doc_id + m * 3 + 1) % 31) - 15)
            + {_JPEG420_SIGN.format(v='cx')}
                * (((doc_id * 3 + m + 5) % 31) - 15)
            + {_JPEG420_SIGN.format(v='cy')} * {_JPEG420_SIGN.format(v='cx')}
                * (((doc_id + m + 1) % 25) - 12) AS cb,
        128 + ((doc_id * 7 + m * 5 + 22) % 160) - 80
            + {_JPEG420_SIGN.format(v='cy')}
                * (((doc_id + m * 3 + 2) % 31) - 15)
            + {_JPEG420_SIGN.format(v='cx')}
                * (((doc_id * 3 + m + 10) % 31) - 15)
            + {_JPEG420_SIGN.format(v='cy')} * {_JPEG420_SIGN.format(v='cx')}
                * (((doc_id + m + 2) % 25) - 12) AS cr
    FROM idx
),
rgb AS (
    SELECT doc_id, yv, cb, cr,
        y * w + x + 1 AS pos,
        {_JPEG_RGB_SQL}
    FROM vals
),
sums AS (
    SELECT doc_id,
           CAST(SUM(yv) AS BIGINT) AS y_sum,
           CAST(SUM(cb) AS BIGINT) AS cb_sum,
           CAST(SUM(cr) AS BIGINT) AS cr_sum,
           CAST(SUM(pos * yv) AS BIGINT) AS y_weighted,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum
    FROM rgb GROUP BY 1
)
SELECT sel.doc_id,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.w END AS width,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.h END AS height,
       sums.y_sum, sums.cb_sum, sums.cr_sum, sums.y_weighted,
       sums.r_sum, sums.g_sum, sums.b_sum,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_jpeg420_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 23 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("_mcw"),
        (F.lit(1) + F.expr("doc_id div 2") % 2).cast("int").alias("_mch"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import jpeg_encode_ycbcr_subsampled

        for pdf in batches:
            payloads = []
            for doc, mcw, mch, corrupt in zip(
                pdf["doc_id"], pdf["_mcw"], pdf["_mch"], pdf["_corrupt"]
            ):
                doc, mcw, mch = int(doc), int(mcw), int(mch)
                buf = jpeg_encode_ycbcr_subsampled(
                    doc, mcw, mch, 2, 2,
                    width=16 * mcw - doc % 5,
                    height=16 * mch - doc % 3,
                )
                payloads.append(buf[:25] if corrupt else buf)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_jpeg_pixel_stats(payload)


# ---------------------------------------------------------------------------
# Deterministic sketches (functions/sketch.py): KMV distinct estimation and
# bottom-k hash sampling — unlike HLL++/DataFrame.sample, both replay
# bit-identically on any engine via the shared md5 hash contract, so the
# oracle checks the sketch VALUES, not just their shape.
# ---------------------------------------------------------------------------
_KMV_K = 64
_KMV_H = _H32.format(x="'kmv:' || CAST(user_id AS VARCHAR)")


@query(
    "sketch_kmv_distinct",
    f"""
WITH hashed AS (
    SELECT DISTINCT event_type, {_KMV_H} AS h FROM events
),
ranked AS (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM hashed
)
SELECT event_type,
       CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
            ELSE ROUND({_KMV_K - 1} * 4294967296.0 / MAX(h), 2)
       END AS distinct_estimate
FROM ranked
WHERE rn <= {_KMV_K}
GROUP BY event_type
""",
)
def _kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sketch import kmv_distinct

    return kmv_distinct(
        load_table(spark, sf_dir, "events", spread=True),
        ["event_type"],
        "user_id",
        k=_KMV_K,
    )


@query(
    "sketch_kmv_global",
    f"""
WITH hashed AS (
    SELECT DISTINCT {_KMV_H} AS h FROM events
),
ranked AS (
    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM hashed
)
SELECT CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
            ELSE ROUND({_KMV_K - 1} * 4294967296.0 / MAX(h), 2)
       END AS distinct_estimate
FROM ranked
WHERE rn <= {_KMV_K}
""",
)
def _kmv_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-corpus KMV — exercises the distributed global path
    (TakeOrderedAndProject, not a single-partition window)."""
    from ..functions.sketch import kmv_distinct

    return kmv_distinct(
        load_table(spark, sf_dir, "events", spread=True),
        [],
        "user_id",
        k=_KMV_K,
    )


_SAMPLE_K = 25
_SAMPLE_H = _H32.format(x="'sample:' || CAST(doc_id AS VARCHAR)")


@query(
    "sample_bottom_k",
    f"""
SELECT doc_id, CAST(rn AS INTEGER) AS sample_rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY {_SAMPLE_H}, doc_id) AS rn
    FROM documents
) WHERE rn <= {_SAMPLE_K}
""",
)
def _bottom_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sketch import bottom_k_sample

    return bottom_k_sample(
        load_table(spark, sf_dir, "documents"), _SAMPLE_K, "doc_id"
    ).select("doc_id", "sample_rank")


# ---------------------------------------------------------------------------
# Keyword extraction: per-doc top-k salient terms (tf x rational rarity —
# log-free so the score itself hash-matches across engines, see
# functions/text.py::top_salient_terms).
# ---------------------------------------------------------------------------
@query(
    "text_top_terms",
    f"""
WITH tok AS (SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (
    SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tok)
    GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, term, score, CAST(rn AS INTEGER) AS rank FROM (
    SELECT tf.doc_id, tf.term,
           CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score,
           ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df DESC,
                        tf.term
           ) AS rn
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
) WHERE rn <= 3
""",
)
def _top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import top_salient_terms

    return top_salient_terms(
        load_table(spark, sf_dir, "documents", spread=True), k=3
    )


_STRAT_K = 5
_STRAT_H = _H32.format(x="'sample:' || CAST(event_id AS VARCHAR)")


@query(
    "sample_stratified",
    # bottom-k per group = deterministic stratified sampling (equal-size
    # slice per event_type regardless of stratum skew).
    f"""
SELECT event_type, event_id, CAST(rn AS INTEGER) AS sample_rank FROM (
    SELECT event_type, event_id,
           ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY {_STRAT_H}, event_id
           ) AS rn
    FROM events
) WHERE rn <= {_STRAT_K}
""",
)
def _stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sketch import bottom_k_sample

    return bottom_k_sample(
        load_table(spark, sf_dir, "events", spread=True),
        _STRAT_K,
        "event_id",
        group_cols=["event_type"],
    ).select("event_type", "event_id", "sample_rank")


# ---------------------------------------------------------------------------
# Training-batch shaping (functions/chunking.py): token-window chunking and
# concat-and-chunk sequence packing — the corpus -> training-sequence layout
# step.  Both oracles replay the exact integer-offset arithmetic.
# ---------------------------------------------------------------------------
_CHUNK_SIZE, _CHUNK_OVERLAP = 8, 2
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP


@query(
    "text_chunks",
    f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents
           WHERE trim(lower(text)) <> ''),
c AS (
    SELECT doc_id, CAST(g.i AS INTEGER) AS chunk_no,
           toks[g.i*{_CHUNK_STRIDE}+1 : g.i*{_CHUNK_STRIDE}+{_CHUNK_SIZE}] AS chunk
    FROM t, unnest(range(0, (len(toks) + {_CHUNK_STRIDE - 1}) // {_CHUNK_STRIDE})) AS g(i)
    WHERE len(toks) > 0
)
SELECT doc_id, chunk_no, array_to_string(chunk, ' ') AS chunk_text,
       CAST(len(chunk) AS INTEGER) AS chunk_tokens
FROM c
""",
)
def _text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.chunking import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents", spread=True),
        chunk_size=_CHUNK_SIZE,
        overlap=_CHUNK_OVERLAP,
    )


_PACK_WINDOW = 64


@query(
    "pack_sequences",
    f"""
WITH t AS (
    SELECT doc_id, CAST(len({_TOKENS}) AS BIGINT) AS n_tokens FROM documents
),
c AS (
    SELECT doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (
               ORDER BY doc_id ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS _end
    FROM t
)
SELECT doc_id, n_tokens,
       _end - n_tokens AS start_offset,
       (_end - n_tokens) // {_PACK_WINDOW} AS seq_id,
       (n_tokens > 0 AND ((_end - 1) // {_PACK_WINDOW}) > ((_end - n_tokens) // {_PACK_WINDOW}))
           AS spans_boundary
FROM c
""",
)
def _pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.chunking import pack_sequences

    # block_size 256 so even sf0.001 (500 docs) exercises the two-level
    # distributed prefix sum (multiple blocks), not just one block.
    return pack_sequences(
        load_table(spark, sf_dir, "documents", spread=True),
        window=_PACK_WINDOW,
        block_size=256,
    )


from .oracle_util import round_sql as _round_sql  # noqa: E402
from .oracle_util import round_sql as _round_sql  # noqa: E402
# ---------------------------------------------------------------------------
# Corpus scrubbing (functions/text.py scrub_pii / strip_html): the PII and
# HTML normalization passes of a crawl pipeline.  The synthetic documents
# contain no PII/markup, so both gates INJECT it deterministically from
# doc_id on both engines (same || construction), exercising the match,
# multi-match, and zero-match paths; patterns are shared verbatim and
# written to evaluate identically under Java regex and RE2 (no
# lookaround/backrefs, explicit whitespace classes).
# ---------------------------------------------------------------------------
from ..functions.text import (  # noqa: E402
    BLANK_EDGE_RE,
    EMAIL_RE,
    HTML_ENTITIES,
    HTML_TAG_RE,
    LONGNUM_RE,
    URL_RE,
    scrub_pii,
    strip_html,
)

_PII_RAW_SQL = (
    "CASE WHEN doc_id % 3 <> 0 THEN text || ' contact u' "
    "|| CAST(doc_id AS VARCHAR) "
    "|| '@mail.example.com via https://ex.org/d/' "
    "|| CAST(doc_id AS VARCHAR) || '?ref=(7) call 555123456' "
    "|| CAST(doc_id AS VARCHAR) ELSE text END"
)

_HTML_RAW_SQL = (
    "CASE WHEN doc_id % 2 = 0 THEN '<html><body class=\"m\"><p>' || text "
    "|| '</p> <br/>link: <a href=\"https://w.x/y\">t</a> "
    "&amp; &lt;raw&gt; &#39;s&quot;</body></html>' ELSE text END"
)

_HTML_DECODE_SQL = "regexp_replace(raw, '" + HTML_TAG_RE + "', ' ', 'g')"
for _ent, _ch in HTML_ENTITIES:
    _HTML_DECODE_SQL = (
        "replace(" + _HTML_DECODE_SQL + ", '" + _ent + "', '"
        + _ch.replace("'", "''") + "')"
    )


def _pii_raw_col() -> F.Column:
    sid = F.col("doc_id").cast("string")
    return F.when(
        F.col("doc_id") % 3 != 0,
        F.concat(
            F.col("text"),
            F.lit(" contact u"), sid,
            F.lit("@mail.example.com via https://ex.org/d/"), sid,
            F.lit("?ref=(7) call 555123456"), sid,
        ),
    ).otherwise(F.col("text"))


def _html_raw_col() -> F.Column:
    return F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit('<html><body class="m"><p>'),
            F.col("text"),
            F.lit(
                '</p> <br/>link: <a href="https://w.x/y">t</a> '
                "&amp; &lt;raw&gt; &#39;s&quot;</body></html>"
            ),
        ),
    ).otherwise(F.col("text"))


@query(
    "text_scrub_pii",
    f"""
WITH raw AS (SELECT doc_id, {_PII_RAW_SQL} AS raw FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(
           raw, '{URL_RE}', '<URL>', 'g'),
           '{EMAIL_RE}', '<EMAIL>', 'g'),
           '{LONGNUM_RE}', '<NUM>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(raw, '{EMAIL_RE}')) AS INTEGER)
           AS n_emails,
       CAST(len(regexp_extract_all(raw, '{URL_RE}')) AS INTEGER) AS n_urls,
       CAST(len(regexp_extract_all(raw, '{LONGNUM_RE}')) AS INTEGER)
           AS n_longnums
FROM raw
""",
)
def _scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    return scrub_pii(d.select("doc_id", _pii_raw_col().alias("text")))


@query(
    "text_strip_html",
    f"""
WITH raw AS (SELECT doc_id, {_HTML_RAW_SQL} AS raw FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace({_HTML_DECODE_SQL},
                                     '[ \t\n\r\f]+', ' ', 'g'),
                      '{BLANK_EDGE_RE}', '', 'g') AS clean_text,
       CAST(len(regexp_extract_all(raw, '{HTML_TAG_RE}')) AS INTEGER)
           AS n_tags
FROM raw
""",
)
def _strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    return strip_html(d.select("doc_id", _html_raw_col().alias("text")))


# ---------------------------------------------------------------------------
# Web-domain curation (functions/web.py): host parse + registered-domain
# extraction, per-domain stats, and the C4/RefinedWeb-style per-domain
# document cap.  The synthetic docs carry no URLs, so both engines derive
# one deterministically from doc_id: seven host variants covering a
# second-level suffix (example.co.uk), a :port to strip, mixed case to
# normalize, and a "heavy" domain holding 3/7 of the corpus so the cap is
# load-bearing.  The suffix IN-list is SECOND_LEVEL_SUFFIXES verbatim.
# ---------------------------------------------------------------------------
from ..functions import web  # noqa: E402

_WEBURL_SQL = (
    "'https://' || (CASE doc_id % 7 "
    "WHEN 0 THEN 'news.example.co.uk' "
    "WHEN 1 THEN 'example.co.uk:8080' "
    "WHEN 2 THEN 'Blog.Sample.COM' "
    "WHEN 3 THEN 'sample.com' "
    "WHEN 4 THEN 'www.heavy.org' "
    "WHEN 5 THEN 'cdn.heavy.org' "
    "ELSE 'heavy.org' END) || '/p/' || CAST(doc_id AS VARCHAR)"
)

_SUFFIX_IN = ", ".join(f"'{s}'" for s in web.SECOND_LEVEL_SUFFIXES)

_WEBDOMS_CTE = f"""
raw AS (SELECT doc_id, {_WEBURL_SQL} AS url FROM documents),
hosts AS (
    SELECT doc_id,
           NULLIF(regexp_replace(
               regexp_extract(lower(url), '{web.HOST_CAPTURE_RE}', 1),
               '{web.PORT_RE}', ''), '') AS host
    FROM raw
),
doms AS (
    SELECT doc_id, host,
           string_split(host, '.') AS l,
           CASE WHEN len(l) >= 3
                     AND (l[len(l)-1] || '.' || l[len(l)]) IN ({_SUFFIX_IN})
                THEN l[len(l)-2] || '.' || l[len(l)-1] || '.' || l[len(l)]
                WHEN len(l) >= 2 THEN l[len(l)-1] || '.' || l[len(l)]
                ELSE host END AS domain
    FROM hosts
)
"""


def _weburl_col() -> F.Column:
    m = F.col("doc_id") % 7
    host = (
        F.when(m == 0, "news.example.co.uk")
        .when(m == 1, "example.co.uk:8080")
        .when(m == 2, "Blog.Sample.COM")
        .when(m == 3, "sample.com")
        .when(m == 4, "www.heavy.org")
        .when(m == 5, "cdn.heavy.org")
        .otherwise("heavy.org")
    )
    return F.concat(
        F.lit("https://"), host, F.lit("/p/"), F.col("doc_id").cast("string")
    )


@query(
    "web_domain_stats",
    f"""
WITH {_WEBDOMS_CTE}
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
FROM doms GROUP BY domain
""",
)
def _web_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    return web.domain_stats(d.select("doc_id", _weburl_col().alias("url")))


_DOMCAP_K = 50
_DOMCAP_H = _H32.format(x="'domcap:' || CAST(doc_id AS VARCHAR)")


@query(
    "web_domain_cap",
    f"""
WITH {_WEBDOMS_CTE}
SELECT doc_id, host, domain, CAST(rn AS INTEGER) AS sample_rank FROM (
    SELECT doc_id, host, domain,
           ROW_NUMBER() OVER (
               PARTITION BY domain ORDER BY {_DOMCAP_H}, doc_id
           ) AS rn
    FROM doms
) WHERE rn <= {_DOMCAP_K}
""",
)
def _web_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    return web.cap_per_domain(
        d.select("doc_id", _weburl_col().alias("url")), _DOMCAP_K
    ).select("doc_id", "host", "domain", "sample_rank")


# ---------------------------------------------------------------------------
# Model-scored filtering (text.quality_classifier): fixed-weight linear
# classifier over quality features, all ratios over one common integer
# denominator — the score is a single bigint/bigint division and keep is a
# pure bigint comparison, so both are exact cross-engine (no float sums).
# ---------------------------------------------------------------------------
@query(
    "text_quality_classifier",
    f"""
WITH t AS (SELECT doc_id, text, {_TOKENS} AS toks FROM documents),
f AS (
    SELECT doc_id,
           CAST(len(list_filter(toks, x -> list_contains({_SW}, x)))
                AS BIGINT) AS a,
           CAST(len(toks) AS BIGINT) AS n,
           CAST(length(text) AS BIGINT) AS l,
           CAST(least(len(toks), 200) AS BIGINT) AS b,
           CAST(least(list_sum(list_transform(toks, x -> length(x))),
                      8 * len(toks)) AS BIGINT) AS c,
           CAST(length(text)
                - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                AS BIGINT) AS p
    FROM t
),
s AS (
    SELECT doc_id, n, l,
           48000*a*l + 200*b*n*l + 5000*c*l - 32000*p*n AS num,
           160000*n*l AS den
    FROM f
)
SELECT doc_id,
       CASE WHEN n > 0 AND l > 0
            THEN {_round_sql('CAST(num AS DOUBLE) / den', 4)} END AS score,
       CASE WHEN n > 0 AND l > 0 THEN num * 100 >= den * 22
            ELSE FALSE END AS keep
FROM s
""",
)
def _quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import quality_classifier

    d = load_table(spark, sf_dir, "documents", spread=True)
    return quality_classifier(d)


# ---------------------------------------------------------------------------
# Vocabulary induction (text.vocab_coverage): top-k unigrams with the
# cumulative token-coverage curve.  Global top-k is TakeOrderedAndProject;
# the rank/cumulative windows run on the k-row result only.
# ---------------------------------------------------------------------------
_VOCAB_K = 20


@query(
    "text_vocab_coverage",
    f"""
WITH tok AS (SELECT unnest({_TOKENS}) AS term FROM documents),
counts AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS n_occ FROM tok GROUP BY term
),
total AS (SELECT CAST(SUM(n_occ) AS BIGINT) AS tot FROM counts),
top AS (
    SELECT term, n_occ FROM counts ORDER BY n_occ DESC, term LIMIT {_VOCAB_K}
)
SELECT term, n_occ,
       CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, term) AS INTEGER) AS rank,
       {_round_sql(
           "CAST(SUM(n_occ) OVER (ORDER BY n_occ DESC, term "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / tot",
           6,
       )} AS cum_share
FROM top, total
""",
)
def _vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import vocab_coverage

    d = load_table(spark, sf_dir, "documents", spread=True)
    return vocab_coverage(d, k=_VOCAB_K)


# ---------------------------------------------------------------------------
# Int8 embedding quantization (simsearch.quantize_int8): symmetric
# per-vector compression with reconstruction-error reporting.  Elementwise
# IEEE only (no accumulation), so the quantized vectors, scales, and max
# errors are bit-identical cross-engine; the displayed doubles go through
# the decimal ROUND bridge.
# ---------------------------------------------------------------------------
@query(
    "emb_quantize_int8",
    f"""
WITH v AS (
    SELECT vec_id, embedding AS e,
           CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
               / CAST(127 AS DOUBLE) AS scale
    FROM embeddings
),
q AS (
    SELECT vec_id, e, scale,
           CASE WHEN scale > 0
                THEN [CAST(trunc(CAST(x AS DOUBLE) / scale) AS INTEGER)
                      for x in e]
                ELSE [CAST(0 AS INTEGER) for x in e] END AS qvec
    FROM v
)
SELECT vec_id,
       {_round_sql('scale', 6)} AS scale,
       array_to_string(qvec, ' ') AS qvec,
       {_round_sql(
           'list_max([abs(CAST(e[i] AS DOUBLE) - qvec[i] * scale) '
           'for i in range(1, len(e) + 1)])', 6
       )} AS max_abs_err
FROM q
""",
)
def _quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same array-serialization boundary as text_encode_tokens: the driver
    # canonicalizer cannot sort list-valued columns, so the int8 code
    # vector crosses the gate as a space-joined string (library API
    # unchanged — simsearch.quantize_int8 still returns the real array).
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "embeddings", spread=True)
    return simsearch.quantize_int8(e).withColumn(
        "qvec", F.array_join("qvec", " ")
    )


# ---------------------------------------------------------------------------
# Deterministic PageRank (functions/graph.py): the fixed-point-iteration
# family, in exact integer units so 5 iterations hash-match cross-engine.
# The link graph is derived deterministically from doc_id on both engines
# (1-3 out-edges per doc via modular formulas, DISTINCT-deduped); the
# oracle unrolls the same five steps as chained CTEs.
# ---------------------------------------------------------------------------
from ..functions.graph import PAGERANK_UNIT, pagerank_units  # noqa: E402

_PR_TELEPORT = 15 * PAGERANK_UNIT // 100

_PR_EDGES_CTE = """
n AS (SELECT COUNT(*) AS n FROM documents),
cand AS (
    SELECT doc_id AS src, (doc_id * 7 + 1) % n.n AS dst FROM documents, n
    UNION ALL
    SELECT doc_id, (doc_id * 13 + 2) % n.n FROM documents, n
    WHERE doc_id % 3 >= 1
    UNION ALL
    SELECT doc_id, (doc_id * 3 + 5) % n.n FROM documents, n
    WHERE doc_id % 3 >= 2
),
edges AS (SELECT DISTINCT src, dst FROM cand),
outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
pr0 AS (
    SELECT doc_id AS node, CAST(1000000000000 AS BIGINT) AS r FROM documents
)"""


def _pr_step_sql(k: int) -> str:
    return f"""
pr{k + 1} AS (
    SELECT d.doc_id AS node,
           CAST({_PR_TELEPORT} + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT)
               AS r
    FROM documents d
    LEFT JOIN (
        SELECT e.dst AS nd, SUM(p.r // o.d) AS s
        FROM edges e
        JOIN pr{k} p ON e.src = p.node
        JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst
    ) s ON d.doc_id = s.nd
)"""


_PR_ITERS = 5


def _pr_edges_df(docs: DataFrame) -> DataFrame:
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
    # NO source-level barrier here, deliberately (measured, r7): pagerank /
    # BFS / k-core / triangles / shortest-paths / node-Jaccard all apply
    # their OWN persist or checkpoint barrier tuned to their loop shape, and
    # an extra eager checkpoint at the source costs a full materialization
    # round trip per call (pagerank idle 2.75 s -> 4.1 s when this returned
    # _materialize(...)).  Multi-consumer plan sites WITHOUT an internal
    # barrier (degree histogram, reciprocity) barrier at the call site.
    return e1.union(e2).union(e3).distinct()


@query(
    "graph_pagerank",
    "WITH "
    + _PR_EDGES_CTE
    + ","
    + ",".join(_pr_step_sql(k) for k in range(_PR_ITERS))
    + f"\nSELECT node AS doc_id, r AS pr_units FROM pr{_PR_ITERS}",
)
def _graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    edges = _pr_edges_df(docs)
    return pagerank_units(
        docs, edges, iterations=_PR_ITERS, id_col="doc_id"
    ).select(F.col("node").alias("doc_id"), "pr_units")


# ---------------------------------------------------------------------------
# URL canonicalization + frontier dedup (web.canonical_url / dedup_urls):
# tracking params, fragments, trailing slashes and case variants collapse
# to one canonical URL; groups report keeper + copy count.  Six URL
# variants are synthesized per doc over a shared /page/N path space so
# genuine cross-doc collisions exist on both engines.
# ---------------------------------------------------------------------------
_CANON_RAW_SQL = (
    "'https://Example.COM/page/' || CAST(doc_id % 50 AS VARCHAR) || "
    "(CASE doc_id % 6 WHEN 0 THEN '' "
    "WHEN 1 THEN '?utm_source=x&utm_campaign=y' "
    "WHEN 2 THEN '#section2' "
    "WHEN 3 THEN '/' "
    "WHEN 4 THEN '?ref=abc&q=1' "
    "ELSE '?q=1' END)"
)

# The tracking-param strip keeps its captured [?&] delimiter (`\1` here,
# `$1` Spark-side — replacement syntax is dialect-local, the PATTERN is the
# shared constant) and the `&&+` collapse removes mid-query residue; see
# web.TRACKING_PARAM_RE for why the boundary anchor matters.
_CANON_SQL = (
    "CASE WHEN regexp_extract(lower(url), '{h}', 1) = '' THEN NULL "
    "ELSE 'https://' || regexp_extract(lower(url), '{h}', 1) || "
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace(regexp_replace(regexp_replace(url, '{s}', ''), "
    "'#.*$', ''), '{t}', '\\1', 'g'), '&&+', '&', 'g'), "
    "'[?&]+$', ''), '\\?&', '?'), '/$', '') "
    "END"
).format(
    h=web.HOST_CAPTURE_RE, s=web.HOST_STRIP_RE, t=web.TRACKING_PARAM_RE
)


def _canon_raw_col() -> F.Column:
    m = F.col("doc_id") % 6
    suffix = (
        F.when(m == 0, "")
        .when(m == 1, "?utm_source=x&utm_campaign=y")
        .when(m == 2, "#section2")
        .when(m == 3, "/")
        .when(m == 4, "?ref=abc&q=1")
        .otherwise("?q=1")
    )
    return F.concat(
        F.lit("https://Example.COM/page/"),
        (F.col("doc_id") % 50).cast("string"),
        suffix,
    )


@query(
    "web_url_dedup",
    f"""
WITH raw AS (SELECT doc_id, {_CANON_RAW_SQL} AS url FROM documents)
SELECT {_CANON_SQL} AS canonical_url,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM raw
GROUP BY canonical_url
""",
)
def _web_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    return web.dedup_urls(d.select("doc_id", _canon_raw_col().alias("url")))


# ---------------------------------------------------------------------------
# Domain blocklist filtering (web.filter_blocklist): broadcast LEFT ANTI
# join against a small blocked-domain set — map-side, corpus never
# shuffles (plan-asserted in test_plan_shapes).
# ---------------------------------------------------------------------------
@query(
    "web_blocklist_filter",
    f"""
WITH {_WEBDOMS_CTE}
SELECT doc_id, host FROM doms
WHERE domain IS NULL OR domain NOT IN ('heavy.org', 'blocked.net')
""",
)
def _web_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    blocked = spark.createDataFrame(
        [("heavy.org",), ("blocked.net",)], ["domain"]
    )
    kept = web.filter_blocklist(
        d.select("doc_id", _weburl_col().alias("url")), blocked
    )
    return kept.select(
        "doc_id", web.url_host(F.col("url")).alias("host")
    )


# ---------------------------------------------------------------------------
# Table-driven Public-Suffix-List registered domains
# (web.registered_domain_psl): candidate host tails (plain AND
# '*'-leftmost wildcard form) broadcast-join a real PSL rule table;
# exceptions prevail, else the longest match (suffix + one label);
# unmatched hosts fall back to the static heuristic.  The host mix
# exercises every depth AND all three rule types: a 2-label private rule
# (github.io), a 3-label one (s3.amazonaws.com), a second-level registry
# (co.uk), a plain TLD, an UNLISTED TLD (fallback), a single-label host,
# a wildcard family (*.ck) matched properly and at whole-host, and the
# exception (!www.ck) at whole-host and below.
# ---------------------------------------------------------------------------
_PSL_GATE_SUFFIXES = [
    "com", "io", "uk", "co.uk", "github.io", "s3.amazonaws.com", "us",
    "*.ck", "!www.ck",
]

_PSLHOST_SQL = (
    "(CASE doc_id % 12 "
    "WHEN 0 THEN 'u' || CAST(doc_id % 3 AS VARCHAR) || '.github.io' "
    "WHEN 1 THEN 'www.example.com' "
    "WHEN 2 THEN 'a.example.co.uk' "
    "WHEN 3 THEN 'b.example.co.uk' "
    "WHEN 4 THEN 'bkt' || CAST(doc_id % 2 AS VARCHAR) || '.s3.amazonaws.com' "
    "WHEN 5 THEN 'example.xyz' "
    "WHEN 6 THEN 'github.io' "
    "WHEN 7 THEN 'www' || CAST(doc_id % 2 AS VARCHAR) || '.site.ck' "
    "WHEN 8 THEN 'www.ck' "
    "WHEN 9 THEN 'x' || CAST(doc_id % 2 AS VARCHAR) || '.www.ck' "
    "WHEN 10 THEN 'plain.ck' "
    "ELSE 'single' END)"
)


def _pslhost_col() -> F.Column:
    m = F.col("doc_id") % 12
    return (
        F.when(
            m == 0,
            F.concat(
                F.lit("u"), (F.col("doc_id") % 3).cast("string"),
                F.lit(".github.io"),
            ),
        )
        .when(m == 1, F.lit("www.example.com"))
        .when(m == 2, F.lit("a.example.co.uk"))
        .when(m == 3, F.lit("b.example.co.uk"))
        .when(
            m == 4,
            F.concat(
                F.lit("bkt"), (F.col("doc_id") % 2).cast("string"),
                F.lit(".s3.amazonaws.com"),
            ),
        )
        .when(m == 5, F.lit("example.xyz"))
        .when(m == 6, F.lit("github.io"))
        .when(
            m == 7,
            F.concat(
                F.lit("www"), (F.col("doc_id") % 2).cast("string"),
                F.lit(".site.ck"),
            ),
        )
        .when(m == 8, F.lit("www.ck"))
        .when(
            m == 9,
            F.concat(
                F.lit("x"), (F.col("doc_id") % 2).cast("string"),
                F.lit(".www.ck"),
            ),
        )
        .when(m == 10, F.lit("plain.ck"))
        .otherwise(F.lit("single"))
    )


@query(
    "web_domain_psl",
    f"""
WITH raw AS (SELECT doc_id, {_PSLHOST_SQL} AS host FROM documents),
sfx(rule) AS (VALUES {", ".join(f"('{s}')" for s in _PSL_GATE_SUFFIXES)}),
rules AS (
    SELECT DISTINCT
           CASE WHEN rule LIKE '!%' THEN substring(rule, 2) ELSE rule END
               AS key,
           CASE WHEN rule LIKE '!%' THEN 1 ELSE 0 END AS exc
    FROM sfx
),
lab AS (
    SELECT doc_id, host, string_split(host, '.') AS l,
           len(string_split(host, '.')) AS n
    FROM raw
),
cand AS (
    SELECT lab.host, CAST(t.k AS INTEGER) AS k, lab.n,
           array_to_string(lab.l[lab.n - CAST(t.k AS INTEGER) + 1 : lab.n],
                           '.') AS pkey,
           CASE WHEN t.k = 1 THEN '*'
                ELSE '*.' || array_to_string(
                    lab.l[lab.n - CAST(t.k AS INTEGER) + 2 : lab.n], '.')
           END AS wkey
    FROM lab, range(1, {web.PSL_MAX_SUFFIX_LABELS + 1}) t(k)
    WHERE t.k <= lab.n
),
m AS (
    SELECT c.host, r.exc, c.k - r.exc AS eff
    FROM cand c JOIN rules r ON r.key IN (c.pkey, c.wkey)
    WHERE r.exc = 1 OR c.k < c.n
),
best AS (
    SELECT host, COALESCE(MAX(CASE WHEN exc = 1 THEN eff END),
                          MAX(CASE WHEN exc = 0 THEN eff END)) AS bk
    FROM m GROUP BY host
),
dom AS (
    SELECT lab.doc_id, lab.host,
           CASE WHEN best.bk IS NOT NULL
                THEN array_to_string(lab.l[lab.n - best.bk : lab.n], '.')
                WHEN lab.n >= 3 AND (lab.l[lab.n - 1] || '.' || lab.l[lab.n])
                     IN ({_SUFFIX_IN})
                THEN lab.l[lab.n - 2] || '.' || lab.l[lab.n - 1] || '.'
                     || lab.l[lab.n]
                WHEN lab.n >= 2 THEN lab.l[lab.n - 1] || '.' || lab.l[lab.n]
                ELSE lab.host END AS domain
    FROM lab LEFT JOIN best USING (host)
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
FROM dom GROUP BY domain
""",
)
def _web_domain_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    suffixes = spark.createDataFrame(
        [(s,) for s in _PSL_GATE_SUFFIXES], ["suffix"]
    )
    hosts = d.select("doc_id", _pslhost_col().alias("host"))
    return (
        web.registered_domain_psl(hosts, suffixes)
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding-window distinct users via KMV merge (sketch.sliding_distinct_kmv):
# per-day mergeable states, trailing-7-day union-merge over the day-level
# frame — the sliding COUNT(DISTINCT) exact SQL can't express without
# rescanning each window.  The oracle replays the full state+merge algebra.
# ---------------------------------------------------------------------------
_SLKMV_K = 64
_SLKMV_H = _H32.format(x="'kmv:' || CAST(user_id AS VARCHAR)")


_CM_W, _CM_D = 1024, 4
_CM_H = _H32.format(
    x="'cm:' || CAST(k.k AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)"
)
_CM_HI = _H32.format(
    x="'cm:' || CAST(k.k AS VARCHAR) || ':' || CAST(i.value AS VARCHAR)"
)


@query(
    "sketch_cm_frequency",
    f"""
WITH state AS (
    SELECT k.k AS row, CAST({_CM_H} % {_CM_W} AS INTEGER) AS bucket,
           COUNT(*) AS c
    FROM events, range(0, {_CM_D}) k(k)
    GROUP BY 1, 2
),
items AS (
    SELECT DISTINCT user_id AS value FROM events WHERE user_id % 50 = 0
),
probes AS (
    SELECT i.value, k.k AS row,
           CAST({_CM_HI} % {_CM_W} AS INTEGER) AS bucket
    FROM items i, range(0, {_CM_D}) k(k)
)
SELECT p.value, CAST(MIN(COALESCE(s.c, 0)) AS BIGINT) AS est
FROM probes p LEFT JOIN state s USING (row, bucket)
GROUP BY p.value
""",
)
def _sketch_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates (sketch.cm_build/cm_query): the
    deterministic md5-contract CMS — state and estimates replay exactly
    under the oracle; one-sided error pinned in pytest vs exact counts."""
    from ..functions.sketch import cm_build, cm_query

    ev = load_table(spark, sf_dir, "events", spread=True)
    state = cm_build(ev, "user_id", width=_CM_W, depth=_CM_D)
    items = (
        ev.select(F.col("user_id").alias("value"))
        .filter("value % 50 = 0")
        .distinct()
    )
    return cm_query(state, items, "value", width=_CM_W, depth=_CM_D)


@query(
    "sketch_sliding_exact",
    """
WITH pairs AS (
    SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS v FROM events
),
days AS (SELECT DISTINCT d AS day FROM pairs),
contrib AS (
    SELECT d + CAST(k.k AS INTEGER) AS day, v
    FROM pairs, range(0, 7) k(k)
)
SELECT day, CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct
FROM days JOIN contrib USING (day)
GROUP BY day
""",
)
def _sliding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day distinct users per day — the ground-truth
    twin of the KMV sliding sketch (identical day domain); its unit test
    holds the sketch inside KMV error against this."""
    from ..functions.sketch import sliding_distinct_exact

    ev = load_table(spark, sf_dir, "events", spread=True)
    return sliding_distinct_exact(ev, "ts", "user_id", window_days=7)


@query(
    "sketch_sliding_distinct",
    f"""
WITH hashed AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, {_SLKMV_H} AS h FROM events
),
ranked AS (
    SELECT day, h, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rn
    FROM hashed
),
per_day AS (
    SELECT day, list(h ORDER BY h) AS hs
    FROM ranked WHERE rn <= {_SLKMV_K} GROUP BY day
),
win AS (
    SELECT day,
           flatten(list(hs) OVER (
               ORDER BY CAST(day - DATE '1970-01-01' AS BIGINT)
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           )) AS m
    FROM per_day
),
arr AS (SELECT day, (list_sort(list_distinct(m)))[1:{_SLKMV_K}] AS a FROM win)
SELECT day,
       CASE WHEN len(a) < {_SLKMV_K} THEN CAST(len(a) AS DOUBLE)
            ELSE ROUND({_SLKMV_K - 1} * 4294967296.0 / a[len(a)], 2)
       END AS distinct_estimate
FROM arr
""",
)
def _sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sketch import sliding_distinct_kmv

    ev = load_table(spark, sf_dir, "events", spread=True)
    return sliding_distinct_kmv(ev, "ts", "user_id", k=_SLKMV_K)


# ---------------------------------------------------------------------------
# Exact triangle count (functions/graph.py::triangle_count): the
# degree-orientation wedge join (Suri & Vassilvitskii's MR-friendly
# formulation, public literature).  The engine orients edges by
# (degree, id) so wedge fan-out per pivot is capped at O(sqrt(|E|)); the
# oracle counts with the naive a < b < c id-orientation — orientation
# changes the plan, never the count, which makes the gate a genuine
# two-algorithm cross-check.  The undirected graph is derived
# deterministically from doc_id (ring chords at +1/+2/+4), which closes
# ~2 triangles per node.
# ---------------------------------------------------------------------------
@query(
    "graph_triangles",
    """
WITH n AS (SELECT COUNT(*) AS n FROM documents),
e0 AS (
    SELECT doc_id AS s, (doc_id + 1) % n.n AS t FROM documents, n
    UNION ALL SELECT doc_id, (doc_id + 2) % n.n FROM documents, n
    UNION ALL SELECT doc_id, (doc_id + 4) % n.n FROM documents, n
),
canon AS (
    SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
    FROM e0 WHERE s <> t
)
SELECT CAST(COUNT(*) AS BIGINT) AS triangles
FROM canon e1
JOIN canon e2 ON e2.a = e1.b
JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b
""",
)
def _graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.graph import triangle_count

    docs = load_table(spark, sf_dir, "documents", spread=True)
    n = docs.agg(F.count("*").alias("_n"))
    base = docs.select("doc_id").crossJoin(F.broadcast(n))
    d = F.col("doc_id")
    edges = (
        base.select(d.alias("src"), ((d + 1) % F.col("_n")).alias("dst"))
        .unionAll(base.select(d.alias("src"), ((d + 2) % F.col("_n")).alias("dst")))
        .unionAll(base.select(d.alias("src"), ((d + 4) % F.col("_n")).alias("dst")))
    )
    return triangle_count(edges)


# ---------------------------------------------------------------------------
# Bloom semi-join reduction (sketch.bloom_build / bloom_probe composed
# into a join): THE scan-pruning pattern for 100 TB star joins — build a
# tiny deterministic bloom over the filtered dim keys, probe the fact
# map-side BEFORE any shuffle, and only survivors reach the join.  The
# gate checks the reduction accounting itself: fact rows, bloom
# survivors, true matches, and false positives (survivors - matches);
# no-false-negatives means true_matches <= survivors by construction,
# and the oracle replays the 3x8192 bit bloom bit for bit.
# ---------------------------------------------------------------------------
_BLOOM_DIM_POS = (
    "["
    + ", ".join(
        _H32.format(
            x=f"'bloom' || CAST({i} AS VARCHAR) || ':' || "
            "CAST(c_custkey AS VARCHAR)"
        )
        + " % 8192"
        for i in (1, 2, 3)
    )
    + "]"
)
_BLOOM_FACT_POS = (
    "["
    + ", ".join(
        _H32.format(
            x=f"'bloom' || CAST({i} AS VARCHAR) || ':' || "
            "CAST(o_custkey AS VARCHAR)"
        )
        + " % 8192"
        for i in (1, 2, 3)
    )
    + "]"
)


@query(
    "join_bloom_prejoin",
    f"""
WITH dim AS (
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
bits AS (SELECT DISTINCT unnest({_BLOOM_DIM_POS}) AS p FROM dim),
state AS (SELECT list_sort(list(p)) AS bloom FROM bits),
probe AS (
    SELECT o_custkey, {_BLOOM_FACT_POS} AS ps
    FROM orders WHERE o_custkey IS NOT NULL
),
counts AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS fact_rows,
           CAST(SUM(CASE WHEN len(list_filter(
               ps, x -> NOT list_contains(bloom, x))) = 0
               THEN 1 ELSE 0 END) AS BIGINT) AS survivors,
           CAST(SUM(CASE WHEN EXISTS (
               SELECT 1 FROM dim WHERE dim.c_custkey = probe.o_custkey)
               THEN 1 ELSE 0 END) AS BIGINT) AS true_matches
    FROM probe, state
)
SELECT fact_rows, survivors, true_matches,
       survivors - true_matches AS false_positives
FROM counts
""",
)
def _join_bloom_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sketch import bloom_build, bloom_probe

    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    fact = (
        load_table(spark, sf_dir, "orders", spread=True)
        .filter(F.col("o_custkey").isNotNull())
        .select("o_custkey")
    )
    state = bloom_build(dim, "c_custkey")
    probed = bloom_probe(fact, state, "o_custkey")
    flagged = probed.join(
        F.broadcast(dim.withColumn("_in", F.lit(1))),
        probed["o_custkey"] == dim["c_custkey"],
        "left",
    )
    counts = flagged.agg(
        F.count("*").cast("bigint").alias("fact_rows"),
        F.sum(F.when(F.col("maybe_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("survivors"),
        F.sum(F.when(F.col("_in").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("true_matches"),
    )
    return counts.select(
        "fact_rows",
        "survivors",
        "true_matches",
        (F.col("survivors") - F.col("true_matches")).alias("false_positives"),
    )


# ---------------------------------------------------------------------------
# Simplified (centroid-based) silhouette over the shared IVF artifact:
# per-vector cluster-quality score from the rounded-6 cosine contract —
# K-row broadcast cross join + one _id-keyed partial agg; the oracle
# replays assignment and distances from the SAME published centroid
# parquet.  See functions/simsearch.py::silhouette.
# ---------------------------------------------------------------------------
@query(
    "emb_silhouette",
    f"""
WITH base AS (
    SELECT vec_id AS _id, embedding AS _v, {_IVF_NORM} AS _n FROM embeddings
),
cents AS (
    SELECT centroid_id, cv, cn
    FROM read_parquet('{_IVF_CENTROIDS_PATH}/*.parquet')
),
allc AS (
    SELECT b._id, c.centroid_id AS cid,
           {_cos6('b._v', 'b._n', 'c.cv', 'c.cn')} AS c
    FROM base b CROSS JOIN cents c
),
own AS (
    SELECT _id, cid AS centroid_id FROM (
        SELECT _id, cid,
               ROW_NUMBER() OVER (
                   PARTITION BY _id ORDER BY c DESC, cid
               ) AS rn
        FROM allc
    ) WHERE rn = 1
),
ag AS (
    SELECT a._id, o.centroid_id,
           MAX(CASE WHEN a.cid = o.centroid_id THEN a.c END) AS cos_own,
           MAX(CASE WHEN a.cid <> o.centroid_id THEN a.c END) AS cos_other
    FROM allc a JOIN own o ON a._id = o._id GROUP BY 1, 2
),
d AS (
    SELECT _id, centroid_id,
           1 - cos_own AS da, 1 - cos_other AS db
    FROM ag
)
SELECT _id AS vec_id, centroid_id, da AS dist_own, db AS dist_other,
       CASE WHEN GREATEST(da, db) > 0
            THEN {_round_sql('(db - da) / GREATEST(da, db)', 6)}
            ELSE 0.0 END AS silhouette
FROM d
""",
)
def _emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents, assigned = _artifact(
        spark,
        sf_dir,
        "ivf_index",
        lambda: simsearch.ivf_build(
            emb, dim=_EMB_DIM, centroids_path=_IVF_CENTROIDS_PATH
        ),
    )
    return simsearch.silhouette(assigned, cents, dim=_EMB_DIM)


# ---------------------------------------------------------------------------
# KMV set DIFFERENCE: "viewers who never purchased" (and the reverse)
# from the two sketches alone — the directional completion of the Beyer
# et al. estimator, exact below k, deterministic on the md5 contract.
# See functions/sketch.py::kmv_difference.
# ---------------------------------------------------------------------------
@query(
    "sketch_kmv_difference",
    f"""
WITH ha AS (
    SELECT DISTINCT {_KMV_H} AS h FROM events WHERE event_type = 'view'
),
hb AS (
    SELECT DISTINCT {_KMV_H} AS h FROM events WHERE event_type = 'purchase'
),
ska AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
skb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),
comb AS (
    SELECT COALESCE(a.h, b.h) AS h,
           (a.h IS NOT NULL AND b.h IS NULL) AS a_only,
           (b.h IS NOT NULL AND a.h IS NULL) AS b_only
    FROM ska a FULL OUTER JOIN skb b ON a.h = b.h
),
bottom AS (SELECT h, a_only, b_only FROM comb ORDER BY h LIMIT {_KMV_K}),
agg AS (
    SELECT COUNT(*) AS n, MAX(h) AS hk,
           SUM(CASE WHEN a_only THEN 1 ELSE 0 END) AS na,
           SUM(CASE WHEN b_only THEN 1 ELSE 0 END) AS nb
    FROM bottom
)
SELECT CASE WHEN n < {_KMV_K} THEN CAST(n AS DOUBLE)
            ELSE ROUND({_KMV_K - 1} * 4294967296.0 / hk, 2)
       END AS union_estimate,
       ROUND((CAST(na AS DOUBLE) / n) *
             CASE WHEN n < {_KMV_K} THEN CAST(n AS DOUBLE)
                  ELSE ROUND({_KMV_K - 1} * 4294967296.0 / hk, 2) END,
             2) AS a_not_b_estimate,
       ROUND((CAST(nb AS DOUBLE) / n) *
             CASE WHEN n < {_KMV_K} THEN CAST(n AS DOUBLE)
                  ELSE ROUND({_KMV_K - 1} * 4294967296.0 / hk, 2) END,
             2) AS b_not_a_estimate
FROM agg
""",
)
def _kmv_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sketch import kmv_difference, kmv_sketch

    ev = load_table(spark, sf_dir, "events", spread=True)
    ska = kmv_sketch(
        ev.filter(F.col("event_type") == "view"), [], "user_id", k=_KMV_K
    )
    skb = kmv_sketch(
        ev.filter(F.col("event_type") == "purchase"), [], "user_id", k=_KMV_K
    )
    return kmv_difference(ska, skb, k=_KMV_K)


# ---------------------------------------------------------------------------
# N-gram CONTAINMENT near-dup pairs: shared shingles over the smaller
# doc's shingle count — the asymmetric predicate that catches a short
# doc embedded in a long one where Jaccard dilutes to zero.  Same
# inverted-index equi-join plan as dedup_ngram_jaccard.  See
# functions/dedup.py::ngram_containment_pairs.
# ---------------------------------------------------------------------------
@query(
    "dedup_containment",
    """
WITH sh AS (
    SELECT doc_id AS doc,
           UNNEST(list_distinct(
               CASE WHEN len(string_split_regex(trim(lower(text)),
                                                '\\s+')) >= 3
                    THEN [array_to_string(
                             string_split_regex(trim(lower(text)),
                                                '\\s+')[i : i + 2], ' ')
                          FOR i IN range(1,
                              len(string_split_regex(trim(lower(text)),
                                                     '\\s+')) - 1)]
                    ELSE [] END)) AS shingle
    FROM documents WHERE text IS NOT NULL
),
sizes AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
shared AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b, s.shared, sa.sz AS sz_a, sb.sz AS sz_b,
       ROUND(CAST(s.shared AS DOUBLE) / LEAST(sa.sz, sb.sz), 4)
           AS containment
FROM shared s
JOIN sizes sa ON s.doc_a = sa.doc
JOIN sizes sb ON s.doc_b = sb.doc
WHERE CAST(s.shared AS DOUBLE) / LEAST(sa.sz, sb.sz) >= 0.5
""",
)
def _dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return ngram_containment_pairs(docs, threshold=0.5)


# ---------------------------------------------------------------------------
# LSH recall audit: how much of the exact-Jaccard pair set does the
# banded MinHash-LSH candidate path recover?  The
# verify-your-approximation gate — both pair sets come from the engine's
# own operators, the oracle replays both from the shared CTE chain.
# ---------------------------------------------------------------------------
@query(
    "dedup_lsh_recall",
    f"""
WITH {_MINHASH_CTES},
ex AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact
    FROM jac WHERE jaccard >= 0.2
),
lp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh FROM mh_pairs),
hit AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
    FROM mh_pairs m
    JOIN (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.2) e
      ON m.doc_a = e.doc_a AND m.doc_b = e.doc_b
)
SELECT ex.n_exact, lp.n_lsh, hit.n_hit,
       CASE WHEN ex.n_exact > 0
            THEN {_round_sql(
                'CAST(hit.n_hit * 100 AS DOUBLE)'
                ' / CAST(ex.n_exact AS DOUBLE)', 9)}
       END AS recall_pct
FROM ex, lp, hit
""",
)
def _lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    arrays = _artifact(
        spark, sf_dir, "doc_shingles_3", lambda: dedup.shingle_arrays(docs)
    )
    exact = dedup.ngram_jaccard_pairs(
        docs, threshold=0.2, df_cap=_DF_CAP, arrays=arrays
    ).select("doc_a", "doc_b")
    lsh = dedup.minhash_lsh_pairs(docs, threshold=0.2, arrays=arrays).select(
        "doc_a", "doc_b"
    )
    ex = exact.agg(F.count("*").alias("n_exact"))
    lp = lsh.agg(F.count("*").alias("n_lsh"))
    hit = exact.join(lsh, ["doc_a", "doc_b"]).agg(
        F.count("*").alias("n_hit")
    )
    return (
        ex.crossJoin(F.broadcast(lp))
        .crossJoin(F.broadcast(hit))
        .select(
            "n_exact",
            "n_lsh",
            "n_hit",
            F.when(
                F.col("n_exact") > 0,
                F.round(
                    (F.col("n_hit") * F.lit(100)).cast("double")
                    / F.col("n_exact").cast("double"),
                    9,
                ),
            ).alias("recall_pct"),
        )
    )


# ---------------------------------------------------------------------------
# ANN recall@10 audit: the IVF (nprobe=2) top-10 lists vs the exact
# brute-force top-10, per query — the approximation-quality loop closed
# on the similarity-search side, mirroring dedup_lsh_recall.  The oracle
# composes the two gates' own oracle texts as subqueries over the SAME
# published centroid artifact.
# ---------------------------------------------------------------------------
from .registry import ORACLES as _ORACLES  # noqa: E402


@query(
    "sim_ivf_recall",
    f"""
WITH brute AS (
    SELECT query_id, neighbor_id
    FROM ({_ORACLES['sim_knn_bruteforce']}) b
),
ivf AS (
    SELECT query_id, neighbor_id
    FROM ({_ORACLES['sim_knn_ivf']}) v
),
k AS (
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k FROM brute GROUP BY 1
),
hit AS (
    SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
    FROM brute b JOIN ivf i
      ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
    GROUP BY 1
)
SELECT k.query_id, k.k,
       CAST(COALESCE(hit.n_hit, 0) AS BIGINT) AS n_hit,
       {_round_sql(
           'CAST(COALESCE(hit.n_hit, 0) * 100 AS DOUBLE)'
           ' / CAST(k.k AS DOUBLE)', 9)} AS recall_pct
FROM k LEFT JOIN hit ON k.query_id = hit.query_id
""",
)
def _sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    idx = _artifact(
        spark,
        sf_dir,
        "ivf_index",
        lambda: simsearch.ivf_build(
            emb, dim=_EMB_DIM, centroids_path=_IVF_CENTROIDS_PATH
        ),
    )
    brute = simsearch.knn_bruteforce(emb, _KNN_QUERY_IDS, k=10).select(
        "query_id", "neighbor_id"
    )
    ivf = simsearch.ivf_topk(
        emb, _KNN_QUERY_IDS, k=10, dim=_EMB_DIM, index=idx
    ).select("query_id", "neighbor_id")
    k = brute.groupBy("query_id").agg(F.count("*").alias("k"))
    hit = brute.join(ivf, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count("*").alias("n_hit"))
    return (
        k.join(hit, "query_id", "left")
        .select(
            "query_id",
            "k",
            F.coalesce(F.col("n_hit"), F.lit(0).cast("bigint")).alias(
                "n_hit"
            ),
            F.round(
                (F.coalesce(F.col("n_hit"), F.lit(0)) * F.lit(100)).cast(
                    "double"
                )
                / F.col("k").cast("double"),
                9,
            ).alias("recall_pct"),
        )
    )


# ---------------------------------------------------------------------------
# Index-version drift: each full-corpus IVF centroid matched to its
# nearest sampled-train centroid (8x8 metadata cross) with the rounded-6
# cosine — the governance readout for "did retraining move the
# clustering?"; both artifacts are the published parquet the sim gates
# already check against.
# ---------------------------------------------------------------------------
@query(
    "emb_centroid_drift",
    f"""
WITH full_c AS (
    SELECT centroid_id, cv, cn
    FROM read_parquet('{_IVF_CENTROIDS_PATH}/*.parquet')
),
samp_c AS (
    SELECT centroid_id AS matched_id, cv AS sv, cn AS sn
    FROM read_parquet('{_IVF_SAMPLED_CENTROIDS_PATH}/*.parquet')
)
SELECT centroid_id, matched_id, cosine FROM (
    SELECT f.centroid_id, s.matched_id,
           {_cos6('f.cv', 'f.cn', 's.sv', 's.sn')} AS cosine,
           ROW_NUMBER() OVER (
               PARTITION BY f.centroid_id
               ORDER BY {_cos6('f.cv', 'f.cn', 's.sv', 's.sn')} DESC,
                        s.matched_id
           ) AS rn
    FROM full_c f CROSS JOIN samp_c s
) WHERE rn = 1
""",
)
def _emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dedup import _dot

    emb = load_table(spark, sf_dir, "embeddings")
    cents_full, _ = _artifact(
        spark,
        sf_dir,
        "ivf_index",
        lambda: simsearch.ivf_build(
            emb, dim=_EMB_DIM, centroids_path=_IVF_CENTROIDS_PATH
        ),
    )
    cents_samp, _ = _artifact(
        spark,
        sf_dir,
        "ivf_index_sampled",
        lambda: simsearch.ivf_build(
            emb,
            dim=_EMB_DIM,
            centroids_path=_IVF_SAMPLED_CENTROIDS_PATH,
            train_mod=2,
        ),
    )
    s = cents_samp.select(
        F.col("centroid_id").alias("matched_id"),
        F.col("cv").alias("sv"),
        F.col("cn").alias("sn"),
    )
    cos = F.round(
        _dot(F.col("cv"), F.col("sv"), _EMB_DIM)
        / (F.col("cn") * F.col("sn")),
        6,
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("centroid_id").orderBy(
        F.desc("cosine"), F.asc("matched_id")
    )
    return (
        cents_full.crossJoin(F.broadcast(s))
        .select("centroid_id", "matched_id", cos.alias("cosine"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("centroid_id", "matched_id", "cosine")
    )


# ---------------------------------------------------------------------------
# DSIR-flavored data selection (functions/corpus.py::lexical_shift_scores):
# score every document by how much its token mix leans toward the
# English subcorpus vs the raw corpus — the linear-frequency-difference
# variant of DSIR's hashed-n-gram log-likelihood ratio (log is
# engine-divergent; the cross products here are exact BIGINTs).
# ---------------------------------------------------------------------------
@query(
    "corpus_dsir_shift",
    f"""
WITH toks AS (
    SELECT doc_id,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
           unnest({_TOKENS}) AS term
    FROM documents
),
counts AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS cr,
           CAST(SUM(tgt) AS BIGINT) AS ct
    FROM toks GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(ct) AS BIGINT) AS nt
    FROM counts
),
per_doc AS (
    SELECT t.doc_id,
           CAST(SUM(c.ct * x.nr - c.cr * x.nt) AS BIGINT) AS num,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM toks t JOIN counts c USING (term) CROSS JOIN tot x
    GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       {_round_sql(
           "CAST(p.num AS DOUBLE)"
           " / CAST(p.n_tokens * x2.nt * x2.nr AS DOUBLE)", 12)}
           AS shift
FROM documents d
LEFT JOIN per_doc p USING (doc_id)
CROSS JOIN tot x2
""",
)
def _dsir_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.corpus import lexical_shift_scores

    d = load_table(spark, sf_dir, "documents", spread=True).withColumn(
        "_is_tgt", (F.col("lang") == "en").cast("int")
    )
    return lexical_shift_scores(d, "_is_tgt", "text", "doc_id")


# ---------------------------------------------------------------------------
# Product quantization codes (functions/simsearch.py::pq_encode): the
# vector-compression layer under billion-scale ANN (IVF+PQ).  Four
# 16-dim subspaces, 8 codewords each, trained by the same exact-decimal
# Lloyd's as the IVF index; the codebook parquet is the published
# artifact the oracle replays assignment against (ivf contract — read
# the exact written bits; run artifact-reading gates single-writer).
# ---------------------------------------------------------------------------
_PQ_CODEBOOK_PATH = f"/tmp/nl_spark_pq_codebook_{_os.getpid()}.parquet"
_PQ_M = 4
_PQ_SUB = _EMB_DIM // _PQ_M


@query(
    "emb_pq_codes",
    f"""
WITH base AS (SELECT vec_id AS _id, embedding AS _v FROM embeddings),
cb AS (
    SELECT subspace, centroid_id, cv, cn
    FROM read_parquet('{_PQ_CODEBOOK_PATH}/*.parquet')
),
sv AS (
    SELECT _id, CAST(u.s AS INTEGER) AS subspace,
           _v[CAST(u.s * {_PQ_SUB} + 1 AS BIGINT)
              :CAST((u.s + 1) * {_PQ_SUB} AS BIGINT)] AS v
    FROM base, UNNEST(range(0, {_PQ_M})) AS u(s)
),
svn AS (
    SELECT _id, subspace, v,
           sqrt(list_sum(list_transform(
               v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
    FROM sv
)
SELECT _id AS vec_id, subspace, code FROM (
    SELECT s._id, s.subspace, CAST(c.centroid_id AS INTEGER) AS code,
           ROW_NUMBER() OVER (
               PARTITION BY s._id, s.subspace
               ORDER BY {_cos6('s.v', 's.n', 'c.cv', 'c.cn')} DESC,
                        c.centroid_id
           ) AS rn
    FROM svn s JOIN cb c USING (subspace)
) WHERE rn = 1
""",
)
def _emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    _cb, codes = _artifact(
        spark,
        sf_dir,
        "pq_codes",
        lambda: simsearch.pq_encode(
            emb,
            dim=_EMB_DIM,
            m=_PQ_M,
            codebook_path=_PQ_CODEBOOK_PATH,
        ),
    )
    return codes


# ---------------------------------------------------------------------------
# Bounded k-core peeling (functions/graph.py::k_core) over the same
# deterministic doc-link graph as PageRank/BFS/shortest-paths: nodes
# surviving 3 peels at k=3, with their surviving-subgraph degree.
# The oracle unrolls the peels as chained CTEs.
# ---------------------------------------------------------------------------
from ..functions.graph import k_core  # noqa: E402

_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_step_sql(i: int) -> str:
    return f"""
ke{i} AS (
    SELECT u._a, u._b FROM und u
    JOIN ka{i - 1} s ON u._a = s.node
    JOIN ka{i - 1} t ON u._b = t.node
),
kd{i} AS (
    SELECT _a AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM ke{i} GROUP BY 1
),
ka{i} AS (SELECT node FROM kd{i} WHERE degree >= {_KCORE_K})"""


@query(
    "graph_k_core",
    "WITH "
    + _PR_EDGES_CTE
    + """,
und AS (
    SELECT DISTINCT _a, _b FROM (
        SELECT src AS _a, dst AS _b FROM edges
        UNION ALL
        SELECT dst AS _a, src AS _b FROM edges
    ) WHERE _a <> _b
),
ka0 AS (SELECT DISTINCT _a AS node FROM und),"""
    + ",".join(_kcore_step_sql(i) for i in range(1, _KCORE_ROUNDS + 1))
    + f""",
kef AS (
    SELECT u._a, u._b FROM und u
    JOIN ka{_KCORE_ROUNDS} s ON u._a = s.node
    JOIN ka{_KCORE_ROUNDS} t ON u._b = t.node
),
kdf AS (
    SELECT _a AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM kef GROUP BY 1
)
SELECT s.node AS doc_id,
       CAST(COALESCE(d.degree, 0) AS BIGINT) AS degree
FROM ka{_KCORE_ROUNDS} s LEFT JOIN kdf d ON s.node = d.node""",
)
def _graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    edges = _pr_edges_df(docs)
    return k_core(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS).select(
        F.col("node").alias("doc_id"), "degree"
    )


# ---------------------------------------------------------------------------
# T5-style span-corruption masks (functions/chunking.py::
# span_corruption_masks): deterministic noise spans from the md5
# contract — ~5% of positions start a 2-4 token span, overlaps merge.
# The pretraining-objective prep step; all integers, hash-exact.
# ---------------------------------------------------------------------------
from ..functions.chunking import span_corruption_masks  # noqa: E402

_SPAN_KEY = (
    "CAST(doc_id AS VARCHAR) || '|' || CAST(p AS VARCHAR)"
)


@query(
    "corpus_span_corruption",
    f"""
WITH toks AS (
    SELECT doc_id,
           CASE WHEN trim(lower(text)) = '' THEN 0
                ELSE len({_TOKENS}) END AS n
    FROM documents
),
pos AS (
    SELECT doc_id, n, CAST(unnest(range(1, n + 1)) AS BIGINT) AS p
    FROM toks WHERE n >= 1
),
flagged AS (
    SELECT doc_id, n, p,
           2 + {_H32.format(x=_SPAN_KEY + " || '|len'")} % 3 AS sl
    FROM pos
    WHERE {_H32.format(x=_SPAN_KEY)} % 20 = 0
),
masked AS (
    SELECT DISTINCT doc_id, n,
           CAST(unnest(range(p, least(p + sl, n + 1))) AS BIGINT) AS mp
    FROM flagged
),
isl AS (
    SELECT doc_id, n, mp,
           CASE WHEN mp - LAG(mp) OVER (
                    PARTITION BY doc_id ORDER BY mp) = 1
                THEN 0 ELSE 1 END AS brk
    FROM masked
),
grp AS (
    SELECT doc_id, n, mp,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY mp
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
    FROM isl
)
SELECT doc_id, CAST(g AS INTEGER) AS span_id,
       CAST(MIN(mp) AS BIGINT) AS start_pos,
       CAST(COUNT(*) AS BIGINT) AS span_len,
       CAST(MAX(n) AS BIGINT) AS n_tokens
FROM grp GROUP BY doc_id, g
""",
)
def _span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    return span_corruption_masks(d, "text", "doc_id")


# ---------------------------------------------------------------------------
# PQ reconstruction fidelity (functions/simsearch.py::pq_fidelity): the
# governance readout over the published codebook — cosine between each
# vector and its codeword reconstruction, decomposed per subspace with
# exact decimal cross-subspace sums.  Shares the pq_codes artifact.
# ---------------------------------------------------------------------------
_PQ_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))"
)


@query(
    "emb_pq_reconstruction",
    f"""
WITH base AS (SELECT vec_id AS _id, embedding AS _v FROM embeddings),
cb AS (
    SELECT subspace, centroid_id, cv, cn
    FROM read_parquet('{_PQ_CODEBOOK_PATH}/*.parquet')
),
sv AS (
    SELECT _id, CAST(u.s AS INTEGER) AS subspace,
           _v[CAST(u.s * {_PQ_SUB} + 1 AS BIGINT)
              :CAST((u.s + 1) * {_PQ_SUB} AS BIGINT)] AS v
    FROM base, UNNEST(range(0, {_PQ_M})) AS u(s)
),
svn AS (
    SELECT _id, subspace, v,
           sqrt(list_sum(list_transform(
               v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
    FROM sv
),
assigned AS (
    SELECT _id, subspace, code, v FROM (
        SELECT s._id, s.subspace, c.centroid_id AS code, s.v,
               ROW_NUMBER() OVER (
                   PARTITION BY s._id, s.subspace
                   ORDER BY {_cos6('s.v', 's.n', 'c.cv', 'c.cn')} DESC,
                            c.centroid_id
               ) AS rn
        FROM svn s JOIN cb c USING (subspace)
    ) WHERE rn = 1
),
vn AS (
    SELECT _id,
           sqrt(list_sum(list_transform(
               _v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS vn
    FROM base
),
terms AS (
    SELECT a._id,
           CAST(CAST({_PQ_DOT.format(a='a.v', b='c.cv')} AS VARCHAR)
                AS DECIMAL(38,18)) AS pdot,
           CAST(CAST(c.cn * c.cn AS VARCHAR) AS DECIMAL(38,18)) AS cn2
    FROM assigned a
    JOIN cb c ON a.subspace = c.subspace AND a.code = c.centroid_id
),
agg AS (
    SELECT _id, SUM(pdot) AS dot_sum, SUM(cn2) AS r2_sum
    FROM terms GROUP BY 1
)
SELECT a._id AS vec_id,
       {_round_sql(
           "CAST(a.dot_sum AS DOUBLE)"
           " / (v.vn * sqrt(CAST(a.r2_sum AS DOUBLE)))", 6)} AS fidelity
FROM agg a JOIN vn v USING (_id)
""",
)
def _emb_pq_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cb, codes = _artifact(
        spark,
        sf_dir,
        "pq_codes",
        lambda: simsearch.pq_encode(
            emb,
            dim=_EMB_DIM,
            m=_PQ_M,
            codebook_path=_PQ_CODEBOOK_PATH,
        ),
    )
    return simsearch.pq_fidelity(emb, cb, codes, dim=_EMB_DIM, m=_PQ_M)


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle (functions/corpus.py::training_order):
# md5-contract shuffle key, global ordinal WITHOUT a row-scale global
# sort (hash-prefix buckets + local row_number + metadata-scale offset
# window), micro-batch ids off the ordinal.  The oracle is the naive
# global ROW_NUMBER — same total order, different plan.
# ---------------------------------------------------------------------------
from ..functions.corpus import training_order  # noqa: E402

_SHUF_H = _H32.format(x="'shuf|' || CAST(doc_id AS VARCHAR)")


@query(
    "corpus_training_order",
    f"""
WITH keyed AS (
    SELECT doc_id, {_SHUF_H} AS shuffle_key FROM documents
)
SELECT doc_id, shuffle_key,
       CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1
            AS BIGINT) AS ordinal,
       CAST((ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1) // 256
            AS BIGINT) AS microbatch
FROM keyed
""",
)
def _training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    return training_order(d, "doc_id", batch_size=256)


# ---------------------------------------------------------------------------
# Matryoshka truncation audit: recall@10 of brute-force KNN over the
# FIRST 16 of 64 dimensions vs the full-dimension ground truth — the
# governance readout for MRL-style dimension reduction (store/search
# short prefixes, re-rank with full vectors).  Pure composition of the
# existing exact-cosine machinery on sliced vectors.
# ---------------------------------------------------------------------------
_MRL_DIM = 16


@query(
    "emb_matryoshka_recall",
    f"""
WITH brute AS (
    SELECT query_id, neighbor_id FROM ({_ORACLES['sim_knn_bruteforce']}) b
),
tq AS (
    SELECT vec_id AS query_id, embedding[1:{_MRL_DIM}] AS qv
    FROM embeddings WHERE vec_id IN ({", ".join(map(str, _KNN_QUERY_IDS))})
),
tc AS (SELECT vec_id, embedding[1:{_MRL_DIM}] AS cv FROM embeddings),
tscored AS (
    SELECT tq.query_id, c.vec_id AS neighbor_id,
           {_COS_SQL.format(va='qv', vb='cv').replace('a.', 'tq.').replace('b.', 'c.')} AS cosine
    FROM tc c CROSS JOIN tq
    WHERE c.vec_id <> tq.query_id
),
trunc AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS rank FROM tscored
    ) WHERE rank <= 10
),
k AS (
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k FROM brute GROUP BY 1
),
hit AS (
    SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
    FROM brute b JOIN trunc t
      ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
    GROUP BY 1
)
SELECT k.query_id, k.k,
       CAST(COALESCE(hit.n_hit, 0) AS BIGINT) AS n_hit,
       {_round_sql(
           'CAST(COALESCE(hit.n_hit, 0) * 100 AS DOUBLE)'
           ' / CAST(k.k AS DOUBLE)', 9)} AS recall_pct
FROM k LEFT JOIN hit ON k.query_id = hit.query_id
""",
)
def _matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    full = simsearch.knn_bruteforce(emb, _KNN_QUERY_IDS, k=10).select(
        "query_id", "neighbor_id"
    )
    trunc_emb = emb.select(
        "vec_id", F.slice("embedding", 1, _MRL_DIM).alias("embedding")
    )
    trunc = simsearch.knn_bruteforce(
        trunc_emb, _KNN_QUERY_IDS, k=10
    ).select("query_id", "neighbor_id")
    k = full.groupBy("query_id").agg(F.count("*").alias("k"))
    hit = full.join(trunc, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count("*").alias("n_hit"))
    return k.join(hit, "query_id", "left").select(
        "query_id",
        "k",
        F.coalesce(F.col("n_hit"), F.lit(0).cast("bigint")).alias("n_hit"),
        F.round(
            (F.coalesce(F.col("n_hit"), F.lit(0)) * F.lit(100)).cast(
                "double"
            )
            / F.col("k").cast("double"),
            9,
        ).alias("recall_pct"),
    )


# ---------------------------------------------------------------------------
# Neighbor-set Jaccard node similarity over the deterministic doc graph:
# candidate pairs from the shared-neighbor (wedge) equi-join — the
# inverted-index pattern again, never all-pairs — with exact integer
# |intersection| / |union|.  The link-graph companion of the text/
# embedding dedup families (co-citation similarity).
# ---------------------------------------------------------------------------
_JACCARD_MIN = 0.25


@query(
    "graph_node_jaccard",
    "WITH "
    + _PR_EDGES_CTE
    + f""",
und AS (
    SELECT DISTINCT _a, _b FROM (
        SELECT src AS _a, dst AS _b FROM edges
        UNION ALL
        SELECT dst AS _a, src AS _b FROM edges
    ) WHERE _a <> _b
),
deg AS (SELECT _a AS node, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1),
common AS (
    SELECT x._b AS u, y._b AS v, CAST(COUNT(*) AS BIGINT) AS common
    FROM und x JOIN und y ON x._a = y._a AND x._b < y._b
    GROUP BY 1, 2
)
SELECT u, v, common,
       du.d + dv.d - common AS union_size,
       {_round_sql("CAST(common AS DOUBLE)"
                   " / CAST(du.d + dv.d - common AS DOUBLE)", 9)}
           AS jaccard
FROM common
JOIN deg du ON common.u = du.node
JOIN deg dv ON common.v = dv.node
WHERE CAST(common AS DOUBLE)
      / CAST(du.d + dv.d - common AS DOUBLE) >= {_JACCARD_MIN}
""",
)
def _graph_node_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    edges = _pr_edges_df(docs)
    return graph.node_jaccard(edges, _JACCARD_MIN)


# ---------------------------------------------------------------------------
# Near-dup threshold sweep: cumulative pair counts at a ladder of cosine
# thresholds, all from ONE pair table (the 0.35-base blocked kernel) —
# the dedup-policy tuning curve ("how many pairs would each threshold
# merge?").  Thresholds explode map-side over the pair frame.
# ---------------------------------------------------------------------------
_SWEEP_THRESHOLDS = (0.35, 0.5, 0.65, 0.8, 0.95)


@query(
    "dedup_threshold_sweep",
    f"""
WITH pairs AS (
    SELECT {_COS_SQL.format(va='embedding', vb='embedding')} AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_COS_SQL.format(va='embedding', vb='embedding')} > 0.35
),
th AS (SELECT CAST(unnest([{", ".join(map(str, _SWEEP_THRESHOLDS))}])
              AS DOUBLE) AS threshold)
SELECT threshold, CAST(COUNT(*) FILTER (cosine >= threshold) AS BIGINT)
           AS n_pairs
FROM th LEFT JOIN pairs ON TRUE
GROUP BY threshold
""",
)
def _dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.embedding_near_dup_pairs_blocked(
        load_table(spark, sf_dir, "embeddings"), threshold=0.35
    ).select("cosine")
    th = F.array(*[F.lit(float(t)) for t in _SWEEP_THRESHOLDS])
    exploded = pairs.select(
        F.explode(th).alias("threshold"), "cosine"
    )
    counts = exploded.groupBy("threshold").agg(
        F.count_if(F.col("cosine") >= F.col("threshold")).alias("n_pairs")
    )
    all_th = spark.createDataFrame(
        [(float(t),) for t in _SWEEP_THRESHOLDS], "threshold double"
    )
    return all_th.join(counts, "threshold", "left").select(
        "threshold",
        F.coalesce(F.col("n_pairs"), F.lit(0).cast("bigint")).alias(
            "n_pairs"
        ),
    )


# ---------------------------------------------------------------------------
# Compressibility quality signal (functions/text.py::compression_ratio):
# zlib ratio per doc via the Arrow mapInPandas contract.  DEFLATE is not
# SQL-expressible, so the oracle rides the published-artifact pattern
# (the IVF-centroid contract): a driver-LOCAL reference implementation —
# plain pyarrow + zlib over the raw parquet, no Spark, no Arrow batching,
# a fully independent code path — publishes (doc_id, n_compressed_ref)
# to a lookup parquet; DuckDB recomputes n_bytes/ratio natively
# (octet_length over utf-8) and joins the lookup for the DEFLATE term.
# The distributed kernel is thereby hash-checked against a single-process
# reference instead of the former rows-only registration.
# ---------------------------------------------------------------------------
_ZLIB_LOOKUP_PATH = f"/tmp/nl_spark_zlib_lookup_{_os.getpid()}.parquet"


def _publish_zlib_lookup(sf_dir: str) -> bool:
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    texts = tbl.column("text").to_pylist()
    nc = [
        len(zlib.compress(t.encode("utf-8"), 6)) if t is not None else None
        for t in texts
    ]
    # Multi-SF spine: the lookup path is process-global, so rows carry a
    # content fingerprint of the corpus they were published from (total
    # UTF-8 byte mass — doc COUNT alone is NOT unique, sf0.001 and
    # sf0.01 both hold 500 docs) and the oracle joins on (doc_id,
    # corpus_bytes == SUM(octet_length(encode(text))) of its own
    # documents view).  Running a second scale factor APPENDS (replacing
    # same-fingerprint rows) instead of clobbering the first SF's
    # reference data — any SF's oracle stays re-evaluable in any order
    # within one process.
    corpus_bytes = sum(
        len(t.encode("utf-8")) for t in texts if t is not None
    )
    out = pa.table(
        {
            "doc_id": tbl.column("doc_id"),
            "n_compressed_ref": pa.array(nc, pa.int64()),
            "corpus_bytes": pa.array(
                [corpus_bytes] * tbl.num_rows, pa.int64()
            ),
        }
    )
    if _os.path.exists(_ZLIB_LOOKUP_PATH):
        import pyarrow.compute as pc

        prev = pq.read_table(_ZLIB_LOOKUP_PATH)
        prev = prev.filter(
            pc.not_equal(prev.column("corpus_bytes"), corpus_bytes)
        )
        out = pa.concat_tables([prev, out])
    tmp = _ZLIB_LOOKUP_PATH + ".tmp"
    pq.write_table(out, tmp)
    _os.replace(tmp, _ZLIB_LOOKUP_PATH)
    return True


@query(
    "text_compression_ratio",
    f"""
WITH nd AS (
    SELECT CAST(COALESCE(SUM(octet_length(encode(text))), 0) AS BIGINT)
        AS cb
    FROM documents
)
SELECT d.doc_id,
       CASE WHEN d.text IS NOT NULL
            THEN CAST(octet_length(encode(d.text)) AS BIGINT) END AS n_bytes,
       CASE WHEN d.text IS NOT NULL
            THEN l.n_compressed_ref END AS n_compressed,
       CASE WHEN d.text IS NOT NULL AND octet_length(encode(d.text)) > 0
            THEN ROUND(CAST(l.n_compressed_ref AS DOUBLE)
                       / octet_length(encode(d.text)), 6) END AS ratio
FROM documents d
CROSS JOIN nd
LEFT JOIN read_parquet('{_ZLIB_LOOKUP_PATH}') l
       ON d.doc_id = l.doc_id AND l.corpus_bytes = nd.cb
""",
)
def _compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import compression_ratio

    _artifact(
        spark, sf_dir, "zlib_lookup", lambda: _publish_zlib_lookup(sf_dir)
    )
    return compression_ratio(
        load_table(spark, sf_dir, "documents", spread=True)
    )


# ---------------------------------------------------------------------------
# Degree histogram of the deterministic doc graph: undirected degree ->
# node count + exact cumulative share (descending degree — "what share
# of nodes have degree >= d"), the structural-health readout next to
# triangles/k-core.  Window over the degree-level (metadata-scale) frame.
# ---------------------------------------------------------------------------
@query(
    "graph_degree_histogram",
    "WITH "
    + _PR_EDGES_CTE
    + f""",
und AS (
    SELECT DISTINCT _a, _b FROM (
        SELECT src AS _a, dst AS _b FROM edges
        UNION ALL
        SELECT dst AS _a, src AS _b FROM edges
    ) WHERE _a <> _b
),
deg AS (SELECT _a AS node, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1),
hist AS (
    SELECT d AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_nodes) AS BIGINT) AS n FROM hist)
SELECT degree, n_nodes,
       CAST(SUM(n_nodes) OVER (ORDER BY degree DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS n_at_least,
       {_round_sql(
           "CAST(SUM(n_nodes) OVER (ORDER BY degree DESC"
           " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100"
           " AS DOUBLE) / CAST(n AS DOUBLE)", 9)} AS pct_at_least
FROM hist, tot
""",
)
def _graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    docs = load_table(spark, sf_dir, "documents", spread=True)
    # both symmetrize branches + the downstream windows reference the edge
    # derivation -> call-site barrier (see _pr_edges_df's no-barrier note)
    edges = dedup._materialize(_pr_edges_df(docs))
    und = (
        edges.select(F.col("src").alias("_a"), F.col("dst").alias("_b"))
        .unionByName(
            edges.select(F.col("dst").alias("_a"), F.col("src").alias("_b"))
        )
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
    )
    deg = und.groupBy(F.col("_a").alias("node")).agg(
        F.count("*").alias("d")
    )
    hist = deg.groupBy(F.col("d").alias("degree")).agg(
        F.count("*").alias("n_nodes")
    )
    tot = hist.agg(F.sum("n_nodes").alias("n"))
    w = _W.orderBy(F.desc("degree")).rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    return hist.crossJoin(F.broadcast(tot)).select(
        "degree",
        "n_nodes",
        F.sum("n_nodes").over(w).alias("n_at_least"),
        F.round(
            (F.sum("n_nodes").over(w) * 100).cast("double")
            / F.col("n").cast("double"),
            9,
        ).alias("pct_at_least"),
    )


# ---------------------------------------------------------------------------
# Edge reciprocity per node over the DIRECTED doc graph: the share of a
# node's out-links that link back — the link-farm / mutual-citation
# signal next to degree/triangles/k-core.  Reciprocal edges come from
# ONE equi-self-join of the edge list against its reverse; counts and
# the share are exact integers with one closing division.
# ---------------------------------------------------------------------------
@query(
    "graph_reciprocity",
    "WITH "
    + _PR_EDGES_CTE
    + f""",
d_edges AS (SELECT src, dst FROM edges WHERE src <> dst),
recip AS (
    SELECT a.src, CAST(COUNT(*) AS BIGINT) AS n_reciprocal
    FROM d_edges a JOIN d_edges b ON a.src = b.dst AND a.dst = b.src
    GROUP BY 1
),
outd AS (
    SELECT src, CAST(COUNT(*) AS BIGINT) AS out_degree
    FROM d_edges GROUP BY 1
)
SELECT o.src AS doc_id, o.out_degree,
       COALESCE(r.n_reciprocal, 0) AS n_reciprocal,
       {_round_sql("CAST(COALESCE(r.n_reciprocal, 0) * 100 AS DOUBLE)"
                   " / CAST(o.out_degree AS DOUBLE)", 9)}
           AS reciprocity_pct
FROM outd o LEFT JOIN recip r ON o.src = r.src
""",
)
def _graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # forward + reverse + out-degree all read the edge list -> call-site
    # barrier (see _pr_edges_df's no-barrier note)
    edges = dedup._materialize(
        _pr_edges_df(docs).filter(F.col("src") != F.col("dst"))
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    recip = (
        edges.join(rev, ["src", "dst"])
        .groupBy("src")
        .agg(F.count("*").alias("n_reciprocal"))
    )
    outd = edges.groupBy("src").agg(F.count("*").alias("out_degree"))
    return outd.join(recip, "src", "left").select(
        F.col("src").alias("doc_id"),
        "out_degree",
        F.coalesce(F.col("n_reciprocal"), F.lit(0).cast("bigint")).alias(
            "n_reciprocal"
        ),
        F.round(
            (F.coalesce(F.col("n_reciprocal"), F.lit(0)) * 100).cast(
                "double"
            )
            / F.col("out_degree").cast("double"),
            9,
        ).alias("reciprocity_pct"),
    )


# ---------------------------------------------------------------------------
# Decode + nearest-neighbor thumbnail (multimodal.png_thumbnail_pixels):
# the engine inflates the ACTUAL PNG bytes and resamples to 4x3 with the
# integer floor map sx = tx*w//4, sy = ty*h//3; the oracle recomputes
# every sampled pixel from the encode formula alone — any stride,
# filter, or sampling-index mistake mismatches on a specific pixel, not
# just an aggregate.  Same fixture (and quarantine thirds) as
# mm_decode_png_pixels.
# ---------------------------------------------------------------------------
_THUMB_W, _THUMB_H = 4, 3


@query(
    "mm_png_thumbnail",
    f"""
WITH sel AS (
    SELECT doc_id,
           CAST(8 + doc_id % 9 AS INTEGER) AS w,
           CAST(6 + doc_id % 7 AS INTEGER) AS h,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 97 = 0
),
tpx AS (
    SELECT doc_id,
           CAST(tx.i AS INTEGER) AS tx, CAST(ty.i AS INTEGER) AS ty,
           ((ty.i * h) // {_THUMB_H}) * w + ((tx.i * w) // {_THUMB_W}) AS p
    FROM sel, range(0, {_THUMB_W}) tx(i), range(0, {_THUMB_H}) ty(i)
    WHERE NOT corrupt
)
SELECT doc_id, tx, ty,
       CAST((doc_id * 31 + p * 3    ) % 256 AS INTEGER) AS ch0,
       CAST((doc_id * 31 + p * 3 + 1) % 256 AS INTEGER) AS ch1,
       CAST((doc_id * 31 + p * 3 + 2) % 256 AS INTEGER) AS ch2,
       TRUE AS decoded
FROM tpx
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, FALSE
FROM sel WHERE corrupt
""",
)
def _mm_png_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.png_thumbnail_pixels(
        _png_fixture_payload(spark, sf_dir),
        thumb_w=_THUMB_W,
        thumb_h=_THUMB_H,
    )


# ---------------------------------------------------------------------------
# REAL WAV/PCM16 decode (multimodal.decode_wav_pcm_stats): each selected
# doc gets a genuine RIFF/WAVE byte stream — an ODD-sized junk chunk
# (whose pad byte the walker must skip), a PCM fmt chunk, and little-
# endian int16 samples following sample i = ((doc*13 + i*7) % 4001) -
# 2000.  The engine parses the ACTUAL BYTES; the oracle recomputes the
# exact sums (plain, position-weighted, peak, energy) from the formula.
# Every third doc ships truncated bytes to pin the quarantine row.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_wav_pcm",
    """
WITH sel AS (
    SELECT doc_id, CAST(200 + doc_id % 257 AS BIGINT) AS n,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 19 = 0
),
vals AS (
    SELECT doc_id, i, ((doc_id * 13 + i * 7) % 4001) - 2000 AS s
    FROM (SELECT doc_id, n, unnest(range(0, n)) AS i
          FROM sel WHERE NOT corrupt)
),
sums AS (
    SELECT doc_id,
           CAST(SUM(s) AS BIGINT) AS sample_sum,
           CAST(SUM((i + 1) * s) AS BIGINT) AS sample_weighted,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
           CAST(SUM(s * s) AS BIGINT) AS energy
    FROM vals GROUP BY 1
)
SELECT sel.doc_id,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE 16000 END AS INTEGER)
           AS sample_rate,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE 1 END AS INTEGER)
           AS n_channels,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.n END AS n_samples,
       sums.sample_sum, sums.sample_weighted, sums.peak_abs, sums.energy,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_wav_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 19 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(200) + F.col("doc_id") % 257).cast("int").alias("_n"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import wav_encode_pcm16

        for pdf in batches:
            payloads = [
                wav_encode_pcm16(int(doc), int(n))[: 30 if corrupt else None]
                for doc, n, corrupt in zip(
                    pdf["doc_id"], pdf["_n"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_wav_pcm_stats(payload)


# ---------------------------------------------------------------------------
# ZIP archive walk (multimodal.decode_zip_entries): genuine PKZIP
# containers — EOCD location, central-directory walk, local-header
# re-read, entry 0 STORED and the rest raw-DEFLATE inflated under the
# declared-size bomb fence — with the size and CRC-32 claims VERIFIED
# against the inflated bytes, not trusted: entry 2's recorded CRC is
# deliberately corrupted in the fixture, so crc_ok = FALSE is a pinned
# row, not a happy-path constant (stdlib zipfile cross-reads the
# fixture in pytest).  The oracle replays names, methods, sizes and
# byte sums from the formulas.  Every third doc truncated to pin the
# container-quarantine row.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_zip",
    """
WITH sel AS (
    SELECT doc_id, CAST(1 + doc_id % 5 AS INTEGER) AS ne,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 53 = 0
),
ent AS (
    SELECT doc_id, CAST(j AS INTEGER) AS entry_idx, j,
           CAST(20 + (doc_id + j) % 31 AS BIGINT) AS nb
    FROM (SELECT doc_id, ne, unnest(range(0, ne)) AS j
          FROM sel WHERE NOT corrupt)
),
by_ AS (
    SELECT doc_id, entry_idx, (doc_id * 11 + j * 5 + i * 3) % 256 AS v
    FROM (SELECT doc_id, entry_idx, j, nb, unnest(range(0, nb)) AS i
          FROM ent)
),
sums AS (
    SELECT doc_id, entry_idx, CAST(SUM(v) AS BIGINT) AS byte_sum
    FROM by_ GROUP BY 1, 2
)
SELECT ent.doc_id, ent.entry_idx,
       'f' || ent.j || '.txt' AS name,
       CAST(CASE WHEN ent.j = 0 THEN 0 ELSE 8 END AS INTEGER) AS method,
       ent.nb AS n_bytes, sums.byte_sum,
       ent.j <> 2 AS crc_ok,
       TRUE AS decoded
FROM ent JOIN sums USING (doc_id, entry_idx)
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, FALSE
FROM sel WHERE corrupt
""",
)
def _mm_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 53 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(1) + F.col("doc_id") % 5).cast("int").alias("_ne"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import zip_encode

        for pdf in batches:
            payloads = [
                zip_encode(int(doc), int(ne))[: 40 if corrupt else None]
                for doc, ne, corrupt in zip(
                    pdf["doc_id"], pdf["_ne"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_zip_entries(payload)


# ---------------------------------------------------------------------------
# WARC record walk (functions/web.py::warc_record_stats): genuine ISO
# 28500 archives — version line, CRLF headers through a blank line,
# Content-Length payload, CRLF CRLF terminator — the Common Crawl
# container an LLM pipeline ingests first.  One row per record; the
# position-weighted payload sum pins record ATTRIBUTION (a walk that
# hands record k's bytes to record k+1 hash-mismatches); metadata
# records carry no WARC-Target-URI.  The oracle replays every header
# and byte from the fixture formulas.  Every third doc truncated
# mid-headers to pin the archive-quarantine row.
# ---------------------------------------------------------------------------
@query(
    "web_warc_records",
    """
WITH sel AS (
    SELECT doc_id, CAST(2 + doc_id % 5 AS INTEGER) AS ne,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 47 = 0
),
rec AS (
    SELECT doc_id, CAST(j AS INTEGER) AS rec_idx, doc_id + j AS k, j,
           CAST(16 + (doc_id + j) % 23 AS BIGINT) AS clen
    FROM (SELECT doc_id, ne, unnest(range(0, ne)) AS j
          FROM sel WHERE NOT corrupt)
),
by_ AS (
    SELECT doc_id, rec_idx, i,
           (doc_id * 7 + j * 3 + i * 5) % 256 AS v
    FROM (SELECT doc_id, rec_idx, j, clen, unnest(range(0, clen)) AS i
          FROM rec)
),
sums AS (
    SELECT doc_id, rec_idx,
           CAST(SUM(v) AS BIGINT) AS payload_sum,
           CAST(SUM((i + 1) * v) AS BIGINT) AS payload_weighted
    FROM by_ GROUP BY 1, 2
)
SELECT rec.doc_id, rec.rec_idx,
       CASE rec.j % 3 WHEN 0 THEN 'response' WHEN 1 THEN 'request'
            ELSE 'metadata' END AS warc_type,
       CASE WHEN rec.j % 3 = 2 THEN NULL
            ELSE 'http://h' || rec.k || '.test/p' END AS target_uri,
       rec.clen AS content_length,
       sums.payload_sum, sums.payload_weighted,
       TRUE AS decoded
FROM rec JOIN sums USING (doc_id, rec_idx)
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, FALSE
FROM sel WHERE corrupt
""",
)
def _web_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..functions.web import warc_record_stats

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 47 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(2) + F.col("doc_id") % 5).cast("int").alias("_ne"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.web import warc_encode

        for pdf in batches:
            payloads = [
                warc_encode(int(doc), int(ne))[: 35 if corrupt else None]
                for doc, ne, corrupt in zip(
                    pdf["doc_id"], pdf["_ne"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return warc_record_stats(payload)


# ---------------------------------------------------------------------------
# ICO container decode (multimodal.decode_ico_stats): genuine favicon
# containers — an ICONDIR directory (reserved/type/count + 16-byte
# entries with size/offset) over embedded FULL PNG streams, every
# second entry of even docs Adam7-INTERLACED — decoded entry-by-entry
# with the shared PNG kernel; one output row per entry.  The oracle
# recomputes each entry's channel sums from the PNG fixture formula
# (entry j carries doc key doc_id + j) — a directory walk off by one,
# an offset/size mismatch, or entry attribution to the wrong icon_idx
# hash-mismatches.  Every third doc truncated inside the directory to
# pin the container-quarantine row (icon_idx NULL).
# ---------------------------------------------------------------------------
@query(
    "mm_decode_ico",
    """
WITH sel AS (
    SELECT doc_id, CAST(1 + doc_id % 4 AS INTEGER) AS ne,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 43 = 0
),
ent AS (
    SELECT doc_id, CAST(j AS INTEGER) AS icon_idx, doc_id + j AS k,
           CAST(4 + (doc_id + j) % 5 AS INTEGER) AS w,
           CAST(3 + (doc_id + j) % 4 AS INTEGER) AS h
    FROM (SELECT doc_id, ne, unnest(range(0, ne)) AS j
          FROM sel WHERE NOT corrupt)
),
px AS (
    SELECT doc_id, icon_idx, k, w, h, unnest(range(0, w * h)) AS p
    FROM ent
),
sums AS (
    SELECT doc_id, icon_idx,
           CAST(SUM((k * 31 + p * 3    ) % 256) AS BIGINT) AS ch0_sum,
           CAST(SUM((k * 31 + p * 3 + 1) % 256) AS BIGINT) AS ch1_sum,
           CAST(SUM((k * 31 + p * 3 + 2) % 256) AS BIGINT) AS ch2_sum
    FROM px GROUP BY 1, 2
)
SELECT ent.doc_id, ent.icon_idx, ent.w AS width, ent.h AS height,
       CAST(3 AS INTEGER) AS channels,
       sums.ch0_sum, sums.ch1_sum, sums.ch2_sum,
       TRUE AS decoded
FROM ent JOIN sums USING (doc_id, icon_idx)
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL, FALSE
FROM sel WHERE corrupt
""",
)
def _mm_ico(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 43 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(1) + F.col("doc_id") % 4).cast("int").alias("_ne"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import ico_encode_png_entries

        for pdf in batches:
            payloads = [
                ico_encode_png_entries(int(doc), int(ne))[
                    : 20 if corrupt else None
                ]
                for doc, ne, corrupt in zip(
                    pdf["doc_id"], pdf["_ne"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_ico_stats(payload)


# ---------------------------------------------------------------------------
# G.711 companded WAV decode (multimodal.decode_wav_g711_stats): genuine
# RIFF streams whose data bytes are mu-law (fmt 7, even docs) or A-law
# (fmt 6, odd docs) companded — the telephony codecs of voice corpora —
# plus the spec-required `fact` chunk and the odd-sized junk chunk.
# The engine expands the ACTUAL BYTES through the ITU-T G.711 integer
# formulas (256-entry tables, one numpy gather); the oracle recomputes
# the exact PCM16 sums from the byte formula and the SAME closed-form
# expansion in SQL — a wrong bias, a missed sign toggle (A-law's 0x80
# means POSITIVE, inverting mu-law), or a segment shift off by one
# hash-mismatches.  Every third doc truncated to pin the quarantine row.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_wav_g711",
    """
WITH sel AS (
    SELECT doc_id, CAST(150 + doc_id % 201 AS BIGINT) AS n,
           doc_id % 2 = 0 AS is_ulaw,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 31 = 0
),
bytes_ AS (
    SELECT doc_id, is_ulaw, i, (doc_id * 13 + i * 7) % 256 AS v
    FROM (SELECT doc_id, is_ulaw, n, unnest(range(0, n)) AS i
          FROM sel WHERE NOT corrupt)
),
expanded AS (
    SELECT doc_id, i,
        CASE WHEN is_ulaw THEN
            CASE WHEN (255 - v) >= 128
                 THEN 132 - (((255 - v) % 16) * 8 + 132)
                          * (1 << (((255 - v) // 16) % 8))
                 ELSE (((255 - v) % 16) * 8 + 132)
                          * (1 << (((255 - v) // 16) % 8)) - 132
            END
        ELSE
            CASE WHEN xor(v, 85) >= 128 THEN 1 ELSE -1 END *
            CASE WHEN (xor(v, 85) % 128) // 16 = 0
                 THEN (xor(v, 85) % 16) * 16 + 8
                 ELSE ((xor(v, 85) % 16) * 16 + 264)
                      * (1 << ((xor(v, 85) % 128) // 16 - 1))
            END
        END AS s
    FROM bytes_
),
sums AS (
    SELECT doc_id,
           CAST(SUM(s) AS BIGINT) AS sample_sum,
           CAST(SUM((i + 1) * s) AS BIGINT) AS sample_weighted,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
           CAST(SUM(s * s) AS BIGINT) AS energy
    FROM expanded GROUP BY 1
)
SELECT sel.doc_id,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE 8000 END AS INTEGER)
           AS sample_rate,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE 1 END AS INTEGER)
           AS n_channels,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.n END AS n_samples,
       CASE WHEN sel.corrupt THEN NULL
            WHEN sel.is_ulaw THEN 'ulaw' ELSE 'alaw' END AS codec,
       sums.sample_sum, sums.sample_weighted, sums.peak_abs, sums.energy,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_wav_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 31 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(150) + F.col("doc_id") % 201).cast("int").alias("_n"),
        (F.col("doc_id") % 2 == 0).alias("_ulaw"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import wav_encode_g711

        for pdf in batches:
            payloads = [
                wav_encode_g711(
                    int(doc), int(n), "ulaw" if ulaw else "alaw"
                )[: 25 if corrupt else None]
                for doc, n, ulaw, corrupt in zip(
                    pdf["doc_id"], pdf["_n"], pdf["_ulaw"],
                    pdf["_corrupt"],
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_wav_g711_stats(payload)


# ---------------------------------------------------------------------------
# REAL BMP decode (multimodal.decode_bmp_pixel_stats): genuine 24bpp
# BI_RGB files stored BOTTOM-UP with 4-byte row padding and BGR byte
# order — the three classic BMP bugs — whose top-down raster pixels
# follow the PNG fixture's formula family; the position-weighted sum
# pins the row FLIP, so decoding bottom-up rows without reversing
# hash-mismatches.  Every third doc ships truncated bytes.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_bmp_pixels",
    """
WITH sel AS (
    SELECT doc_id,
           CAST(5 + doc_id % 6 AS INTEGER) AS w,
           CAST(3 + doc_id % 5 AS INTEGER) AS h,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 23 = 0
),
px AS (
    SELECT doc_id, unnest(range(0, w * h)) AS p
    FROM sel WHERE NOT corrupt
),
sums AS (
    SELECT doc_id,
           CAST(SUM((doc_id * 31 + p * 3    ) % 256) AS BIGINT) AS r_sum,
           CAST(SUM((doc_id * 31 + p * 3 + 1) % 256) AS BIGINT) AS g_sum,
           CAST(SUM((doc_id * 31 + p * 3 + 2) % 256) AS BIGINT) AS b_sum,
           CAST(SUM((p + 1) * (((doc_id * 31 + p * 3) % 256)
                 + ((doc_id * 31 + p * 3 + 1) % 256)
                 + ((doc_id * 31 + p * 3 + 2) % 256))) AS BIGINT)
               AS rgb_weighted
    FROM px GROUP BY 1
)
SELECT sel.doc_id,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.w END AS width,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.h END AS height,
       sums.r_sum, sums.g_sum, sums.b_sum, sums.rgb_weighted,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_bmp_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 23 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(5) + F.col("doc_id") % 6).cast("int").alias("_w"),
        (F.lit(3) + F.col("doc_id") % 5).cast("int").alias("_h"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import bmp_encode_rgb

        for pdf in batches:
            payloads = [
                bmp_encode_rgb(int(doc), int(w), int(h))[
                    : 40 if corrupt else None
                ]
                for doc, w, h, corrupt in zip(
                    pdf["doc_id"], pdf["_w"], pdf["_h"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_bmp_pixel_stats(payload)


# ---------------------------------------------------------------------------
# REAL GIF/LZW decode (multimodal.decode_gif_pixel_stats): genuine
# GIF89a files — global color table, a comment extension the walker
# must skip, sub-block reassembly, and an LZW stream produced by a REAL
# compressor (dictionary growth through code-size bumps; repeats in the
# formula index stream guarantee non-literal codes).  The oracle
# recomputes palette-channel sums + the stream-pinning weighted index
# sum from the formulas; a hand-crafted stream (incl. the KwKwK case)
# pins the decoder independently in pytest.  Every third doc truncated.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_gif_pixels",
    """
WITH sel AS (
    SELECT doc_id,
           CAST(6 + doc_id % 7 AS INTEGER) AS w,
           CAST(4 + doc_id % 5 AS INTEGER) AS h,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 29 = 0
),
idx AS (
    SELECT doc_id, p, (doc_id * 11 + p * 13) % 64 AS i
    FROM (SELECT doc_id, unnest(range(0, w * h)) AS p
          FROM sel WHERE NOT corrupt)
),
sums AS (
    SELECT doc_id,
           CAST(SUM((doc_id * 7 + i * 11) % 256) AS BIGINT) AS r_sum,
           CAST(SUM((i * 3) % 256) AS BIGINT) AS g_sum,
           CAST(SUM((i * 5 + 1) % 256) AS BIGINT) AS b_sum,
           CAST(SUM((p + 1) * i) AS BIGINT) AS idx_weighted
    FROM idx GROUP BY 1
)
SELECT sel.doc_id,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.w END AS width,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.h END AS height,
       sums.r_sum, sums.g_sum, sums.b_sum, sums.idx_weighted,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_gif_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 29 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(6) + F.col("doc_id") % 7).cast("int").alias("_w"),
        (F.lit(4) + F.col("doc_id") % 5).cast("int").alias("_h"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import gif_encode_indexed

        for pdf in batches:
            payloads = [
                gif_encode_indexed(int(doc), int(w), int(h))[
                    : 20 if corrupt else None
                ]
                for doc, w, h, corrupt in zip(
                    pdf["doc_id"], pdf["_w"], pdf["_h"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_gif_pixel_stats(payload)


# ---------------------------------------------------------------------------
# PROGRESSIVE JPEG, DC path (multimodal.decode_jpeg_progressive_dc_stats):
# genuine SOF2 files whose DC coefficients arrive as a first scan (DPCM
# of DC >> Al) plus Al successive-approximation refinement scans (one
# raw magnitude bit per block per scan, separate entropy segments with
# real byte stuffing).  The engine walks the multi-scan chain, verifies
# the Ah/Al succession, reassembles the exact DC values, and emits the
# dequantized block-mean stats + the scan count; the oracle recomputes
# everything from the closed form — a wrong shift, a refinement bit
# applied at the wrong level, or a scan-boundary mis-walk
# hash-mismatches.  Every third doc truncated (incomplete approximation
# also quarantines — pinned in pytest).  Shrinks the former
# "progressive JPEG quarantines entirely" gap to the AC path.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_jpeg_prog_dc",
    """
WITH sel AS (
    SELECT doc_id,
           CAST(2 + doc_id % 3 AS INTEGER) AS bw,
           CAST(1 + doc_id % 2 AS INTEGER) AS bh,
           CAST(1 + doc_id % 2 AS INTEGER) AS al,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 41 = 0
),
blk AS (
    SELECT doc_id, unnest(range(0, bw * bh)) AS i
    FROM sel WHERE NOT corrupt
),
dc AS (
    SELECT doc_id, i, ((doc_id * 19 + i * 23) % 256) - 128 AS d
    FROM blk
),
sums AS (
    SELECT doc_id,
           CAST(SUM(d) AS BIGINT) AS dc_sum,
           CAST(SUM((i + 1) * d) AS BIGINT) AS dc_weighted
    FROM dc GROUP BY 1
)
SELECT sel.doc_id,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE sel.bw * 8 END
            AS INTEGER) AS width,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE sel.bh * 8 END
            AS INTEGER) AS height,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.bw END AS blocks_w,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.bh END AS blocks_h,
       CASE WHEN sel.corrupt THEN NULL ELSE 1 + sel.al END AS n_scans,
       sums.dc_sum, sums.dc_weighted,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_jpeg_prog_dc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 41 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(2) + F.col("doc_id") % 3).cast("int").alias("_bw"),
        (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("_bh"),
        (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("_al"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import jpeg_encode_progressive_dc

        for pdf in batches:
            payloads = [
                jpeg_encode_progressive_dc(
                    int(doc), int(bw), int(bh), int(al)
                )[: 40 if corrupt else None]
                for doc, bw, bh, al, corrupt in zip(
                    pdf["doc_id"], pdf["_bw"], pdf["_bh"], pdf["_al"],
                    pdf["_corrupt"],
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_jpeg_progressive_dc_stats(payload)


# ---------------------------------------------------------------------------
# PROGRESSIVE JPEG, FULL pixel path (multimodal.
# decode_jpeg_progressive_pixel_stats): genuine 14-scan SOF2 YCbCr
# files — interleaved DC first scan at Al=1 + DC refinement, then per
# component spectral-selection AC first scans (bands 1-20 and 21-63,
# EOBRUN run-length across blocks: every block where (doc_id+i)%5 < 2
# carries NO AC, forcing real multi-block EOB runs) and
# successive-approximation AC refinement scans (newly-significant
# coefficients, correction bits, correction bits riding EOB runs) —
# T.81 G.1.2.2/G.1.2.3 end to end.  The engine reassembles the full
# coefficient planes across all 14 scans and closes with the SAME
# dequant/IDCT/fixed-point-RGB arithmetic as the baseline gate; the
# oracle recomputes every channel sum from the closed-form sample
# formula (the baseline vals CTE with the AC terms gated by the
# EOB-gap predicate) — a wrong EOBRUN count, a correction bit applied
# at the wrong position, or a band boundary off by one hash-mismatches.
# Every third doc truncated to pin the quarantine row.  Closes the
# remaining half of the "progressive JPEG quarantines entirely" gap
# (r10 verdict ask #3); the DC-only gate above stays as the
# partial-decode contract.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_jpeg_prog_pixels",
    f"""
WITH sel AS (
    SELECT doc_id,
           CAST(1 + doc_id % 3 AS INTEGER) AS bw,
           CAST(1 + doc_id % 2 AS INTEGER) AS bh,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 23 = 0
),
blk AS (
    SELECT doc_id, bw, bh, unnest(range(0, bw * bh)) AS i
    FROM sel WHERE NOT corrupt
),
px AS (
    SELECT doc_id, bw, i, unnest(range(0, 64)) AS p,
           CASE WHEN (doc_id + i) % 5 >= 2 THEN 1 ELSE 0 END AS act
    FROM blk
),
geo AS (
    SELECT doc_id, bw, i, act, p % 8 AS x, p // 8 AS y,
           CASE WHEN (p % 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sx,
           CASE WHEN (p // 8) IN (0, 3, 4, 7) THEN 1 ELSE -1 END AS sy
    FROM px
),
vals AS (
    SELECT doc_id, bw, i, x, y,
        128 + ((doc_id * 7 + i * 5) % 160) - 80
            + act * (sy * (((doc_id + i * 3) % 31) - 15)
                     + sx * (((doc_id * 3 + i) % 31) - 15)
                     + sx * sy * (((doc_id + i) % 25) - 12)) AS yv,
        128 + ((doc_id * 7 + i * 5 + 11) % 160) - 80
            + act * (sy * (((doc_id + i * 3 + 1) % 31) - 15)
                     + sx * (((doc_id * 3 + i + 5) % 31) - 15)
                     + sx * sy * (((doc_id + i + 1) % 25) - 12)) AS cb,
        128 + ((doc_id * 7 + i * 5 + 22) % 160) - 80
            + act * (sy * (((doc_id + i * 3 + 2) % 31) - 15)
                     + sx * (((doc_id * 3 + i + 10) % 31) - 15)
                     + sx * sy * (((doc_id + i + 2) % 25) - 12)) AS cr
    FROM geo
),
rgb AS (
    SELECT doc_id, yv, cb, cr,
        ((i // bw) * 8 + y) * (bw * 8) + (i % bw) * 8 + x + 1 AS pos,
        {_JPEG_RGB_SQL}
    FROM vals
),
sums AS (
    SELECT doc_id,
           CAST(SUM(yv) AS BIGINT) AS y_sum,
           CAST(SUM(cb) AS BIGINT) AS cb_sum,
           CAST(SUM(cr) AS BIGINT) AS cr_sum,
           CAST(SUM(pos * yv) AS BIGINT) AS y_weighted,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum
    FROM rgb GROUP BY 1
)
SELECT sel.doc_id,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE sel.bw * 8 END
            AS INTEGER) AS width,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE sel.bh * 8 END
            AS INTEGER) AS height,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE 14 END
            AS INTEGER) AS n_scans,
       sums.y_sum, sums.cb_sum, sums.cr_sum, sums.y_weighted,
       sums.r_sum, sums.g_sum, sums.b_sum,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_jpeg_prog_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 23 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(1) + F.col("doc_id") % 3).cast("int").alias("_bw"),
        (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("_bh"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import jpeg_encode_progressive_pixels

        for pdf in batches:
            payloads = [
                jpeg_encode_progressive_pixels(int(doc), int(bw), int(bh))[
                    : 60 if corrupt else None
                ]
                for doc, bw, bh, corrupt in zip(
                    pdf["doc_id"], pdf["_bw"], pdf["_bh"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_jpeg_progressive_pixel_stats(payload)


# ---------------------------------------------------------------------------
# MULTI-FRAME GIF frame sampling (multimodal.sample_gif_frames): genuine
# ANIMATED GIF89a files — NETSCAPE looping extension (multi-sub-block
# skip), per-frame Graphic Control Extensions carrying formula delays,
# and 2..5 full-canvas frames each with its own real LZW stream.  The
# engine samples every SECOND frame (stride 2): sampled frames are
# LZW-decoded to exact channel sums + the weighted index sum + the GCE
# delay; skipped frames are walked structurally WITHOUT decoding (the
# scale point of frame sampling).  The oracle recomputes every sampled
# frame's sums and delay from the formulas — wrong frame ordering, a
# delay attached to the wrong frame, or decoding drift between frames
# hash-mismatches.  Every third doc truncated to pin the quarantine
# row.  Replaces the byte-marker sample_frames stand-in for the one
# animated container stdlib can open (true video stays stubbed).
# ---------------------------------------------------------------------------
@query(
    "mm_sample_gif_frames",
    """
WITH sel AS (
    SELECT doc_id,
           CAST(4 + doc_id % 5 AS INTEGER) AS w,
           CAST(3 + doc_id % 4 AS INTEGER) AS h,
           CAST(2 + doc_id % 4 AS INTEGER) AS nf,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 37 = 0
),
fr AS (
    SELECT doc_id, w, h, unnest(range(0, nf)) AS f
    FROM sel WHERE NOT corrupt
),
sf AS (SELECT * FROM fr WHERE f % 2 = 0),
idx AS (
    SELECT doc_id, f, p, (doc_id * 11 + f * 17 + p * 13) % 64 AS i
    FROM (SELECT doc_id, f, unnest(range(0, w * h)) AS p FROM sf)
),
sums AS (
    SELECT doc_id, f,
           CAST(SUM((doc_id * 7 + i * 11) % 256) AS BIGINT) AS r_sum,
           CAST(SUM((i * 3) % 256) AS BIGINT) AS g_sum,
           CAST(SUM((i * 5 + 1) % 256) AS BIGINT) AS b_sum,
           CAST(SUM((p + 1) * i) AS BIGINT) AS idx_weighted
    FROM idx GROUP BY 1, 2
)
SELECT sel.doc_id,
       CAST(s.f AS INTEGER) AS frame_no,
       CAST(CASE WHEN sel.corrupt THEN NULL
            ELSE 4 + (sel.doc_id + s.f) % 7 END AS INTEGER) AS delay_cs,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.w END AS width,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.h END AS height,
       s.r_sum, s.g_sum, s.b_sum, s.idx_weighted,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums s ON sel.doc_id = s.doc_id
""",
)
def _mm_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 37 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(4) + F.col("doc_id") % 5).cast("int").alias("_w"),
        (F.lit(3) + F.col("doc_id") % 4).cast("int").alias("_h"),
        (F.lit(2) + F.col("doc_id") % 4).cast("int").alias("_nf"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import gif_encode_animated

        for pdf in batches:
            payloads = [
                gif_encode_animated(int(doc), int(w), int(h), int(nf))[
                    : 30 if corrupt else None
                ]
                for doc, w, h, nf, corrupt in zip(
                    pdf["doc_id"], pdf["_w"], pdf["_h"], pdf["_nf"],
                    pdf["_corrupt"],
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.sample_gif_frames(payload, stride=2)


# ---------------------------------------------------------------------------
# REAL byte-pair encoding (functions/chunking.py::bpe_merge_table /
# bpe_encode_pieces).  Two gates: the round-1 merge-table BUILD is fully
# SQL-expressible (exact pair counts, total-order rank) and oracle-gated
# directly; the greedy APPLY (GPT-2 convention — lowest-rank adjacent
# pair merges all its occurrences until none applies) is inherently
# iterative, so its oracle layers (a) NATIVE SQL recomputation of the
# word/character mass — a splitting bug that loses or duplicates bytes
# fails without any artifact — and (b) the published-artifact pattern:
# a driver-local plain-Python reference sweep (re-deriving the merge
# table from scratch and re-applying it) whose per-doc piece counts +
# boundary-pinning weighted sums the oracle joins.  Hand-computed piece
# sequences are pytest-pinned so the shared apply function cannot hide
# a semantics bug from the gate.
# ---------------------------------------------------------------------------
_BPE_K = 64
_BPE_WORDS_SQL = """
    SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)),
                                            '[ \\t\\n\\r\\f\\v]+')) AS w
        FROM documents
    ) WHERE regexp_matches(w, '^[!-~]+$')
"""
# ^ explicit ASCII class, NOT RE2 \s: RE2's \s is [\t\n\f\r ] and
# EXCLUDES vertical tab (U+000B), while Java's \s (the engine-side
# tokens() split feeding bpe_merge_table) and the apply kernel's class
# both include it — a document containing \x0B must split identically
# on all three sides (ADVICE r10).


@query(
    "text_bpe_merges",
    f"""
WITH words AS ({_BPE_WORDS_SQL}),
pairs AS (
    SELECT substr(w, i, 2) AS pair
    FROM (SELECT w, unnest(range(1, length(w))) AS i
          FROM words WHERE length(w) >= 2)
),
counted AS (
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY 1
),
ranked AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair ASC) - 1
                AS INTEGER) AS rank, pair, n
    FROM counted
)
SELECT rank, pair, substr(pair, 1, 1) AS left_sym,
       substr(pair, 2, 1) AS right_sym, n
FROM ranked WHERE rank < {_BPE_K}
""",
)
def _text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.chunking import bpe_merge_table

    return bpe_merge_table(
        load_table(spark, sf_dir, "documents", spread=True), k=_BPE_K
    )


_BPE_REF_PATH = f"/tmp/nl_spark_bpe_ref_{_os.getpid()}.parquet"


def _publish_bpe_reference(sf_dir: str) -> bool:
    """Driver-local reference sweep: re-derives the merge table from the
    raw parquet in plain Python (no Spark) and re-applies it per doc."""
    import re
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..functions.chunking import bpe_word_pieces

    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    ids = tbl.column("doc_id").to_pylist()
    texts = tbl.column("text").to_pylist()
    word_re = re.compile(r"^[!-~]+$")
    docs_words: list[list[str]] = []
    pair_counts: Counter = Counter()
    for t in texts:
        ws = []
        if t is not None:
            # ASCII whitespace only — must agree with the Arrow kernel
            # (bpe_encode_pieces), Spark's tokens() (Java \s, ASCII),
            # and the oracle's RE2 \s; Python's \s/strip() are
            # Unicode-aware and would diverge on e.g. U+00A0.
            for w in re.split(r"[ \t\n\r\f\v]+", t.strip(" \t\n\r\f\v").lower()):
                if w and word_re.match(w):
                    ws.append(w)
                    if len(w) >= 2:
                        for i in range(len(w) - 1):
                            pair_counts[w[i : i + 2]] += 1
        docs_words.append(ws)
    top = sorted(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
    ranks = {p: r for r, (p, _) in enumerate(top[:_BPE_K])}
    np_col, wt_col = [], []
    memo: dict[str, list[str]] = {}
    for ws in docs_words:
        np_ = wt = pos = 0
        for w in ws:
            pieces = memo.get(w)
            if pieces is None:
                pieces = bpe_word_pieces(w, ranks)
                memo[w] = pieces
            for piece in pieces:
                pos += 1
                np_ += 1
                wt += pos * len(piece)
        np_col.append(np_)
        wt_col.append(wt)
    # Multi-SF spine, same contract as the zlib lookup: rows carry the
    # publishing corpus's content fingerprint (total UTF-8 byte mass —
    # doc COUNT is not unique across SFs) and the oracle selects its own
    # SF's rows by matching it against its documents view.
    corpus_bytes = sum(
        len(t.encode("utf-8")) for t in texts if t is not None
    )
    out = pa.table(
        {
            "doc_id": ids,
            "n_pieces_ref": pa.array(np_col, pa.int64()),
            "piece_weighted_ref": pa.array(wt_col, pa.int64()),
            "corpus_bytes": pa.array([corpus_bytes] * len(ids), pa.int64()),
        }
    )
    if _os.path.exists(_BPE_REF_PATH):
        import pyarrow.compute as pc

        prev = pq.read_table(_BPE_REF_PATH)
        prev = prev.filter(
            pc.not_equal(prev.column("corpus_bytes"), corpus_bytes)
        )
        out = pa.concat_tables([prev, out])
    tmp = _BPE_REF_PATH + ".tmp"
    pq.write_table(out, tmp)
    _os.replace(tmp, _BPE_REF_PATH)
    return True


@query(
    "text_bpe_encode",
    f"""
WITH w AS ({_BPE_WORDS_SQL}),
nd AS (
    SELECT CAST(COALESCE(SUM(octet_length(encode(text))), 0) AS BIGINT)
        AS cb
    FROM documents
),
agg AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(length(w)) AS BIGINT) AS n_chars
    FROM w GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(agg.n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(agg.n_chars, 0) AS BIGINT) AS n_chars,
       CAST(r.n_pieces_ref AS BIGINT) AS n_pieces,
       CAST(r.piece_weighted_ref AS BIGINT) AS piece_weighted
FROM documents d
CROSS JOIN nd
LEFT JOIN agg ON d.doc_id = agg.doc_id
LEFT JOIN read_parquet('{_BPE_REF_PATH}') r
       ON d.doc_id = r.doc_id AND r.corpus_bytes = nd.cb
""",
)
def _text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.chunking import bpe_encode_pieces, bpe_merge_table

    _artifact(
        spark, sf_dir, "bpe_reference",
        lambda: _publish_bpe_reference(sf_dir),
    )
    docs = load_table(spark, sf_dir, "documents", spread=True)
    merges = _artifact(
        spark, sf_dir, "bpe_merges",
        # bounded collect by construction: the merge table is k=64 rows
        lambda: {
            r["pair"]: r["rank"]
            for r in bpe_merge_table(docs, k=_BPE_K).collect()
        },
    )
    return bpe_encode_pieces(docs, merges)


# ---------------------------------------------------------------------------
# Unicode NFC audit (functions/text.py::unicode_nfc_stats): deterministic
# combining sequences (e+U+0301, a+U+0300, repeated 1 + doc_id % 5
# times) are appended to each doc, the engine normalizes with CPython's
# unicodedata, and the oracle re-normalizes with DuckDB's utf8proc
# nfc_normalize — TWO INDEPENDENT implementations of UAX #15, not
# mirrored arithmetic; a normalization bug in either hash-mismatches.
# ---------------------------------------------------------------------------
_NFC_UNIT_SQL = "('e' || chr(769) || 'a' || chr(768))"


@query(
    "text_unicode_nfc",
    f"""
WITH fixed AS (
    SELECT doc_id,
           text || repeat({_NFC_UNIT_SQL},
                          CAST(1 + doc_id % 5 AS INTEGER)) AS t
    FROM documents
)
SELECT doc_id,
       CASE WHEN t IS NOT NULL
            THEN CAST(length(t) AS BIGINT) END AS n_cp_raw,
       CASE WHEN t IS NOT NULL
            THEN CAST(length(nfc_normalize(t)) AS BIGINT) END AS n_cp_nfc,
       CASE WHEN t IS NOT NULL
            THEN CAST(strlen(t) AS BIGINT) END AS n_bytes_raw,
       CASE WHEN t IS NOT NULL
            THEN CAST(strlen(nfc_normalize(t)) AS BIGINT) END
           AS n_bytes_nfc,
       CASE WHEN t IS NOT NULL
            THEN nfc_normalize(t) <> t END AS changed
FROM fixed
""",
)
def _text_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import unicode_nfc_stats

    d = load_table(spark, sf_dir, "documents", spread=True)
    unit = "e\u0301a\u0300"  # DECOMPOSED combining sequences
    fixed = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.repeat(F.lit(unit), (F.lit(1) + F.col("doc_id") % 5).cast("int")),
        ).alias("text"),
    )
    return unicode_nfc_stats(fixed)


# ---------------------------------------------------------------------------
# IMA ADPCM WAV decode (multimodal.decode_wav_adpcm_stats): genuine
# RIFF streams whose data is the 4-bit IMA/DVI codec (fmt tag 0x11) —
# the classic voice/game compression — with multi-block payloads, the
# fmt extension's samples-per-block bounding the pad nibble, and the
# fact/junk chunks.  The engine walks the bytes through the published
# step-size state machine; the oracle replays the SAME recursion in a
# recursive CTE carrying (predictor, step index) per block with the
# 89-entry step table as a list literal — a wrong clamp, a swapped
# nibble order, or an off-by-one index update hash-mismatches.  Every
# third doc ships truncated bytes to pin the quarantine row.
# ---------------------------------------------------------------------------
_IMA_STEPS_SQL = (
    "[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,"
    "66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,"
    "371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,"
    "1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,"
    "5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,"
    "16818,18500,20350,22385,24623,27086,29794,32767]"
)


@query(
    "mm_decode_wav_adpcm",
    f"""
WITH RECURSIVE sel AS (
    SELECT doc_id,
           CAST(129 + doc_id % 64 AS BIGINT) AS spb,
           CAST(1 + doc_id % 2 AS BIGINT) AS nblk,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 29 = 0
),
blocks AS (
    SELECT doc_id, spb, b AS blk,
           CAST(((doc_id * 97 + b * 501) % 4096) - 2048 AS BIGINT) AS pred0,
           CAST((doc_id + b * 17) % 89 AS BIGINT) AS idx0
    FROM (SELECT doc_id, spb, unnest(range(0, nblk)) AS b
          FROM sel WHERE NOT corrupt)
),
dec AS (
    SELECT doc_id, blk, spb, CAST(0 AS BIGINT) AS i, pred0 AS pred,
           idx0 AS idx
    FROM blocks
    UNION ALL
    SELECT doc_id, blk, spb, i + 1,
           greatest(-32768, least(32767,
               pred + (CASE WHEN nib >= 8 THEN -1 ELSE 1 END)
                      * (step // 8
                         + CASE WHEN nib % 8 >= 4 THEN step ELSE 0 END
                         + CASE WHEN nib % 4 >= 2 THEN step // 2 ELSE 0 END
                         + CASE WHEN nib % 2 = 1 THEN step // 4 ELSE 0 END))),
           greatest(0, least(88,
               idx + list_extract([-1,-1,-1,-1,2,4,6,8],
                                  CAST(nib % 8 + 1 AS INTEGER))))
    FROM (
        SELECT doc_id, blk, spb, i, pred, idx,
               (doc_id * 7 + blk * 11 + (i + 1) * 5) % 16 AS nib,
               list_extract({_IMA_STEPS_SQL},
                            CAST(idx + 1 AS INTEGER)) AS step
        FROM dec WHERE i < spb - 1
    )
),
sums AS (
    SELECT doc_id,
           CAST(SUM(pred) AS BIGINT) AS sample_sum,
           CAST(SUM((blk * spb + i + 1) * pred) AS BIGINT)
               AS sample_weighted,
           CAST(MAX(ABS(pred)) AS BIGINT) AS peak_abs,
           CAST(SUM(pred * pred) AS BIGINT) AS energy
    FROM dec GROUP BY 1
)
SELECT sel.doc_id,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE 8000 END AS INTEGER)
           AS sample_rate,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE 1 END AS INTEGER)
           AS n_channels,
       CASE WHEN sel.corrupt THEN NULL
            ELSE CAST(sel.spb * sel.nblk AS BIGINT) END AS n_samples,
       sums.sample_sum, sums.sample_weighted, sums.peak_abs, sums.energy,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_wav_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 29 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(129) + F.col("doc_id") % 64).cast("int").alias("_spb"),
        (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("_nblk"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import wav_encode_adpcm

        for pdf in batches:
            payloads = [
                wav_encode_adpcm(int(doc), int(spb), int(nblk))[
                    : 30 if corrupt else None
                ]
                for doc, spb, nblk, corrupt in zip(
                    pdf["doc_id"], pdf["_spb"], pdf["_nblk"],
                    pdf["_corrupt"],
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_wav_adpcm_stats(payload)


# ---------------------------------------------------------------------------
# POSIX ustar TAR walk (multimodal.decode_tar_members): the third
# corpus-ingestion container next to ZIP and WARC — fixed 512-byte
# headers, octal sizes, the blanked-field checksum, block padding, and
# the two-zero-block terminator.  The oracle regenerates member names
# (printf %04d — lpad would TRUNCATE wide ids), sizes, and exact
# content sums from the fixture formulas.  Every third doc ships
# truncated mid-member to pin the quarantine row.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_tar",
    """
WITH sel AS (
    SELECT doc_id, CAST(2 + doc_id % 4 AS BIGINT) AS m,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 37 = 0
),
mem AS (
    SELECT doc_id, j, CAST(40 + (doc_id * 7 + j * 13) % 200 AS BIGINT)
               AS size
    FROM (SELECT doc_id, unnest(range(0, m)) AS j
          FROM sel WHERE NOT corrupt)
),
bytes_ AS (
    SELECT doc_id, j, size, i, (doc_id * 11 + j * 3 + i * 5) % 256 AS v
    FROM (SELECT doc_id, j, size, unnest(range(0, size)) AS i FROM mem)
),
sums AS (
    SELECT doc_id, j,
           CAST(SUM(v) AS BIGINT) AS byte_sum,
           CAST(SUM((i + 1) * v) AS BIGINT) AS weighted_sum
    FROM bytes_ GROUP BY 1, 2
)
SELECT mem.doc_id, CAST(mem.j AS INTEGER) AS member_idx,
       printf('d%04d/f%d.bin', mem.doc_id, mem.j) AS name,
       mem.size AS n_bytes,
       sums.byte_sum, sums.weighted_sum,
       TRUE AS checksum_ok, TRUE AS decoded
FROM mem JOIN sums USING (doc_id, j)
UNION ALL
SELECT doc_id, CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BOOLEAN), FALSE
FROM sel WHERE corrupt
""",
)
def _mm_tar(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 37 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(2) + F.col("doc_id") % 4).cast("int").alias("_m"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import tar_encode

        for pdf in batches:
            payloads = [
                tar_encode(int(doc), int(m))[: 600 if corrupt else None]
                for doc, m, corrupt in zip(
                    pdf["doc_id"], pdf["_m"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_tar_members(payload)


# ---------------------------------------------------------------------------
# Baseline TIFF decode (multimodal.decode_tiff_pixel_stats): genuine
# strip-based TIFFs in BOTH byte orders (II for doc_id % 4 < 2, MM
# otherwise — the MM path is the one most hand-rolled readers get
# wrong), grayscale (even docs) and RGB (odd docs), RowsPerStrip=2 so
# offset/count arrays overflow the 4-byte IFD value field.  Pixels
# follow the BMP/PNG fixture formula family; the oracle recomputes the
# channel sums and the row-order-pinning weighted sum from the same
# closed forms.  Every third doc ships truncated bytes.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_tiff",
    """
WITH sel AS (
    SELECT doc_id,
           CAST(5 + doc_id % 6 AS INTEGER) AS w,
           CAST(3 + doc_id % 5 AS INTEGER) AS h,
           doc_id % 2 = 0 AS gray,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 41 = 0
),
px AS (
    SELECT doc_id, gray, unnest(range(0, w * h)) AS p
    FROM sel WHERE NOT corrupt
),
sums AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN gray THEN (doc_id * 29 + p * 7) % 256
                         ELSE (doc_id * 31 + p * 3) % 256 END)
                AS BIGINT) AS c0_sum,
           CAST(SUM(CASE WHEN gray THEN NULL
                         ELSE (doc_id * 31 + p * 3 + 1) % 256 END)
                AS BIGINT) AS c1_sum,
           CAST(SUM(CASE WHEN gray THEN NULL
                         ELSE (doc_id * 31 + p * 3 + 2) % 256 END)
                AS BIGINT) AS c2_sum,
           CAST(SUM((p + 1) * (CASE WHEN gray
                    THEN (doc_id * 29 + p * 7) % 256
                    ELSE ((doc_id * 31 + p * 3) % 256)
                         + ((doc_id * 31 + p * 3 + 1) % 256)
                         + ((doc_id * 31 + p * 3 + 2) % 256) END))
                AS BIGINT) AS weighted
    FROM px GROUP BY doc_id, gray
)
SELECT sel.doc_id,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.w END AS width,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.h END AS height,
       CAST(CASE WHEN sel.corrupt THEN NULL
                 WHEN sel.gray THEN 1 ELSE 3 END AS INTEGER) AS channels,
       CAST(CASE WHEN sel.corrupt THEN NULL
                 ELSE (sel.h + 1) // 2 END AS INTEGER) AS n_strips,
       sums.c0_sum, sums.c1_sum, sums.c2_sum, sums.weighted,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 41 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(5) + F.col("doc_id") % 6).cast("int").alias("_w"),
        (F.lit(3) + F.col("doc_id") % 5).cast("int").alias("_h"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import tiff_encode

        for pdf in batches:
            payloads = [
                tiff_encode(int(doc), int(w), int(h))[
                    : 40 if corrupt else None
                ]
                for doc, w, h, corrupt in zip(
                    pdf["doc_id"], pdf["_w"], pdf["_h"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_tiff_pixel_stats(payload)


# ---------------------------------------------------------------------------
# JPEG EXIF metadata walk (multimodal.decode_exif_meta): APP1 'Exif'
# TIFF IFDs in both byte orders (Make ASCII, Orientation SHORT,
# XResolution RATIONAL — the three IFD value classes) plus the SOF0
# frame dimensions, read WITHOUT touching entropy-coded data — the
# cheap metadata pass an image pipeline runs before deciding which
# files to pixel-decode.  The oracle recomputes every field from the
# fixture formulas.  Every third doc ships truncated bytes.
# ---------------------------------------------------------------------------
@query(
    "mm_exif_meta",
    """
WITH sel AS (
    SELECT doc_id, doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 43 = 0
)
SELECT doc_id,
       CAST(CASE WHEN corrupt THEN NULL ELSE 8 + doc_id % 40 END
            AS INTEGER) AS sof_width,
       CAST(CASE WHEN corrupt THEN NULL ELSE 6 + doc_id % 30 END
            AS INTEGER) AS sof_height,
       CASE WHEN corrupt THEN NULL
            WHEN doc_id % 4 < 2 THEN 'II' ELSE 'MM' END AS byte_order,
       CASE WHEN corrupt THEN NULL
            ELSE 'cam' || CAST(doc_id % 10 AS VARCHAR) END AS make,
       CAST(CASE WHEN corrupt THEN NULL ELSE 1 + doc_id % 8 END
            AS INTEGER) AS orientation,
       CASE WHEN corrupt THEN NULL
            ELSE CAST(72 + doc_id % 30 AS BIGINT) END AS xres_num,
       CASE WHEN corrupt THEN NULL
            ELSE CAST(1 + doc_id % 3 AS BIGINT) END AS xres_den,
       NOT corrupt AS decoded
FROM sel
""",
)
def _mm_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 43 == 0
    )
    sel = d.select(
        "doc_id", (F.col("doc_id") % 3 == 2).alias("_corrupt")
    )

    def gen(batches):
        from ..functions.multimodal import jpeg_exif_encode

        for pdf in batches:
            payloads = [
                jpeg_exif_encode(int(doc))[: 10 if corrupt else None]
                for doc, corrupt in zip(pdf["doc_id"], pdf["_corrupt"])
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_exif_meta(payload)


# ---------------------------------------------------------------------------
# Netpbm decode (multimodal.decode_pnm_pixel_stats): all four classic
# variants — P2/P3 ASCII (whitespace tokenizing, # comments) and P5/P6
# binary (single post-maxval whitespace byte) — over the shared pixel
# formula family.  Every third doc ships truncated bytes.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_pnm",
    """
WITH sel AS (
    SELECT doc_id,
           CAST(5 + doc_id % 6 AS INTEGER) AS w,
           CAST(3 + doc_id % 5 AS INTEGER) AS h,
           doc_id % 4 IN (0, 2) AS gray,
           ['P2', 'P3', 'P5', 'P6'][CAST(doc_id % 4 + 1 AS INTEGER)]
               AS fmt,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 47 = 0
),
px AS (
    SELECT doc_id, gray, unnest(range(0, w * h)) AS p
    FROM sel WHERE NOT corrupt
),
sums AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN gray THEN (doc_id * 29 + p * 7) % 256
                         ELSE (doc_id * 31 + p * 3) % 256 END)
                AS BIGINT) AS c0_sum,
           CAST(SUM(CASE WHEN gray THEN NULL
                         ELSE (doc_id * 31 + p * 3 + 1) % 256 END)
                AS BIGINT) AS c1_sum,
           CAST(SUM(CASE WHEN gray THEN NULL
                         ELSE (doc_id * 31 + p * 3 + 2) % 256 END)
                AS BIGINT) AS c2_sum,
           CAST(SUM((p + 1) * (CASE WHEN gray
                    THEN (doc_id * 29 + p * 7) % 256
                    ELSE ((doc_id * 31 + p * 3) % 256)
                         + ((doc_id * 31 + p * 3 + 1) % 256)
                         + ((doc_id * 31 + p * 3 + 2) % 256) END))
                AS BIGINT) AS weighted
    FROM px GROUP BY doc_id, gray
)
SELECT sel.doc_id,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.fmt END AS fmt,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.w END AS width,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.h END AS height,
       CAST(CASE WHEN sel.corrupt THEN NULL
                 WHEN sel.gray THEN 1 ELSE 3 END AS INTEGER) AS channels,
       sums.c0_sum, sums.c1_sum, sums.c2_sum, sums.weighted,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_pnm(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 47 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(5) + F.col("doc_id") % 6).cast("int").alias("_w"),
        (F.lit(3) + F.col("doc_id") % 5).cast("int").alias("_h"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import pnm_encode

        for pdf in batches:
            payloads = [
                pnm_encode(int(doc), int(w), int(h))[
                    : 20 if corrupt else None
                ]
                for doc, w, h, corrupt in zip(
                    pdf["doc_id"], pdf["_w"], pdf["_h"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_pnm_pixel_stats(payload)


# ---------------------------------------------------------------------------
# QOI decode (multimodal.decode_qoi_pixel_stats): the 2021 lossless
# format (qoiformat.org, public spec) — running 64-slot index, DIFF/
# LUMA delta ops, RUN packing, 8-byte end marker — encoded by a real
# greedy spec encoder with runs injected (pixels p % 11 in (4, 5)
# repeat their predecessor).  Lossless means the oracle needs only the
# resolved pixel formulas: the effective source index is
# p - (CASE p%11 WHEN 4 THEN 1 WHEN 5 THEN 2 ELSE 0 END).  Every
# third doc ships truncated bytes.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_qoi",
    """
WITH sel AS (
    SELECT doc_id,
           CAST(5 + doc_id % 6 AS INTEGER) AS w,
           CAST(3 + doc_id % 5 AS INTEGER) AS h,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 53 = 0
),
px AS (
    SELECT doc_id, p,
           p - (CASE p % 11 WHEN 4 THEN 1 WHEN 5 THEN 2 ELSE 0 END) AS e
    FROM (SELECT doc_id, unnest(range(0, w * h)) AS p
          FROM sel WHERE NOT corrupt)
),
sums AS (
    SELECT doc_id,
           CAST(SUM((doc_id * 31 + e * 3) % 256) AS BIGINT) AS r_sum,
           CAST(SUM((doc_id * 31 + e * 3 + 1) % 256) AS BIGINT) AS g_sum,
           CAST(SUM((doc_id * 31 + e * 3 + 2) % 256) AS BIGINT) AS b_sum,
           CAST(SUM((p + 1) * (((doc_id * 31 + e * 3) % 256)
                 + ((doc_id * 31 + e * 3 + 1) % 256)
                 + ((doc_id * 31 + e * 3 + 2) % 256))) AS BIGINT)
               AS weighted
    FROM px GROUP BY 1
)
SELECT sel.doc_id,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.w END AS width,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.h END AS height,
       CAST(CASE WHEN sel.corrupt THEN NULL ELSE 3 END AS INTEGER)
           AS channels,
       sums.r_sum, sums.g_sum, sums.b_sum, sums.weighted,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_qoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 53 == 0
    )
    sel = d.select(
        "doc_id",
        (F.lit(5) + F.col("doc_id") % 6).cast("int").alias("_w"),
        (F.lit(3) + F.col("doc_id") % 5).cast("int").alias("_h"),
        (F.col("doc_id") % 3 == 2).alias("_corrupt"),
    )

    def gen(batches):
        from ..functions.multimodal import qoi_encode

        for pdf in batches:
            payloads = [
                qoi_encode(int(doc), int(w), int(h))[
                    : 16 if corrupt else None
                ]
                for doc, w, h, corrupt in zip(
                    pdf["doc_id"], pdf["_w"], pdf["_h"], pdf["_corrupt"]
                )
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_qoi_pixel_stats(payload)


# ---------------------------------------------------------------------------
# MP4 container walk (multimodal.decode_mp4_meta): ISO BMFF box grammar
# — nested moov/trak descent, the 64-bit largesize convention (every
# third doc's mdat), version-branched mvhd — the duration/track/size
# pass a video corpus runs BEFORE any codec work; codec-level frame
# decode remains the declared stub (no codec libs here).  The oracle
# recomputes every field from the fixture formulas.  Every third doc
# (offset 2) ships truncated bytes.
# ---------------------------------------------------------------------------
@query(
    "mm_decode_mp4_meta",
    """
WITH sel AS (
    SELECT doc_id, CAST(100 + doc_id % 50 AS BIGINT) AS n,
           doc_id % 3 = 2 AS corrupt
    FROM documents WHERE doc_id % 59 = 0
),
bytes_ AS (
    SELECT doc_id, i, (doc_id * 13 + i * 7) % 256 AS v
    FROM (SELECT doc_id, unnest(range(0, n)) AS i
          FROM sel WHERE NOT corrupt)
),
sums AS (
    SELECT doc_id, CAST(SUM(v) AS BIGINT) AS mdat_sum
    FROM bytes_ GROUP BY 1
)
SELECT sel.doc_id,
       CASE WHEN sel.corrupt THEN NULL ELSE 'isom' END AS brand,
       CASE WHEN sel.corrupt THEN NULL
            ELSE CAST(1000 AS BIGINT) END AS timescale,
       CASE WHEN sel.corrupt THEN NULL
            ELSE CAST(5000 + (sel.doc_id * 37) % 100000 AS BIGINT)
            END AS duration,
       CAST(CASE WHEN sel.corrupt THEN NULL
                 ELSE 1 + sel.doc_id % 2 END AS INTEGER) AS n_tracks,
       CASE WHEN sel.corrupt THEN NULL ELSE sel.n END AS mdat_bytes,
       sums.mdat_sum,
       NOT sel.corrupt AS decoded
FROM sel LEFT JOIN sums ON sel.doc_id = sums.doc_id
""",
)
def _mm_mp4(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("doc_id") % 59 == 0
    )
    sel = d.select(
        "doc_id", (F.col("doc_id") % 3 == 2).alias("_corrupt")
    )

    def gen(batches):
        from ..functions.multimodal import mp4_encode

        for pdf in batches:
            payloads = [
                mp4_encode(int(doc))[: 30 if corrupt else None]
                for doc, corrupt in zip(pdf["doc_id"], pdf["_corrupt"])
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    payload = sel.mapInPandas(gen, "doc_id long, payload binary")
    return multimodal.decode_mp4_meta(payload)
