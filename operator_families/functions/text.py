"""Text-analysis column expressions for large-scale document pipelines.

All pure ``pyspark.sql.functions`` compositions (JVM-side, whole-stage
codegen): tokenization, n-gram shingles, quality features, stopword-based
language scoring, and md5-derived document fingerprints.  Cross-engine
deterministic — every expression has an exact DuckDB twin.

Hash family: ``h(s) = int(md5(s)[:8], 16)`` — 32-bit, identical in Spark
(``conv(substr(md5(x),1,8),16,10)``) and DuckDB
(``('0x'||substr(md5(x),1,8))::BIGINT``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Small marker-stopword profiles for the language-ID heuristic (public
#: high-frequency function words).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit"],
    "fr": ["le", "la", "les", "et", "un", "est", "dans"],
    "es": ["el", "los", "las", "y", "un", "es", "en"],
}

#: Stopwords for the quality-scoring ratio (english core).
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization of lowercased, trimmed text."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles, space-joined.

    Rows with fewer than ``n`` tokens yield an empty array.

    Formulated as ``zip_with`` over ``n`` shifted ``slice``s so the
    (possibly expensive) ``toks`` child expression is evaluated O(n) times
    per row, not once per gram: ``element_at(toks, i)`` inside a lambda
    re-evaluates the whole child per access (higher-order-function lambdas
    bind only their loop variables), which makes the naive
    ``transform(sequence(...), i -> ...)`` formulation quadratic when
    ``toks`` is itself a regex split.
    """
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(grams)


def hash32(col: Column) -> Column:
    """Deterministic 32-bit hash shared with the DuckDB oracle dialect."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def fingerprint(text: Column) -> Column:
    """128-bit content fingerprint of whitespace-normalized lowercase text."""
    return F.md5(F.regexp_replace(F.trim(F.lower(text)), r"\s+", " "))


def punct_count(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))


def stopword_ratio(toks: Column) -> Column:
    hits = F.size(
        F.filter(
            toks, lambda t: F.array_contains(F.array(*map(F.lit, STOPWORDS)), t)
        )
    )
    return hits / F.size(toks)


def lang_scores(toks: Column) -> dict[str, Column]:
    """Marker-overlap score per language over distinct tokens."""
    d = F.array_distinct(toks)
    return {
        lang: F.size(F.array_intersect(d, F.array(*map(F.lit, markers))))
        for lang, markers in LANG_MARKERS.items()
    }


def predicted_lang(toks: Column) -> Column:
    """Argmax language with a fixed preference order (en>de>fr>es) on ties."""
    scores = lang_scores(toks)
    order = list(LANG_MARKERS)
    expr = None
    best = F.greatest(*scores.values())
    for lang in order:
        cond = scores[lang] == best
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return expr


def token_repetition_stats(
    docs, text_col: str = "text", id_col: str = "doc_id"
):
    """Per-doc repetition quality signals (the Gopher-style rep filters):
    duplicate-token ratio and most-frequent-token dominance.

    Returns (id_col, n_tokens, n_distinct, dup_ratio, top_token,
    top_ratio) — ``dup_ratio = 1 - distinct/total`` and ``top_ratio =
    max token frequency / total``; ``top_token`` breaks frequency ties on
    the lexicographically smallest token, so output is total-ordered.

    Plan: tokenize+explode, one (doc, token) count aggregation, then ONE
    per-doc stats aggregation that names the winner in the same pass —
    ``min(struct(-cnt, tok))`` is max-count-then-lexicographically-least
    as a single orderable struct, so no join back onto the count frame
    and no second doc-keyed shuffle of it.  Every shuffle keys on
    doc/token, and per-doc state is O(distinct tokens), never O(doc
    length) in one task.  The array-native alternative (``transform`` +
    ``filter`` per distinct token) avoids the shuffles but is quadratic
    in document length — wrong for 100k-token documents.
    """
    tc = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .groupBy("doc", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    st = tc.groupBy(F.col("doc").alias(id_col)).agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.min(
            F.struct((-F.col("cnt")).alias("_neg"), F.col("tok"))
        ).alias("_top"),
    )
    return (
        st.withColumn("_top_cnt", -F.col("_top._neg"))
        .withColumn("top_token", F.col("_top.tok"))
        .select(
            id_col,
            "n_tokens",
            "n_distinct",
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_tokens"), 4
            ).alias("dup_ratio"),
            "top_token",
            F.round(F.col("_top_cnt") / F.col("n_tokens"), 4).alias(
                "top_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Corpus scrubbing: PII redaction and HTML boilerplate stripping — the two
# text-normalization passes every web-crawl training pipeline runs before
# dedup/quality.  Pure regexp_replace/replace chains (JVM codegen, map-side,
# zero shuffles); every pattern is written to evaluate identically under
# Java regex (Spark) and RE2 (DuckDB): no backreferences, no lookaround,
# and explicit character classes instead of `\s` (Java's \s includes \x0B,
# RE2's does not).
# ---------------------------------------------------------------------------

#: PII patterns (shared verbatim with the DuckDB oracles).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_RE = "https?://[A-Za-z0-9%._~:/?#@!$&*+,;=()-]+"
LONGNUM_RE = "[0-9]{7,}"
HTML_TAG_RE = "<[^>]*>"
#: Leading/trailing blank runs (explicit class — engine ``trim``s disagree
#: on U+00A0, and Java/RE2 ``\s`` disagree on ``\x0B``).
BLANK_EDGE_RE = "^[ \\t\\n\\r\\f]+|[ \\t\\n\\r\\f]+$"
#: Interior blank runs, same explicit class (shared with the oracle verbatim).
BLANK_RUN_RE = "[ \\t\\n\\r\\f]+"

#: HTML entity decode map, applied in this exact order on both engines
#: (``&amp;`` last so decoding it cannot fabricate another entity).
HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def _match_count(col: Column, pattern: str) -> Column:
    n = F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))
    return F.greatest(n, F.lit(0)).cast("int")


def scrub_pii(
    docs, text_col: str = "text", id_col: str = "doc_id"
):
    """Redact emails, URLs, and long digit runs (phone/account-shaped).

    Returns (id_col, clean_text, n_emails, n_urls, n_longnums).  Counts
    are per-category matches against the ORIGINAL text (so an
    email-shaped substring inside a URL counts under both — documented,
    deterministic); the cleaned text applies the replacements
    sequentially URL -> email -> digit-run, so a digit run consumed by a
    URL match is not re-redacted (the ``<URL>``/``<EMAIL>`` tokens
    contain no digits).

    Plan shape: a single map-side projection — no shuffle, no UDF; at
    100 TB this runs at parquet-scan speed and composes with any
    downstream operator.
    """
    t = F.col(text_col)
    clean = F.regexp_replace(t, URL_RE, "<URL>")
    clean = F.regexp_replace(clean, EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(clean, LONGNUM_RE, "<NUM>")
    return docs.select(
        F.col(id_col),
        clean.alias("clean_text"),
        _match_count(t, EMAIL_RE).alias("n_emails"),
        _match_count(t, URL_RE).alias("n_urls"),
        _match_count(t, LONGNUM_RE).alias("n_longnums"),
    )


def strip_html(
    docs, text_col: str = "text", id_col: str = "doc_id"
):
    """Strip HTML tags, decode the common entities, normalize whitespace.

    Returns (id_col, clean_text, n_tags).  Tags are removed first (so a
    decoded ``&lt;`` cannot fabricate a strippable tag), entities decode
    in the fixed :data:`HTML_ENTITIES` order, then runs of blank
    characters collapse to one space and edge blanks strip.  The
    whitespace class is the explicit ``[ \\t\\n\\r\\f]`` — NOT ``\\s``
    (Java and RE2 disagree on ``\\x0B``) and NOT the engines' ``trim``
    (DuckDB's strips U+00A0, Spark's does not — hypothesis found this);
    the edge strip is the same regexp class anchored, identical on both.

    Map-side only, same scale shape as :func:`scrub_pii`.
    """
    t = F.col(text_col)
    clean = F.regexp_replace(t, HTML_TAG_RE, " ")
    for ent, ch in HTML_ENTITIES:
        clean = F.replace(clean, F.lit(ent), F.lit(ch))
    clean = F.regexp_replace(clean, "[ \\t\\n\\r\\f]+", " ")
    clean = F.regexp_replace(clean, BLANK_EDGE_RE, "")
    return docs.select(
        F.col(id_col),
        clean.alias("clean_text"),
        _match_count(t, HTML_TAG_RE).alias("n_tags"),
    )


def vocab_coverage(
    docs, k: int = 20, text_col: str = "text", id_col: str = "doc_id"
):
    """Tokenizer-style vocabulary induction: the corpus's top-``k`` unigrams
    by occurrence count, with each term's 1-based rank and the CUMULATIVE
    share of all corpus tokens covered through that rank (the curve a
    vocab-size decision reads: "how many entries until 95 % coverage?").

    Returns (term, n_occ, rank, cum_share), total-ordered by
    (count desc, term).

    Plan shape: tokenize+explode map-side; one term-keyed partial-
    aggregated count; the corpus token total derives from the SAME count
    frame (one extra metadata-scale agg, no second corpus scan) and
    broadcasts as one row; global top-k compiles to
    TakeOrderedAndProject (per-partition heaps, k rows to the driver);
    the rank/cumulative windows then run over the k-row frame only —
    never over the vocabulary, never over the corpus.
    """
    from pyspark.sql import Window

    tok = docs.select(F.explode(tokens(F.col(text_col))).alias("term"))
    counts = tok.groupBy("term").agg(F.count("*").alias("n_occ"))
    total = counts.agg(F.sum("n_occ").alias("_tot"))
    top = counts.orderBy(F.desc("n_occ"), F.asc("term")).limit(k)
    w = Window.orderBy(F.desc("n_occ"), F.asc("term")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return top.crossJoin(F.broadcast(total)).select(
        "term",
        "n_occ",
        F.row_number().over(w).cast("int").alias("rank"),
        F.round(
            F.sum("n_occ").over(w).cast("double") / F.col("_tot"), 6
        ).alias("cum_share"),
    )


#: keep iff score >= 22/100 (splits the synthetic corpus near its median;
#: a trained head would set this from validation data).
QUALITY_CLASSIFIER_THRESHOLD = (22, 100)


def quality_classifier(docs, text_col: str = "text", id_col: str = "doc_id"):
    """Model-scored document filtering: a fixed-weight linear classifier
    over quality features (the expression-only proxy for the
    fasttext/logreg quality heads of C4/CCNet-style pipelines — swap the
    weights for trained ones, the plan shape is identical).

    Returns (id_col, score, keep).  All feature ratios are brought over a
    common integer denominator, so the score is ONE IEEE division of two
    bigints and the keep decision is a pure bigint comparison — exact on
    any engine, no float accumulation anywhere.  Valid while
    ``n_tokens * n_chars < 2.3e14`` per document (the 200*B*n*L term's
    bigint headroom — a 100 MB single document; assert upstream if your
    corpus has those).  Empty/whitespace-only docs score NULL, keep=false.

    Plan shape: pure map-side projection off the scan — no shuffle, no
    UDF; composes with partition pruning and runs at parquet-scan speed.
    """
    t = F.col(text_col)
    toks = tokens(t)
    n = F.size(toks).cast("bigint")
    chars = F.length(t).cast("bigint")
    stop_hits = F.size(
        F.filter(
            toks, lambda w: F.array_contains(F.array(*map(F.lit, STOPWORDS)), w)
        )
    ).cast("bigint")
    total_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    ).cast("bigint")
    b = F.least(n, F.lit(200))
    c = F.least(total_len, F.lit(8) * n)
    p = punct_count(t).cast("bigint")
    num = (
        F.lit(48000) * stop_hits * chars
        + F.lit(200) * b * n * chars
        + F.lit(5000) * c * chars
        - F.lit(32000) * p * n
    )
    den = F.lit(160000).cast("bigint") * n * chars
    thr_num, thr_den = QUALITY_CLASSIFIER_THRESHOLD
    valid = (n > 0) & (chars > 0)
    return docs.select(
        F.col(id_col),
        F.when(valid, F.round(num.cast("double") / den, 4)).alias("score"),
        F.when(valid, (num * thr_den) >= (den * thr_num))
        .otherwise(F.lit(False))
        .alias("keep"),
    )


#: Feature order of the trainable quality head (intercept prepended).
QUALITY_FEATURES = (
    "stopword_ratio",
    "length_saturation",
    "token_len_saturation",
    "punct_ratio",
)


def _quality_feature_cols(text_col: str) -> list:
    """The four classifier features as double expressions (same
    definitions as :func:`quality_classifier`'s integer decomposition);
    degenerate docs (no tokens / no chars) yield all-zero features."""
    t = F.col(text_col)
    toks = tokens(t)
    n = F.size(toks).cast("double")
    chars = F.length(t).cast("double")
    stop_hits = F.size(
        F.filter(
            toks, lambda w: F.array_contains(F.array(*map(F.lit, STOPWORDS)), w)
        )
    ).cast("double")
    total_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    ).cast("double")
    valid = (n > 0) & (chars > 0)
    z = F.lit(0.0)
    return [
        F.when(valid, stop_hits / n).otherwise(z),
        F.when(valid, F.least(n, F.lit(200.0)) / 200.0).otherwise(z),
        F.when(valid, F.least(total_len, 8.0 * n) / (8.0 * n)).otherwise(z),
        F.when(valid, punct_count(t).cast("double") / chars).otherwise(z),
    ]


def fit_quality_weights(
    docs,
    label_col: str,
    text_col: str = "text",
    ridge: float = 1e-6,
) -> dict:
    """TRAIN the quality head: closed-form ridge regression of a 0/1
    label on the four quality features + intercept — the production
    replacement for the fixed :data:`QUALITY_CLASSIFIER_WEIGHTS`
    stand-in, using only public linear algebra (normal equations).

    Scale shape: the ENTIRE corpus contributes through its sufficient
    statistics — the 5x5 Gram matrix X'X and the 5-vector X'y, i.e. 20
    distinct sums computed in ONE partial-aggregated pass (map-side
    combine, one exchange, one output row).  Only the 5x5 solve runs on
    the driver (25 numbers — metadata, not data).  This is how any tiny
    head is fit at 100 TB: aggregate sufficient statistics, solve small.

    Returns ``{"intercept": w0, "stopword_ratio": w1, ...}`` (double
    weights).  ``ridge`` (lambda, applied to non-intercept diagonal)
    keeps the solve defined under collinear features.
    """
    feats = _quality_feature_cols(text_col)
    xs = [F.lit(1.0), *feats]
    y = F.col(label_col).cast("double")
    aggs = []
    for i in range(5):
        for j in range(i, 5):
            aggs.append(F.sum(xs[i] * xs[j]).alias(f"a_{i}_{j}"))
        aggs.append(F.sum(xs[i] * y).alias(f"b_{i}"))
    row = docs.agg(*aggs).collect()[0]

    a = [[0.0] * 5 for _ in range(5)]
    b = [0.0] * 5
    for i in range(5):
        b[i] = float(row[f"b_{i}"] or 0.0)
        for j in range(i, 5):
            a[i][j] = a[j][i] = float(row[f"a_{i}_{j}"] or 0.0)
        if i > 0:
            a[i][i] += ridge
    # 5x5 Gaussian elimination with partial pivoting — no numpy needed,
    # deterministic, and trivially auditable
    m = [a[i] + [b[i]] for i in range(5)]
    for col in range(5):
        piv = max(range(col, 5), key=lambda r: abs(m[r][col]))
        m[col], m[piv] = m[piv], m[col]
        if m[col][col] == 0.0:
            raise ValueError("singular normal equations; raise `ridge`")
        for r in range(5):
            if r != col and m[r][col] != 0.0:
                f = m[r][col] / m[col][col]
                for c in range(col, 6):
                    m[r][c] -= f * m[col][c]
    w = [m[i][5] / m[i][i] for i in range(5)]
    return {"intercept": w[0], **dict(zip(QUALITY_FEATURES, w[1:]))}


def apply_quality_weights(
    docs,
    weights: dict,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Score documents with a TRAINED weight dict (from
    :func:`fit_quality_weights` or any external head with the same
    feature contract).  Same map-side expression-only plan shape as
    :func:`quality_classifier` — weights enter as literals, so swapping
    heads never changes the physical plan.

    Returns (id_col, score, keep) with ``keep = score >= threshold``.
    """
    feats = _quality_feature_cols(text_col)
    score = F.lit(float(weights["intercept"]))
    for name, col in zip(QUALITY_FEATURES, feats):
        score = score + F.lit(float(weights[name])) * col
    return docs.select(
        F.col(id_col),
        score.alias("score"),
        (score >= F.lit(float(threshold))).alias("keep"),
    )


def remove_boilerplate_lines(
    docs,
    min_docs: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_lines: int | None = None,
):
    """Line-level boilerplate removal (the RefinedWeb/Falcon line dedup).

    A *boilerplate line* is a non-blank line whose whitespace-normalized
    lowercase form appears in >= ``min_docs`` DISTINCT documents (cookie
    banners, copyright footers, nav menus — the cross-document repetition
    whole-document fingerprints cannot see).  Every document is returned
    with those lines deleted and the survivors re-joined in original
    order: (id_col, clean_text, n_lines_removed, n_lines_kept).  A
    document whose every line is boilerplate yields ``clean_text = ''``.
    With ``max_lines`` set, a ``quarantined`` boolean is appended: docs
    with more lines than the cap are excluded from the operator entirely
    (no line contribution, no rewrite) and pass through VERBATIM with
    ``n_lines_removed = 0`` and ``quarantined = true`` — the whale-doc
    guard bounding the per-document reassembly buffer.

    Normalization deliberately avoids engine ``trim`` and regex ``\\s``
    (cross-engine traps — see :data:`BLANK_EDGE_RE`): lowercase, collapse
    explicit blank runs, strip explicit edge runs.

    Plan shape: lines explode map-side off the document scan; the
    boilerplate set is a (fingerprint, doc)-dedup then fingerprint-keyed
    count (two partial-aggregated key shuffles over line-sized rows); the
    corpus joins that set on the fingerprint key (vocabulary-sized — NOT
    collected or broadcast by hand, AQE may choose to) and re-aggregates
    per document.  No global sort at any size: reassembly order comes
    from ``array_sort`` inside each document's aggregation buffer, which
    is bounded by document length, not corpus size.
    """
    quarantined = None
    if max_lines is not None:
        nl = F.size(F.split(F.col(text_col), "\n"))
        quarantined = docs.filter(nl > max_lines).select(
            F.col(id_col),
            F.col(text_col).alias("clean_text"),
            F.lit(0).cast("int").alias("n_lines_removed"),
            nl.cast("int").alias("n_lines_kept"),
            F.lit(True).alias("quarantined"),
        )
        docs = docs.filter(nl <= max_lines)
    blank = F.lit("")
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("line")), BLANK_RUN_RE, " "),
        BLANK_EDGE_RE,
        "",
    )
    lines = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).select("doc", "pos", "line", norm.alias("_norm"))
    lines = lines.select("doc", "pos", "line", "_norm", F.md5("_norm").alias("fp"))
    boiler = (
        lines.filter(F.col("_norm") != blank)
        .select("fp", "doc")
        .distinct()
        .groupBy("fp")
        .agg(F.count("*").alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("fp", F.lit(True).alias("_b"))
    )
    flagged = lines.join(boiler, "fp", "left").select(
        "doc",
        "pos",
        "line",
        F.coalesce(F.col("_b"), F.lit(False)).alias("_b"),
    )
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("pos").alias("p"),
                F.col("line").alias("l"),
                F.col("_b").alias("b"),
            )
        )
    )
    kept = F.transform(F.filter(ordered, lambda s: ~s["b"]), lambda s: s["l"])
    out = flagged.groupBy("doc").agg(
        F.concat_ws("\n", kept).alias("clean_text"),
        F.sum(F.when(F.col("_b"), 1).otherwise(0))
        .cast("int")
        .alias("n_lines_removed"),
        F.sum(F.when(F.col("_b"), 0).otherwise(1))
        .cast("int")
        .alias("n_lines_kept"),
    ).select(
        F.col("doc").alias(id_col),
        "clean_text",
        "n_lines_removed",
        "n_lines_kept",
    )
    if quarantined is not None:
        out = out.withColumn("quarantined", F.lit(False)).unionByName(
            quarantined
        )
    return out


def remove_repeated_spans(
    docs,
    n: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int | None = None,
):
    """Cross-document repeated-span REMOVAL — the rewrite step of exact
    substring deduplication (Lee et al. 2022): every token position
    covered by any word n-gram occurring in >= ``min_docs`` DISTINCT
    documents is deleted, and the survivors reassemble in order.  The
    destructive counterpart of :func:`repeated_span_stats` (which only
    scores) and the span-level sibling of
    :func:`remove_boilerplate_lines` (which needs line structure).

    Returns (id_col, clean_text, n_tokens, n_removed) for EVERY input
    document — docs shorter than ``n`` tokens pass through untouched, a
    fully-templated doc comes back as the empty string (filter on
    ``n_removed``/length downstream).  With ``max_tokens`` set, a
    ``quarantined`` boolean is appended: docs longer than the cap are
    excluded from the operator ENTIRELY (neither rewritten nor
    contributing spans to the shared counts) and pass through with
    ``clean_text`` = their token stream re-joined, ``n_removed = 0``,
    ``quarantined = true`` — the whale-doc guard that keeps one
    pathological multi-GB document from becoming one executor's
    reassembly sort buffer.

    Plan: the span explode and shared-span aggregation are exactly
    :func:`repeated_span_stats`'s (span-keyed, never broadcast); covered
    positions explode at most ``n`` rows per shared occurrence then
    dedup doc-side; the rebuild is one doc-keyed aggregation whose sort
    buffer is bounded by the document's own length (by ``max_tokens``
    when capped).  Shuffles key on span or doc only — no global sort,
    which is the whole point vs a literal suffix-array port.
    """
    toks_col = tokens(F.col(text_col))
    base = docs.select(F.col(id_col).alias("doc"), toks_col.alias("_w"))
    quarantined = None
    if max_tokens is not None:
        # coalesce: NULL text -> NULL token array, and a bare size()
        # comparison would fail BOTH branch filters and silently drop
        # the doc the uncapped path keeps (it emits ("", 0, 0) there)
        n_w = F.coalesce(F.size("_w"), F.lit(0))
        quarantined = base.filter(n_w > max_tokens).select(
            F.col("doc").alias(id_col),
            F.array_join("_w", " ").alias("clean_text"),
            F.size("_w").cast("int").alias("n_tokens"),
            F.lit(0).cast("int").alias("n_removed"),
            F.lit(True).alias("quarantined"),
        )
        base = base.filter(n_w <= max_tokens)
    long_enough = base.filter(F.size("_w") >= n)
    spans = long_enough.select(
        "doc",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(_w) - {n - 1}), "
                f"i -> concat_ws(' ', slice(_w, i, {n})))"
            )
        ).alias("_p0", "span"),
    ).select("doc", (F.col("_p0") + 1).alias("p"), "span")
    shared = (
        spans.select("span", "doc")
        .distinct()
        .groupBy("span")
        .agg(F.count("*").alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("span")
    )
    covered = (
        spans.join(shared, "span", "left_semi")
        .select(
            "doc",
            F.explode(
                F.sequence(F.col("p"), F.col("p") + (n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    words = base.select(
        "doc", F.posexplode_outer("_w").alias("_p0", "_word")
    ).select("doc", (F.col("_p0") + 1).alias("pos"), "_word")
    kept = words.join(covered, ["doc", "pos"], "left_anti")
    real = F.col("pos").isNotNull()
    rebuilt = kept.groupBy("doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(real, F.struct(F.col("pos"), F.col("_word")))
                    )
                ),
                lambda s: s["_word"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("pos").cast("int").alias("_n_kept"),
    )
    totals = base.select("doc", F.size("_w").cast("int").alias("n_tokens"))
    out = (
        totals.join(rebuilt, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.greatest("n_tokens", F.lit(0)).alias("n_tokens"),
            (
                F.greatest("n_tokens", F.lit(0))
                - F.coalesce("_n_kept", F.lit(0))
            )
            .cast("int")
            .alias("n_removed"),
        )
    )
    if quarantined is not None:
        out = out.withColumn("quarantined", F.lit(False)).unionByName(
            quarantined
        )
    return out


def repeated_span_stats(
    docs,
    n: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Span-level duplication signals: how much of each document consists
    of word n-grams that also appear in other documents.

    The substring-level counterpart of whole-doc dedup (the signal behind
    suffix-array substring deduplication, Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): boilerplate headers,
    license blocks, and templated spam score high here while whole-doc
    fingerprints miss them.  Returns (id_col, n_spans, n_shared_spans,
    shared_ratio) for documents with at least ``n`` tokens, where a span
    is shared when its n-gram occurs in >= ``min_docs`` DISTINCT
    documents, counted WITH multiplicity over the doc's positions.

    Plan: one tokenize pass; position-multiplicity spans explode map-side;
    the shared-span set is (span,doc)-deduped then span-counted (two
    partial-aggregated key shuffles); spans join the shared set on the
    span key (corpus-vocabulary-sized — NOT broadcast) and aggregate per
    doc.  Totals come from the token array's size map-side, so no second
    corpus scan for the denominator.  Every shuffle keys on span or doc;
    suffix arrays need a global sort — this formulation does not.
    """
    toks_col = tokens(F.col(text_col))
    base = docs.select(F.col(id_col).alias("doc"), toks_col.alias("_w")).filter(
        F.size("_w") >= n
    )
    spans = base.select(
        "doc",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(_w) - {n - 1}), "
                f"i -> concat_ws(' ', slice(_w, i, {n})))"
            )
        ).alias("span"),
    )
    shared = (
        spans.select("span", "doc")
        .distinct()
        .groupBy("span")
        .agg(F.count("*").alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("span")
    )
    shared_counts = (
        spans.join(shared, "span")
        .groupBy("doc")
        .agg(F.count("*").alias("n_shared_spans"))
    )
    totals = base.select(
        "doc", (F.size("_w") - (n - 1)).cast("int").alias("n_spans")
    )
    return (
        totals.join(shared_counts, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_spans",
            F.coalesce(F.col("n_shared_spans"), F.lit(0))
            .cast("int")
            .alias("n_shared_spans"),
            F.round(
                F.coalesce(F.col("n_shared_spans"), F.lit(0))
                / F.col("n_spans"),
                4,
            ).alias("shared_ratio"),
        )
    )


def novelty_scores(
    docs,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Per-document content novelty: the fraction of the doc's word
    n-gram shingles whose FIRST corpus occurrence (by ascending doc id —
    ingestion order) is this document.  The data-valuation curve behind
    "is the tail of this crawl still adding content?": near-duplicates
    and boilerplate-heavy docs score ~0, fresh material ~1.

    Returns (id_col, n_shingles, n_novel, novelty) for docs with >= n
    tokens.  First-occurrence attribution is one shingle-keyed
    partial-aggregated MIN — no self-join, no window; the per-doc rollup
    is doc-keyed.  Deterministic: ties in arrival order cannot happen
    (min doc id is unique per shingle).
    """
    from pyspark.sql import functions as SF

    toks = tokens(SF.col(text_col))
    sh = docs.select(
        SF.col(id_col).alias("doc"),
        SF.explode(word_shingles(toks, n)).alias("shingle"),
    )
    first = sh.groupBy("shingle").agg(SF.min("doc").alias("_first"))
    per_doc = (
        sh.join(first, "shingle")
        .groupBy("doc")
        .agg(
            SF.count("*").alias("n_shingles"),
            SF.sum(
                SF.when(SF.col("doc") == SF.col("_first"), 1).otherwise(0)
            ).cast("int").alias("n_novel"),
        )
    )
    return per_doc.select(
        SF.col("doc").alias(id_col),
        SF.col("n_shingles").cast("int").alias("n_shingles"),
        "n_novel",
        SF.round(SF.col("n_novel") / SF.col("n_shingles"), 4).alias(
            "novelty"
        ),
    )


def lm_score(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Bigram-LM document scoring — the CCNet-style "perplexity filter"
    (Wenzek et al. 2020) reshaped for exact cross-engine reproducibility.

    Trains an add-one-smoothed bigram model on the corpus itself and
    scores every document by its MEAN bigram probability

        mean_p = avg over positions of (c(w1,w2) + 1) / (c(w1) + V)

    where ``c`` are corpus counts and ``V`` the unigram vocabulary size.
    The classical perplexity ``exp(-mean ln p)`` ranks documents by the
    geometric mean of the same probabilities; we keep the ARITHMETIC
    mean because ln/exp differ across engines in the last ulp while each
    probability here is ONE IEEE division of exact BIGINTs and the
    per-doc mean is an exact DECIMAL(38,20) sum — bit-reproducible at
    any partitioning.  Direction matches (higher = more predictable,
    i.e. lower perplexity); a KenLM/geometric variant is the same plan
    with the probability expression swapped.

    Returns (id_col, n_bigrams, mean_p) for EVERY input document;
    docs with fewer than two tokens get n_bigrams=0, mean_p NULL.

    100 TB shape: one tokenize pass feeds both the model counts and the
    scoring frame; the bigram-count and unigram-count tables are
    corpus-vocabulary-sized and joined TERM-KEYED (equi-joins — never
    broadcast: a web-scale bigram vocabulary is itself huge); V is a
    1-row broadcast; the per-doc mean is a doc-keyed partial agg.  No
    per-row Python, no global sort, no driver collect.
    """
    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = docs.select(F.col(id_col).alias("doc"), w.alias("_w"))
    pairs = (
        base.filter(F.size("_w") >= 2)
        .select(
            "doc",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_w) - 1), "
                    "i -> struct(_w[i-1] AS w1, _w[i] AS w2))"
                )
            ).alias("_g"),
        )
        .select("doc", F.col("_g.w1").alias("w1"), F.col("_g.w2").alias("w2"))
    )
    c2 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("_c2"))
    c1 = (
        base.select(F.explode("_w").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("_c1"))
    )
    vocab = c1.agg(F.count("*").alias("_V"))
    p = (F.col("_c2") + 1).cast("double") / (
        F.col("_c1") + F.col("_V")
    ).cast("double")
    per_doc = (
        pairs.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc")
        .agg(
            F.sum(p.cast("decimal(38,20)")).alias("_sum_p"),
            F.count("*").alias("n_bigrams"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc"))
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("bigint")).alias(
                "n_bigrams"
            ),
            F.round(
                F.col("_sum_p").cast("double")
                / F.col("n_bigrams").cast("double"),
                9,
            ).alias("mean_p"),
        )
    )


def compression_ratio(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
):
    """zlib compression ratio per document — the compressibility quality
    signal (highly repetitive / boilerplate text compresses far below
    natural prose; filters on ratio are standard in crawl pipelines).

    DEFLATE is not expressible in SQL, so this kernel has no SQL twin.
    Within one zlib build the output length at a fixed level is
    deterministic, so the column is stable run-to-run on this engine.

    Arrow ``mapInPandas`` shape (the multimodal contract): utf-8 encode +
    compress per batch, Python memory bounded by
    ``arrow.maxRecordsPerBatch``; the kernel emits INTEGERS only
    (id, n_bytes, n_compressed) — the ratio closes JVM-side with
    ``F.round`` (HALF_UP, the engine-stable rounding every other gate
    uses; Python's round() is half-even and diverges on exact ties like
    89/128).  NULL text quarantines as nulls, ratio rounded to 6.
    """
    import zlib

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    id_type = docs.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("n_bytes", LongType()),
            StructField("n_compressed", LongType()),
        ]
    )
    _ = DoubleType  # ratio closes JVM-side below

    def _batches(batches):
        import pandas as pd

        for pdf in batches:
            ids, nb, nc = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                ids.append(i)
                if t is None:
                    nb.append(None)
                    nc.append(None)
                    continue
                raw = t.encode("utf-8")
                comp = zlib.compress(raw, level)
                nb.append(len(raw))
                nc.append(len(comp))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_bytes": pd.array(nb, dtype="Int64"),
                    "n_compressed": pd.array(nc, dtype="Int64"),
                }
            )

    counted = docs.select(id_col, text_col).mapInPandas(
        _batches, out_schema
    )
    return counted.select(
        id_col,
        "n_bytes",
        "n_compressed",
        F.when(
            F.col("n_bytes") > 0,
            F.round(
                F.col("n_compressed").cast("double")
                / F.col("n_bytes").cast("double"),
                6,
            ),
        ).alias("ratio"),
    )


def winnow_fingerprints(
    docs,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS local fingerprinting algorithm, public method):
    hash every word k-gram, slide a window of ``w`` consecutive k-gram
    hashes, and in each window select the minimum hash — rightmost
    position on ties (robust winnowing).  The selected (hash, position)
    pairs, deduplicated, are the document's fingerprint set: any shared
    substring of at least ``k + w - 1`` tokens between two documents is
    GUARANTEED to share a fingerprint — the detection-threshold contract
    plain rolling-hash sampling (``fingerprint``/0-mod-p) cannot give.

    All integer (the shared md5 ``hash32`` contract), so fingerprints
    are bit-identical cross-engine.  Documents shorter than
    ``k + w - 1`` tokens yield no fingerprints (no full window exists).

    Scale shape: k-grams explode map-side; the window min runs over ONE
    doc-keyed exchange (frame bounded by ``w``); the dedup is a partial
    aggregate over the same partitioning — no joins, no all-pairs.  The
    downstream use joins fingerprint sets on the hash key (the standard
    inverted-index candidate generator, same as the shingle families).

    Output: (id_col, fp_hash, pos) — pos is the 1-based k-gram position
    the fingerprint was selected at.
    """
    from pyspark.sql import Window

    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    t = F.trim(F.lower(F.col(text_col)))
    toks = F.split(t, r"\s+")
    base = docs.filter(t != "").select(
        F.col(id_col).alias("_doc"), toks.alias("_w")
    )
    m = F.size(F.col("_w")) - (k - 1)  # number of k-grams
    grams = F.slice(F.col("_w"), 1, F.greatest(m, F.lit(0)))
    for j in range(1, k):
        grams = F.zip_with(
            grams,
            F.slice(F.col("_w"), j + 1, F.greatest(m, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    pos = base.select(
        "_doc",
        F.posexplode(grams).alias("_p0", "_g"),
    ).select(
        "_doc",
        (F.col("_p0") + 1).alias("_p"),
        hash32(F.col("_g")).alias("_h"),
    )
    # full windows only: the window starting at p covers [p, p+w-1], so
    # p must leave w k-grams; counting rides a doc-keyed max window on
    # the SAME exchange the frame min uses
    dw = Window.partitionBy("_doc")
    ordered = Window.partitionBy("_doc").orderBy("_p")
    frame = ordered.rowsBetween(0, w - 1)
    sel = (
        pos.withColumn("_m", F.max("_p").over(dw))
        .withColumn(
            "_min",
            F.min(F.struct(F.col("_h"), (-F.col("_p")).alias("_np"))).over(
                frame
            ),
        )
        .filter(F.col("_p") <= F.col("_m") - (w - 1))
        .select(
            F.col("_doc").alias(id_col),
            F.col("_min._h").alias("fp_hash"),
            (-F.col("_min._np")).alias("pos"),
        )
        .distinct()
    )
    return sel


def pmi_collocations(
    docs,
    min_count: int = 5,
    top_k: int = 50,
    text_col: str = "text",
):
    """Corpus collocations by pointwise mutual information: rank adjacent
    token pairs by ``pmi = ln(P(x,y) / (P(x) P(y)))`` — the classic
    collocation / multi-word-expression detector (Church & Hanks, public
    literature) that separates "new york" from "of the".

    Exactness: all counts are BIGINT; the PMI argument is ONE fixed
    left-associated IEEE chain
    ``(c_xy * n_uni * n_uni) / ((n_bi * c_x) * c_y)`` over doubles
    (BIGINT products would overflow at corpus scale), then one ``ln``
    rounded to 9 — the oracle mirrors the identical op order.  Ranking
    orders by the ROUNDED pmi with (w1, w2) tiebreak, so the LIMIT
    boundary is engine-portable.

    Scale shape: bigrams explode map-side via the shifted-slice
    ``zip_with`` (no per-element ``element_at`` quadratics); unigram and
    bigram counts are two partial-aggregated shuffles on term keys;
    marginals join term-keyed (vocabulary-sized, never broadcast — the
    web-scale-vocab contract); corpus totals ride a 1-row broadcast; the
    top-k is TakeOrderedAndProject, never a global sort.
    """
    t = F.trim(F.lower(F.col(text_col)))
    toks = F.split(t, r"\s+")
    base = docs.filter(t != "").select(toks.alias("_w"))
    n1 = F.size(F.col("_w")) - 1
    pairs = F.zip_with(
        F.slice(F.col("_w"), 1, F.greatest(n1, F.lit(0))),
        F.slice(F.col("_w"), 2, F.greatest(n1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    uni = base.select(F.explode("_w").alias("_t")).groupBy("_t").agg(
        F.count("*").alias("_c")
    )
    bi = (
        base.select(F.explode(pairs).alias("_g"))
        .groupBy("_g")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
        .select(
            F.split(F.col("_g"), " ").getItem(0).alias("w1"),
            F.split(F.col("_g"), " ").getItem(1).alias("w2"),
            "c_xy",
        )
    )
    totals = uni.agg(
        F.sum("_c").alias("_nu"), F.count("*").alias("_v")
    ).crossJoin(
        base.select(F.explode(pairs).alias("_g")).agg(
            F.count("*").alias("_nb")
        )
    )
    scored = (
        bi.join(uni.withColumnRenamed("_t", "w1").withColumnRenamed("_c", "c_x"), "w1")
        .join(uni.withColumnRenamed("_t", "w2").withColumnRenamed("_c", "c_y"), "w2")
        .crossJoin(F.broadcast(totals))
    )
    num = (
        F.col("c_xy").cast("double")
        * F.col("_nu").cast("double")
        * F.col("_nu").cast("double")
    )
    den = (
        F.col("_nb").cast("double") * F.col("c_x").cast("double")
    ) * F.col("c_y").cast("double")
    return (
        scored.select(
            "w1",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            F.round(F.log(num / den), 9).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(top_k)
    )


def rake_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
    max_phrase_words: int = 4,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, public method),
    integer-degree variant: candidate phrases are maximal runs of
    non-stopword words between punctuation/stopword delimiters; each
    word's DEGREE is the total word count of every phrase occurrence it
    appears in; a phrase scores the SUM of its member words' degrees;
    each doc keeps its ``top_k`` phrases (score desc, phrase asc).

    The canonical RAKE score divides degree by frequency — a float
    ratio-sum whose accumulation order is engine-dependent; the
    degree-only variant (a known RAKE ablation) keeps every score an
    exact BIGINT so the gate hash-matches at any partitioning.

    Phrase assembly avoids regex lookaround entirely (both engines run
    the identical no-lookaround dialect): fragments split at
    punctuation runs, words split at whitespace, and phrases are
    GAPS-AND-ISLANDS over word positions — island id = word_idx minus
    the per-fragment rank of non-stopword words, the engine-portable
    maximal-run construction.  Phrases longer than ``max_phrase_words``
    are dropped (RAKE's run-on guard).

    Plan: map-side splits + two explodes (fan-out bounded by text
    length), islands over ONE (doc, fragment)-keyed window, word-degree
    as a vocabulary-sized aggregate joined back by word equi-key, one
    (doc, phrase) sum and one doc-keyed top-k window.  No cross joins.
    """
    from pyspark.sql import Window

    if top_k < 1 or max_phrase_words < 1:
        raise ValueError("top_k and max_phrase_words must be >= 1")
    frags = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9 ]+")
        ).alias("frag_idx", "frag"),
    )
    words = frags.select(
        "doc_id",
        "frag_idx",
        F.posexplode(F.split(F.col("frag"), " +")).alias(
            "word_idx", "word"
        ),
    ).filter(F.col("word") != "")
    stop = F.array_contains(
        F.array(*map(F.lit, STOPWORDS)), F.col("word")
    )
    kept = words.filter(~stop)
    iw = Window.partitionBy("doc_id", "frag_idx").orderBy("word_idx")
    islands = kept.withColumn(
        "island", F.col("word_idx") - F.row_number().over(iw)
    )
    phrases = (
        islands.groupBy("doc_id", "frag_idx", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("word_idx", "word"))
                    ),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").alias("phrase_len"),
        )
        .filter(F.col("phrase_len") <= max_phrase_words)
    )
    phrase_words = phrases.select(
        "doc_id",
        "frag_idx",
        "island",
        "phrase",
        "phrase_len",
        F.explode(F.split(F.col("phrase"), " ")).alias("word"),
    )
    degree = phrase_words.groupBy("word").agg(
        F.sum("phrase_len").alias("word_degree")
    )
    scored = (
        phrase_words.join(degree, "word")
        .groupBy("doc_id", "frag_idx", "island", "phrase")
        .agg(F.sum("word_degree").alias("score"))
        .groupBy("doc_id", "phrase")
        .agg(
            F.max("score").alias("score"),
            F.count("*").alias("n_occurrences"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("phrase")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "phrase",
            "score",
            "n_occurrences",
        )
    )


def zipf_fit(
    docs,
    text_col: str = "text",
    top_n: int = 1000,
):
    """Zipf's-law fit of the corpus rank-frequency curve: OLS of
    ``ln(count)`` on ``ln(rank)`` over the ``top_n`` most frequent
    terms — healthy natural text slopes near -1; machine-generated or
    template-heavy corpora flatten or step (the corpus-level twin of
    the per-document repetition signals).

    Ranks are total-ordered (count desc, term asc — engine-portable
    ties).  Both ``ln`` coordinates are transcendental, so every term
    rides the quantized-term contract (mleval.ndcg_at_k): quantize
    ``x = ln(rank)`` and ``y = ln(count)`` to 12 digits, then quantize
    the PRODUCTS of the quantized coordinates to 12 digits, and sum all
    five moments as DECIMAL(28,12) — exact, partitioning-proof; the OLS
    closing chain runs in IEEE double, rounded to 9.

    Plan: one term-count shuffle, one vocabulary-sized top-n window
    (unpartitioned BY DESIGN, on the post-agg frame — the repo-wide
    post-aggregation window contract), one 5-moment global aggregate.
    Output ONE row: (n_terms, slope, intercept, r2).
    """
    from pyspark.sql import Window

    counts = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    ranked = counts.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_n
    )
    xq = F.round(F.log(F.col("rank").cast("double")), 12)
    yq = F.round(F.log(F.col("cnt").cast("double")), 12)
    t = ranked.select(
        xq.alias("_x"), yq.alias("_y")
    ).select(
        F.col("_x").cast("decimal(28,12)").alias("_xd"),
        F.col("_y").cast("decimal(28,12)").alias("_yd"),
        F.round(F.col("_x") * F.col("_y"), 12)
        .cast("decimal(28,12)")
        .alias("_xyd"),
        F.round(F.col("_x") * F.col("_x"), 12)
        .cast("decimal(28,12)")
        .alias("_xxd"),
        F.round(F.col("_y") * F.col("_y"), 12)
        .cast("decimal(28,12)")
        .alias("_yyd"),
    )
    agg = t.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum("_xd").cast("double").alias("sx"),
        F.sum("_yd").cast("double").alias("sy"),
        F.sum("_xyd").cast("double").alias("sxy"),
        F.sum("_xxd").cast("double").alias("sxx"),
        F.sum("_yyd").cast("double").alias("syy"),
    )
    n = F.col("n_terms").cast("double")
    dx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when(dx > 0, cov / dx)
    intercept = F.when(
        dx > 0, (F.col("sy") - (cov / dx) * F.col("sx")) / n
    )
    r2 = F.when((dx > 0) & (dy > 0), (cov * cov) / (dx * dy))
    return agg.select(
        "n_terms",
        F.round(slope, 9).alias("slope"),
        F.round(intercept, 9).alias("intercept"),
        F.round(r2, 9).alias("r2"),
    )


def type_token_stats(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Per-document lexical-diversity profile: token count, type (distinct
    token) count, type-token ratio, and hapax legomena (tokens occurring
    exactly once in the document) — the classic vocabulary-richness
    signals next to token_repetition_stats (which looks at ADJACENT
    repeats; these are bag-of-words global).

    All counts exact BIGINT; the two ratios are single closing double
    divisions rounded to 9.  Plan: one explode, one (doc, term) partial-
    agg shuffle, one doc-keyed rollup — the same two-exchange shape as
    every per-doc term statistic; nothing fact-sized crosses a driver.
    Output: (doc_id, n_tokens, n_types, ttr, hapax_count, hapax_ratio);
    empty/whitespace-only docs yield a single empty-string token by the
    shared tokenizer contract, so every input doc appears.
    """
    per_term = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("bigint").alias("_c"))
    )
    g = per_term.groupBy(id_col).agg(
        F.sum("_c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.count_if(F.col("_c") == 1).cast("bigint").alias("hapax_count"),
    )
    ttr = F.col("n_types").cast("double") / F.col("n_tokens").cast("double")
    hr = (
        F.col("hapax_count").cast("double")
        / F.col("n_tokens").cast("double")
    )
    return g.select(
        id_col,
        "n_tokens",
        "n_types",
        F.round(ttr, 9).alias("ttr"),
        "hapax_count",
        F.round(hr, 9).alias("hapax_ratio"),
    )


def term_burstiness(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
):
    """Per-term burstiness (Fano factor) over the corpus: the
    variance-to-mean ratio of the term's per-document count INCLUDING
    the zero counts of documents that never use it — ~1 for
    Poisson-scattered function words, >> 1 for bursty content words
    (Church & Gale 1995, public literature).  The signal that separates
    topical vocabulary from boilerplate where document frequency alone
    cannot.

    Zeros never materialize: with N the total document count (a 1-row
    broadcast), ``mean = S/N`` and ``var = (S2 - S^2/N) / N`` need only
    the exact BIGINT sums ``S = sum(c)`` and ``S2 = sum(c^2)`` over the
    documents that DO contain the term, so

        fano = (S2 - S*S/N) / S        (population variance / mean)

    with one fixed IEEE closing chain rounded to 9.  Plan: one explode,
    one (doc, term) shuffle, one term-keyed rollup, one 1-row broadcast
    — vocabulary-sized output, ``min_df`` prunes the hapax tail.
    Output: (term, df, total_count, mean_per_doc, fano).
    """
    base = docs.filter(F.col(text_col).isNotNull())
    n_docs = base.agg(F.count("*").cast("bigint").alias("_n"))
    per = (
        base.select(
            F.col(id_col),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("bigint").alias("_c"))
    )
    g = per.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("_c").cast("bigint").alias("total_count"),
        F.sum(F.col("_c") * F.col("_c")).cast("bigint").alias("_s2"),
    )
    g = g.filter(F.col("df") >= min_df).crossJoin(F.broadcast(n_docs))
    nd = F.col("_n").cast("double")
    s = F.col("total_count").cast("double")
    s2 = F.col("_s2").cast("double")
    mean = s / nd
    fano = (s2 - s * s / nd) / s
    return g.select(
        "term",
        "df",
        "total_count",
        F.round(mean, 9).alias("mean_per_doc"),
        F.round(fano, 9).alias("fano"),
    )


def unicode_nfc_stats(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Unicode NFC normalization audit per document — the canonical-form
    gate a multilingual corpus runs before dedup/tokenization (combining
    sequences vs precomposed characters hash differently but render
    identically; NFC collapses them, public UAX #15).

    Emits exact integers: codepoint and byte counts before/after NFC
    plus a ``changed`` flag.  The DuckDB oracle recomputes with its OWN
    NFC (utf8proc's ``nfc_normalize``) — two independent
    implementations of UAX #15 (CPython's unicodedata vs utf8proc), so
    a normalization bug in either side hash-mismatches; this is the one
    gate in the repo whose oracle is a genuinely foreign implementation
    of the same public spec rather than mirrored arithmetic.

    Arrow ``mapInPandas``, map-only, zero shuffles.
    """
    import unicodedata

    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    id_type = docs.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("n_cp_raw", LongType()),
            StructField("n_cp_nfc", LongType()),
            StructField("n_bytes_raw", LongType()),
            StructField("n_bytes_nfc", LongType()),
            StructField("changed", BooleanType()),
        ]
    )

    def batch(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    rows.append((doc_id, None, None, None, None, None))
                    continue
                nfc = unicodedata.normalize("NFC", t)
                rows.append(
                    (
                        doc_id,
                        len(t),
                        len(nfc),
                        len(t.encode("utf-8")),
                        len(nfc.encode("utf-8")),
                        nfc != t,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "n_cp_raw", "n_cp_nfc", "n_bytes_raw",
                    "n_bytes_nfc", "changed",
                ],
            ).astype(
                {
                    "n_cp_raw": "Int64", "n_cp_nfc": "Int64",
                    "n_bytes_raw": "Int64", "n_bytes_nfc": "Int64",
                }
            )

    return docs.select(id_col, text_col).mapInPandas(batch, out_schema)


def flesch_readability(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Flesch Reading Ease per document (Flesch 1948, public formula):

        206.835 - 1.015 * (words / sentences) - 84.6 * (syllables / words)

    with deterministic regex proxies — words = whitespace tokens,
    sentences = ``[.!?]+`` runs (floored at 1), syllables = vowel-group
    runs ``[aeiouy]+`` of the lowercased text (the standard cheap
    proxy).  All three counts are exact BIGINTs; the score is IEEE ops
    over their double images, identical on any engine.  Higher = easier
    (90+ ~ grade school, <30 ~ academic); crawl pipelines bucket on it
    as a quality / audience signal next to stopword and length ratios.

    Pure map-side codegen — zero shuffles, zero UDFs.
    """
    t = F.col(text_col)
    words = F.size(tokens(t))
    sentences = F.greatest(
        F.lit(1).cast("bigint"),
        F.regexp_count(t, F.lit(r"[.!?]+")).cast("bigint"),
    )
    syllables = F.regexp_count(F.lower(t), F.lit("[aeiouy]+")).cast(
        "bigint"
    )
    score = F.round(
        F.lit(206.835)
        - F.lit(1.015)
            * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6)
            * (syllables.cast("double") / words.cast("double")),
        9,
    )
    return docs.select(
        F.col(id_col),
        F.when(t.isNotNull(), words.cast("bigint")).alias("n_words"),
        F.when(t.isNotNull(), sentences).alias("n_sentences"),
        F.when(t.isNotNull(), syllables).alias("n_syllables"),
        F.when(t.isNotNull() & (words > 0), score).alias("flesch"),
    )


def utf8_validity_stats(df_with_payload):
    """UTF-8 validity scan over a binary column: per document the byte
    count, the count of replacement characters a strict
    decode-with-replace produces (W3C/WHATWG maximal-subpart policy —
    Python's 'replace' handler), and the repaired character length —
    the corpus-hygiene pass that decides quarantine vs repair before
    text ever enters the pipeline.

    Arrow ``mapInPandas``, map-only; O(bytes) per document.  Expects
    (doc_id, payload) columns; returns (doc_id, n_bytes, n_invalid,
    n_chars_repaired).
    """
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("n_invalid", T.LongType()),
            T.StructField("n_chars_repaired", T.LongType()),
        ]
    )

    def batch(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                repaired = b.decode("utf-8", "replace")
                rows.append(
                    (
                        doc_id,
                        len(b),
                        repaired.count("�"),
                        len(repaired),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            )

    return df_with_payload.select("doc_id", "payload").mapInPandas(
        batch, schema
    )


def textrank_keywords(
    docs,
    text_col: str = "text",
    doc_col: str = "doc_id",
    vocab_size: int = 200,
    top_k: int = 20,
    iterations: int = 5,
):
    """TextRank keyword extraction (Mihalcea & Tarau 2004, public
    literature): PageRank over the word co-occurrence graph — the
    graph-centrality upgrade over frequency ranking (RAKE/top-terms):
    a word matters because IMPORTANT words sit next to it, not merely
    because it is common.

    Composition, not reimplementation: the graph is adjacent-token
    pairs (both directions — TextRank's undirected convention)
    restricted to the top-``vocab_size`` vocabulary by (count DESC,
    word) — a deterministic fence that bounds the node set at any
    corpus scale; the ranking is :func:`graph.pagerank_units`' exact
    integer PageRank, so scores are BIGINTs and the top-k is totally
    ordered by (pr_units DESC, word).

    Plan: one token shuffle for counts, one window for the vocabulary
    fence, one adjacent-pair frame (lead over (doc, pos) — no
    self-join), then the pagerank iterations over the vocab-bounded
    graph.  Output top_k rows: (rank, word, pr_units).
    """
    from pyspark.sql import Window

    from .graph import pagerank_units

    toks = docs.select(
        F.col(doc_col).alias("_doc"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("_p", "_w"),
    ).filter(F.col("_w") != "")
    counts = toks.groupBy("_w").agg(F.count("*").alias("_n"))
    wv = Window.orderBy(F.desc("_n"), F.asc("_w"))
    vocab = (
        counts.withColumn("_rn", F.row_number().over(wv))
        .filter(F.col("_rn") <= vocab_size)
        .select(F.col("_w").alias("word"))
    )
    wn = Window.partitionBy("_doc").orderBy("_p")
    adj = (
        toks.withColumn("_next", F.lead("_w").over(wn))
        .filter(F.col("_next").isNotNull() & (F.col("_w") != F.col("_next")))
        .select(F.col("_w").alias("a"), F.col("_next").alias("b"))
    )
    both = adj.union(adj.select(F.col("b").alias("a"), F.col("a").alias("b")))
    edges = (
        both.join(vocab.select(F.col("word").alias("a")), "a")
        .join(vocab.select(F.col("word").alias("b")), "b")
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .distinct()
    )
    pr = pagerank_units(vocab, edges, iterations=iterations, id_col="word")
    wr = Window.orderBy(F.desc("pr_units"), F.asc("node"))
    return (
        pr.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("rank").cast("int").alias("rank"),
            F.col("node").alias("word"),
            "pr_units",
        )
    )
