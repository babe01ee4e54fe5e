"""End-to-end corpus hygiene: the composed pipeline a training-data run
executes over a raw document corpus, built entirely from this engine's
operators:

    1. exact dedup      — keep the min-id representative per content
                          fingerprint (``dedup.exact_dup_groups``);
    2. near-dup dedup   — MinHash-LSH pair graph -> connected components ->
                          keep-one (``dedup.duplicate_clusters`` +
                          ``keep_representatives``);
    3. quality filter   — drop too-short and low-content docs
                          (``text`` quality signals, the 'ok' bucket).

Each stage is a declarative plan over the previous one, so Catalyst fuses
the projections and the whole pipeline runs as: one fingerprint shuffle +
the pair-graph joins + a map-side filter.  At 100 TB the near-dup pair set
comes from the persisted LSH artifacts; everything else is embarrassingly
parallel.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import (
    duplicate_clusters,
    exact_dup_groups,
    keep_representatives,
    minhash_lsh_pairs,
)
from .text import stopword_ratio, token_count, tokens

__all__ = [
    "clean_corpus",
    "mixture_plan",
    "assign_shards",
    "shard_stats",
    "leakproof_split",
    "kfold_assign",
    "feature_hash",
    "temporal_split",
    "js_divergence",
]


def clean_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs: DataFrame | None = None,
    clusters: DataFrame | None = None,
    min_tokens: int = 5,
    max_stopword_ratio: float = 0.5,
) -> DataFrame:
    """Raw corpus -> cleaned training corpus (doc_id, n_tokens).

    ``clusters`` is the converged ``duplicate_clusters`` frame (the
    corpus-level artifact a production run persists); ``pairs`` a prebuilt
    near-dup pair graph to cluster when ``clusters`` is absent; with
    neither, the MinHash-LSH pairs are built inline over the EXACT-KEPT
    docs.  Exact-first ordering is the scale-critical choice: identical
    docs always LSH-collide, so a duplicate-heavy corpus otherwise blows
    the candidate set quadratically in the copy count (measured 35x on a
    4x-duplicated corpus — SCALE.md).  The final survivor set is the same
    either way: exact duplicates share every shingle, so any bridge
    between content classes exists among representatives too.  Quality
    thresholds mirror ``text_quality_features``'s 'ok' bucket.
    """
    reps = exact_dup_groups(docs, text_col, id_col).select(
        F.col("representative_id").alias(id_col)
    )
    exact_kept = docs.join(reps, id_col, "left_semi")

    if clusters is None:
        if pairs is None:
            pairs = minhash_lsh_pairs(exact_kept, text_col, id_col)
        clusters = duplicate_clusters(pairs)
    survivors = keep_representatives(exact_kept, clusters, id_col)

    toks = tokens(F.col(text_col))
    n_tokens = token_count(F.col(text_col))
    return (
        survivors.filter(
            (n_tokens >= min_tokens) & (stopword_ratio(toks) <= max_stopword_ratio)
        )
        .select(F.col(id_col), n_tokens.cast("int").alias("n_tokens"))
    )


def mixture_plan(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.0,
) -> DataFrame:
    """Per-source corpus statistics + deterministic down-sampling rates
    that shape token mass across sources (the data-mixing step before
    :func:`..sketch.stratified_bernoulli_sample`).

    ``alpha`` is the TEMPERATURE exponent of the standard multinomial
    mixing rule (the ``p_i ∝ n_i^alpha`` smoothing of mBERT/XLM-R-style
    multi-source training): realized token mass becomes proportional to
    ``n_tokens^alpha``, via ``sample_rate = (min_tokens /
    n_tokens)^(1-alpha)``.  ``alpha=0`` (default) equalizes every source
    to the smallest one (the original behavior, bit-identical);
    ``alpha=1`` keeps the natural mix (all rates 1.0); between them,
    big sources are tempered without flattening.  ``alpha=0.5`` rides
    ``sqrt`` — correctly-rounded IEEE on both engines, so that setting
    is fully oracle-checkable (general ``pow`` is not guaranteed
    correctly rounded cross-engine; documented).

    Returns (source, n_docs, n_tokens, sample_rate), rates rounded 6.
    A source with zero tokens (all-empty/whitespace texts) is excluded
    from the minimum AND gets rate 0.0 — otherwise it drags
    ``min_tokens`` to 0, zeroing every other source's rate and silently
    emptying the downstream mix.  One aggregation pass over the corpus;
    the rate arithmetic runs on the per-source frame (metadata-scale)
    against a broadcast 1-row minimum.  Feeding the rates into
    ``stratified_bernoulli_sample`` yields the mixed corpus in one more
    map-side pass — no shuffle of the corpus itself.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(
            f"mixture_plan: alpha must be in [0, 1], got {alpha!r} — "
            "alpha > 1 would push sample_rate above 1.0 (invalid for "
            "Bernoulli sampling), alpha < 0 over-flattens below the "
            "equal-mass floor"
        )
    stats = docs.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col(text_col)).cast("bigint")).alias("n_tokens"),
    )
    floor = stats.filter(F.col("n_tokens") > 0).agg(
        F.min("n_tokens").alias("_min_tokens")
    )
    ratio = F.col("_min_tokens").cast("double") / F.col("n_tokens")
    exp = 1.0 - alpha
    if exp == 1.0:
        tempered = ratio
    elif exp == 0.5:
        tempered = F.sqrt(ratio)  # correctly-rounded IEEE on any engine
    elif exp == 0.0:
        tempered = F.lit(1.0)
    else:
        tempered = F.pow(ratio, F.lit(exp))
    return (
        stats.crossJoin(F.broadcast(floor))
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            F.when(F.col("n_tokens") > 0, F.round(tempered, 6))
            .otherwise(F.lit(0.0))
            .alias("sample_rate"),
        )
    )


def assign_shards(
    docs: DataFrame, n_shards: int, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic training-shard assignment: ``shard = h(id) mod n``
    on the repo-wide md5 hash contract — stable across runs, engines, and
    partitionings, and uniform over ids (hash-balanced shards).

    Adds ``shard`` (int).  Deliberately NO dense within-shard position
    column: a global per-shard rank would either serialize each shard's
    rows through one window task (the whale trap) or need the full
    three-level prefix-sum machinery for a number the training loader
    doesn't consume.  The export contract is assignment + deterministic
    SORT KEY (the same hash): writing with
    ``df.repartition(n, 'shard').sortWithinPartitions('shard', id)`` is
    scale-correct and reproduces identical shard files anywhere.
    """
    from .sketch import _rank_hash

    return docs.withColumn(
        "shard",
        F.pmod(_rank_hash(F.col(id_col), "shard"), F.lit(n_shards)).cast(
            "int"
        ),
    )


def shard_stats(
    docs: DataFrame,
    n_shards: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Shard balance report: per shard, document and token mass plus the
    share of total tokens — the check that hash sharding actually
    balanced the corpus before a training run trusts it.

    Plan: map-side assignment + token count, one shard-keyed
    partial-aggregated rollup (n_shards rows out), total via a 1-row
    broadcast off the same frame.
    """
    assigned = assign_shards(docs, n_shards, id_col).select(
        "shard", token_count(F.col(text_col)).cast("bigint").alias("_tok")
    )
    per = assigned.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("_tok").alias("n_tokens"),
    )
    total = per.agg(F.sum("n_tokens").alias("_tot"))
    return per.crossJoin(F.broadcast(total)).select(
        "shard",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.col("_tot"), 6
        ).alias("token_share"),
    )


def leakproof_split(
    docs: DataFrame,
    group_col: str,
    rate: tuple[int, int] = (1, 4),
    salt: str = "split",
) -> DataFrame:
    """Group-aware train/heldout split: whole GROUPS (domains, dup
    clusters, sources) are assigned to one side by their group-key hash,
    so near-duplicates or same-origin documents can never straddle the
    split — the leakage mode per-document random splits cannot prevent
    (and the reason decontamination alone is not enough).

    ``rate = (num, den)``: a group is heldout iff
    ``h(group) * den < num * 2^32`` — exact integer comparison on the
    md5 contract, so membership is reproducible on any engine or
    partitioning and nested for increasing rates.  Adds ``split``
    ('train' / 'heldout').  Pure map-side projection; composes with
    :func:`assign_shards` and the decontamination operators.
    """
    from .sketch import _rank_hash

    num, den = rate
    h = _rank_hash(F.col(group_col), salt)
    return docs.withColumn(
        "split",
        F.when(h * den < num * (2**32), "heldout").otherwise("train"),
    )


def kfold_assign(
    docs: DataFrame,
    group_col: str,
    k: int = 5,
    salt: str = "fold",
) -> DataFrame:
    """Group-aware k-fold assignment — the cross-validation sibling of
    :func:`leakproof_split`: whole groups land in one fold by their
    group-key hash, so near-duplicates and same-origin documents can
    never straddle a train/validation boundary in ANY fold rotation.

    Adds ``fold`` (0..k-1) via ``h(group) * k div 2^32`` — exact integer
    arithmetic on the md5 contract (an interval partition of the hash
    space, so folds are equal-probability and membership is reproducible
    on any engine/partitioning; unlike ``pmod(hash)``, fold i here is
    EXACTLY the groups the (i/k, (i+1)/k) rate-pair of
    :func:`leakproof_split` would carve out, making folds and splits
    consistent artifacts).  Pure map-side projection.
    """
    from .sketch import _rank_hash

    h = _rank_hash(F.col(group_col), salt)
    # h*k div 2^32 as a bigint shift: exact, no float in the path
    fold = F.shiftright((h * F.lit(k)).cast("bigint"), 32)
    return docs.withColumn("fold", fold.cast("int"))


def feature_hash(
    df: DataFrame,
    key_col: str,
    feature_cols: Sequence[str],
    n_buckets: int = 64,
    value_col: str | None = None,
    salt: str = "fh",
) -> DataFrame:
    """The hashing trick: project an unbounded categorical feature space
    onto ``n_buckets`` fixed columns — the standard way to featurize
    high-cardinality categoricals (URLs, tokens, ids) without building
    or broadcasting a vocabulary.

    Each feature is hashed as ``"<col>=<value>"`` through the repo-wide
    md5 contract (functions/text.py::hash32, replayable in any engine),
    bucketed with a non-negative mod.  Output is the SPARSE form — one
    row per (key, bucket) with ``feat_count`` and, when ``value_col`` is
    given, ``value_sum`` (exact decimal) — which is both the
    shuffle-friendly representation (dense vectors would carry
    n_buckets columns through every exchange) and trivially pivotable
    downstream.  NULL feature values contribute nothing.

    Plan: map-side explode of k feature columns (k small and fixed),
    ONE (key, bucket) partial-aggregated shuffle.  No vocabulary state
    anywhere — the whole point of hashing features is that the operator
    is stateless at any cardinality.
    """
    from .text import hash32

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if not feature_cols:
        raise ValueError("feature_hash needs at least one feature column")
    feats = F.array(
        *[
            F.when(
                F.col(c).isNotNull(),
                F.concat(F.lit(f"{c}="), F.col(c).cast("string")),
            )
            for c in feature_cols
        ]
    )
    base_cols = [F.col(key_col), F.explode(feats).alias("_feat")]
    if value_col is not None:
        base_cols.append(
            F.col(value_col).cast("string").cast("decimal(18,6)").alias("_v")
        )
    exploded = df.select(*base_cols).filter(F.col("_feat").isNotNull())
    bucket = F.pmod(
        hash32(F.concat(F.lit(f"{salt}:"), F.col("_feat"))),
        F.lit(n_buckets),
    ).cast("int")
    aggs = [F.count("*").alias("feat_count")]
    if value_col is not None:
        # Decimal math stays internal; the OUTPUT boundary is a plain
        # correctly-rounded decimal->double cast (driver-safe — raw
        # DECIMAL output columns hash-fail at the driver even when the
        # values are equal).
        aggs.append(
            F.sum("_v").cast("decimal(18,6)").cast("double")
            .alias("value_sum")
        )
    return (
        exploded.select(key_col, bucket.alias("bucket"), *(
            ["_v"] if value_col is not None else []
        ))
        .groupBy(key_col, "bucket")
        .agg(*aggs)
    )


def temporal_split(
    df: DataFrame,
    test_start: str,
    embargo_days: int = 0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str | None = None,
) -> DataFrame:
    """Temporal train/test split with an embargo gap and a leakage
    report — the time-series answer to :func:`leakproof_split`: train
    strictly BEFORE ``test_start - embargo``, test at/after
    ``test_start``, the embargo band dropped so near-boundary
    autocorrelation (the finance purged-CV concern) cannot leak.

    Returns TWO summary rows (split = 'train' / 'test') with exact
    counts: rows, n_users (distinct), value_sum (exact decimal when
    ``value_col`` given), min_ts, max_ts, and ``spanning_users`` — the
    number of users appearing in BOTH splits (the entity-leakage
    metric; 0 only if the split is also entity-disjoint).  The split
    frames themselves are cheap map-side filters the caller re-derives;
    this operator is the audit.

    Plan: one conditional tag projection, one (split, user) distinct +
    rollup for users, one user-keyed both-sides check collapsed to a
    1-row broadcast.  All exact aggregates.
    """
    if embargo_days < 0:
        raise ValueError(f"embargo_days must be >= 0, got {embargo_days}")
    t1 = F.lit(test_start).cast("timestamp")
    t0 = t1 - F.expr(f"INTERVAL {int(embargo_days)} DAYS")
    split = (
        F.when(F.col(ts_col) < t0, F.lit("train"))
        .when(F.col(ts_col) >= t1, F.lit("test"))
    )
    tagged = df.withColumn("_split", split).filter(
        F.col("_split").isNotNull()
    )
    aggs = [
        F.count("*").alias("n_rows"),
        F.count_distinct(F.col(user_col)).alias("n_users"),
        F.min(F.col(ts_col)).alias("min_ts"),
        F.max(F.col(ts_col)).alias("max_ts"),
    ]
    if value_col is not None:
        aggs.insert(
            2,
            # exact decimal sum internally; double at the output
            # boundary (driver-safe — see registry output-type contract)
            F.sum(F.col(value_col).cast("string").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("value_sum"),
        )
    per = tagged.groupBy(F.col("_split").alias("split")).agg(*aggs)
    spanning = (
        tagged.select("_split", F.col(user_col).alias("_u"))
        .distinct()
        .groupBy("_u")
        .agg(F.count("*").alias("_k"))
        .filter(F.col("_k") == 2)
        .agg(F.count("*").alias("spanning_users"))
    )
    return per.crossJoin(F.broadcast(spanning))


def lexical_shift_scores(
    docs: DataFrame,
    target_flag_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-flavored data-selection score: how much a document's token
    mix resembles a TARGET subcorpus versus the raw corpus.

    DSIR (Xie et al. 2023) weighs documents by the hashed-n-gram
    log-likelihood ratio ``sum log(p_target / p_raw)``.  The log is
    transcendental (engine-divergent in the last ulp), so this variant
    scores with the LINEAR frequency difference — per token position,
    ``f_target(t) - f_raw(t)`` carried as the exact BIGINT cross
    product ``c_t(t)*N_r - c_r(t)*N_t`` — and averages over the doc:

        shift = SUM_positions (c_t*N_r - c_r*N_t) / (n_tok * N_t * N_r)

    Positive = token mix leans toward the target distribution.  Same
    direction, same plumbing (feature counts from the target and raw
    corpora joined term-keyed onto the doc's tokens, one per-doc
    reduce); swapping in the log-ratio is a one-line change where exact
    cross-engine hashes are not required.

    Returns (id_col, n_tokens, shift) for every input document; empty
    docs get n_tokens=0, shift NULL.  Whitespace tokenization, matching
    the registry's ``_TOKENS`` oracle macro.

    100 TB shape: ONE tokenize+explode feeds the raw counts, the target
    counts (filtered partial agg off the same frame — no second scan),
    and the scoring join; count tables join TERM-KEYED (vocabulary never
    broadcasts); totals are a 1-row broadcast; per-doc sums are BIGINT
    partial aggs on the doc key.
    """
    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.col(target_flag_col).cast("int").alias("_tgt"),
        F.explode(w).alias("term"),
    )
    counts = toks.groupBy("term").agg(
        F.count("*").alias("_cr"),
        F.sum("_tgt").alias("_ct"),
    )
    totals = counts.agg(
        F.sum("_cr").alias("_nr"), F.sum("_ct").alias("_nt")
    )
    contrib = (
        toks.join(counts, "term")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc")
        .agg(
            F.sum(
                F.col("_ct") * F.col("_nr") - F.col("_cr") * F.col("_nt")
            ).alias("_num"),
            F.count("*").alias("n_tokens"),
            F.max("_nr").alias("_nr"),
            F.max("_nt").alias("_nt"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc"))
        .join(contrib, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("bigint")).alias(
                "n_tokens"
            ),
            F.round(
                F.col("_num").cast("double")
                / (
                    F.col("n_tokens") * F.col("_nt") * F.col("_nr")
                ).cast("double"),
                12,
            ).alias("shift"),
        )
    )


def training_order(
    docs: DataFrame,
    id_col: str = "doc_id",
    batch_size: int = 256,
    bucket_bits: int = 10,
) -> DataFrame:
    """Deterministic global training order: shuffle the corpus by the
    md5 hash contract and assign every document its 0-based ordinal and
    micro-batch id — the epoch-shuffle layout step of a training-data
    pipeline, reproducible on any engine/partitioning (unlike
    ``orderBy(rand())``).

    The global ordinal NEVER runs a row-scale single-partition sort:
    the top ``bucket_bits`` bits of the 32-bit shuffle key form 2^bits
    ordered buckets (monotone in the key, so bucket-then-local order IS
    the global (key, id) order); local ordinals are a bucket-keyed
    row_number, bucket offsets come from a window over the
    2^bucket_bits-row counts table (metadata-scale), and the offset
    joins back by bucket.  Same contract as prefixsum.running_total,
    specialized to the dense-rank case.

    Returns (id_col, shuffle_key, ordinal, microbatch).
    """
    from .text import hash32

    if batch_size < 1 or not 1 <= bucket_bits <= 20:
        raise ValueError("batch_size >= 1 and 1 <= bucket_bits <= 20")
    from pyspark.sql import Window

    shift = 2 ** (32 - bucket_bits)
    h = hash32(
        F.concat(F.lit("shuf|"), F.col(id_col).cast("string"))
    )
    base = docs.select(
        F.col(id_col), h.alias("shuffle_key")
    ).withColumn("_bkt", F.expr(f"shuffle_key div {shift}"))
    w_local = Window.partitionBy("_bkt").orderBy("shuffle_key", id_col)
    local = base.withColumn("_rn", F.row_number().over(w_local))
    counts = base.groupBy("_bkt").agg(F.count("*").alias("_cnt"))
    w_off = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0).cast("bigint"))
    ).select("_bkt", "_off")
    out = local.join(F.broadcast(offsets), "_bkt")
    ordinal = F.col("_off") + F.col("_rn") - 1
    return out.select(
        F.col(id_col),
        "shuffle_key",
        ordinal.alias("ordinal"),
        F.expr(f"CAST((_off + _rn - 1) div {batch_size} AS BIGINT)").alias(
            "microbatch"
        ),
    )


def js_divergence(
    df: DataFrame,
    key_col: str,
    part_col: str,
) -> DataFrame:
    """Jensen-Shannon divergence between the two ``part_col`` (0/1)
    halves' distributions over ``key_col`` — the bounded, symmetric
    corpus-drift distance (Lin 1991, public literature): 0 when the
    unigram distributions coincide, 1 bit when they are disjoint.  The
    corpus-level complement of :func:`corpus_dsir_shift`'s per-document
    importance weights: one number saying how far snapshot B's term
    usage has moved from snapshot A's.

    With ``p``/``q`` the per-key shares and ``m = (p + q) / 2``:
    ``jsd_bits = 1/2 sum p log2(p/m) + 1/2 sum q log2(q/m)``, absent
    sides contributing only their present term.  Transcendental log2
    rides the quantized-term contract (mleval.ndcg_at_k): each per-key
    contribution is rounded to 12 digits and summed as DECIMAL(28,12),
    so the sum is exact and partitioning-proof; the closing cast rounds
    to 9.

    Plan: ONE key-keyed partial-agg shuffle (both periods' counts ride
    the same grouping), a 1-row broadcast of the totals, one map-side
    term chain, one global DECIMAL sum.  The key frame is vocabulary-
    sized, never fact-sized; nothing collects.  Output ONE row:
    (n_keys, n_rows_a, n_rows_b, jsd_bits).
    """
    base = df.select(
        F.col(key_col).alias("_k"), F.col(part_col).cast("int").alias("_p")
    ).filter(F.col("_k").isNotNull() & F.col("_p").isin(0, 1))
    per = base.groupBy("_k").agg(
        F.count_if(F.col("_p") == 0).cast("bigint").alias("_ca"),
        F.count_if(F.col("_p") == 1).cast("bigint").alias("_cb"),
    )
    tot = per.agg(
        F.sum("_ca").cast("bigint").alias("_na"),
        F.sum("_cb").cast("bigint").alias("_nb"),
    )
    w = per.crossJoin(F.broadcast(tot))
    p = F.col("_ca").cast("double") / F.col("_na").cast("double")
    q = F.col("_cb").cast("double") / F.col("_nb").cast("double")
    m = (p + q) / F.lit(2.0)
    half = F.lit(0.5)
    contrib = (
        F.when(F.col("_ca") > 0, half * p * F.log2(p / m)).otherwise(0.0)
        + F.when(F.col("_cb") > 0, half * q * F.log2(q / m)).otherwise(0.0)
    )
    terms = w.select(
        F.round(contrib, 12).cast("decimal(28,12)").alias("_t"),
        "_na",
        "_nb",
    )
    agg = terms.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("_na").alias("n_rows_a"),
        F.max("_nb").alias("n_rows_b"),
        F.sum("_t").cast("double").alias("_jsd"),
    )
    return agg.select(
        "n_keys",
        "n_rows_a",
        "n_rows_b",
        F.round(F.col("_jsd"), 9).alias("jsd_bits"),
    )


def source_divergence(
    df: DataFrame,
    key_col: str,
    source_col: str,
) -> DataFrame:
    """Per-source Jensen-Shannon divergence against the REST of the
    corpus — the outlier-source detector built on the
    :func:`js_divergence` math: a source whose unigram distribution
    sits far from its complement is machine-generated, mis-scraped, or
    a different register, exactly what corpus QA quarantines first.

    For each source s with term counts ``c`` and complement counts
    ``C_total - c``: JSD(p_s || p_rest) in bits, absent-side terms
    contributing only their present half.  Terms a source never uses
    still contribute (q side), so the per-source term frame is the
    (sources x vocabulary) cross of two SMALL frames — sources are
    enumerable by construction, the vocabulary frame is corpus-level
    metadata; the fact stream is touched ONCE (the (source, term)
    count shuffle).  Quantized-term DECIMAL sums throughout.

    Output per source: (source, n_tokens, n_rest_tokens, vocab_used,
    jsd_bits).
    """
    base = df.select(
        F.col(source_col).alias("_src"), F.col(key_col).alias("_k")
    ).filter(F.col("_src").isNotNull() & F.col("_k").isNotNull())
    st = base.groupBy("_src", "_k").agg(
        F.count("*").cast("bigint").alias("_c")
    )
    term_tot = st.groupBy("_k").agg(
        F.sum("_c").cast("bigint").alias("_ct")
    )
    src_tot = st.groupBy("_src").agg(
        F.sum("_c").cast("bigint").alias("_ns"),
        F.count("*").cast("bigint").alias("vocab_used"),
    )
    grand = term_tot.agg(F.sum("_ct").cast("bigint").alias("_n"))
    # (sources x vocabulary) grid: the source-totals side is enumerable
    # by construction (broadcast), so the cross resolves to a BNLJ of a
    # sources-bounded build side against the vocabulary frame — never a
    # CartesianProduct of fact-sized inputs.
    grid = term_tot.crossJoin(
        F.broadcast(src_tot.crossJoin(F.broadcast(grand)))
    )
    j = grid.join(st, ["_src", "_k"], "left").select(
        "_src",
        "_ns",
        "vocab_used",
        "_n",
        "_ct",
        F.coalesce(F.col("_c"), F.lit(0).cast("bigint")).alias("_c"),
    )
    p = F.col("_c").cast("double") / F.col("_ns").cast("double")
    q = (F.col("_ct") - F.col("_c")).cast("double") / (
        F.col("_n") - F.col("_ns")
    ).cast("double")
    m = (p + q) / F.lit(2.0)
    half = F.lit(0.5)
    contrib = (
        F.when(F.col("_c") > 0, half * p * F.log2(p / m)).otherwise(0.0)
        + F.when(
            F.col("_ct") - F.col("_c") > 0, half * q * F.log2(q / m)
        ).otherwise(0.0)
    )
    terms = j.select(
        "_src",
        "_ns",
        "vocab_used",
        "_n",
        F.round(contrib, 12).cast("decimal(28,12)").alias("_t"),
    )
    agg = terms.groupBy("_src").agg(
        F.max("_ns").alias("n_tokens"),
        F.max("vocab_used").alias("vocab_used"),
        (F.max("_n") - F.max("_ns")).cast("bigint").alias("n_rest_tokens"),
        F.sum("_t").cast("double").alias("_jsd"),
    )
    return agg.select(
        F.col("_src").alias(source_col),
        "n_tokens",
        "n_rest_tokens",
        "vocab_used",
        F.round(F.col("_jsd"), 9).alias("jsd_bits"),
    )
