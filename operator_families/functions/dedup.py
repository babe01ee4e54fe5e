"""Deduplication operators for large-scale document/embedding pipelines.

Four families, each expressed as shuffled-join plans that scale (no O(n²)
cross product except where an explicit threshold-verified candidate set has
already bounded the pairs):

- exact:     md5 fingerprint group-by.
- n-gram Jaccard: inverted-index self-join on shingles (pairs only form
  where at least one shingle is shared), exact Jaccard on the join counts.
- MinHash + LSH: md5-family minhash signatures, banded candidate
  generation, exact-Jaccard verification of candidates only.
- SimHash: 32-bit sign-aggregated fingerprint, 4-band pigeonhole candidate
  join (hamming<=3 guarantees a shared band), bit_count verification.
- embedding cosine: exact double-precision cosine over id-ordered pairs —
  expression plan, executor-side blocked Arrow kernel, and a banded
  hyperplane-LSH sub-quadratic path.
- clustering: connected components over any pair graph (min-label
  propagation) + the keep-one corpus filter.

At 100 TB the candidate-generation joins shuffle on shingle/band keys, so
hot shingles (very common n-grams) are the skew risk — ``ngram_jaccard``
drops shingles above ``df_cap`` document frequency (standard practice; also
removes pairs that share only boilerplate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .text import fingerprint, hash32, tokens, word_shingles


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group exact duplicates by normalized-content fingerprint."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("representative_id"),
        )
    )


def _spread(df: DataFrame) -> DataFrame:
    """Repartition tiny inputs up to the session's default parallelism.

    Small parquet files arrive as one input split, which would serialize
    every downstream stage; the exchange also materializes the projection
    beneath it exactly once, so expression trees referenced by several
    downstream branches aren't recomputed per branch.  At real scale the
    input already has >= defaultParallelism partitions and this is a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _materialize(df: DataFrame) -> DataFrame:
    """Compute-once barrier for intermediates consumed by several branches.

    Self-join plans reference the same subtree from both sides (and often a
    third aggregation branch); Catalyst's exchange reuse does not reliably
    kick in across AQE-replanned join branches, so the subtree would be
    recomputed per consumer.  ``localCheckpoint`` materializes it exactly
    once.  Eager on purpose: a lazy checkpoint is racy when several join
    branches of the SAME action hit it concurrently — each branch then
    recomputes the full subtree.  All checkpointed intermediates here are
    small by construction (signatures / per-doc arrays, not pair sets); at
    persistent-cluster scale a persisted table serves the same role.
    """
    return df.localCheckpoint(eager=True)


def _shingle_arrays(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc, sh_arr) with the shingle array materialized behind an exchange."""
    return _spread(
        df.select(
            F.col(id_col).alias("doc"),
            word_shingles(tokens(F.col(text_col)), n).alias("sh_arr"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    df_cap: int | None = None,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact word-n-gram Jaccard similarity.

    Inverted-index plan: explode shingles -> self-join on shingle (equi-join,
    hash-partitioned) -> shared counts -> join per-doc sizes -> filter.
    Per-doc sizes come straight from the shingle-array length (no second
    explode+groupBy shuffle).  ``arrays`` is a prebuilt (materialized)
    ``_shingle_arrays`` frame — the persisted shingle-set artifact a real
    dedup pipeline computes once per corpus; built inline when omitted.
    """
    if arrays is None:
        arrays = _materialize(_shingle_arrays(df, text_col, id_col, n))
    sh = arrays.select("doc", F.explode("sh_arr").alias("shingle"))
    if df_cap is not None:
        hot = sh.groupBy("shingle").count().filter(F.col("count") > df_cap)
        sh = _materialize(sh.join(hot.select("shingle"), "shingle", "left_anti"))
        sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    else:
        sizes = arrays.select("doc", F.size("sh_arr").alias("sz"))

    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram CONTAINMENT — shared shingles
    over the SMALLER doc's shingle count — the asymmetric twin of
    :func:`ngram_jaccard_pairs` that catches a short document embedded
    whole inside a long one, where Jaccard dilutes toward zero (a quote
    page inside an aggregator, a chunk inside its source).  Standard in
    the set-similarity-join literature as the overlap/containment
    predicate next to Jaccard.

    Same inverted-index plan (shingle-keyed self-equi-join, shared
    counts, size stitch); ``containment = shared / least(sz_a, sz_b)``
    rounded 4.  Returns (doc_a, doc_b, shared, sz_a, sz_b, containment)
    at or above ``threshold``.
    """
    if arrays is None:
        arrays = _materialize(_shingle_arrays(df, text_col, id_col, n))
    sh = arrays.select("doc", F.explode("sh_arr").alias("shingle"))
    sizes = arrays.select("doc", F.size("sh_arr").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    cont = F.col("shared") / F.least(F.col("sz_a"), F.col("sz_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "shared", "sz_a", "sz_b",
            F.round(cont, 4).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def flag_contaminated(
    train: DataFrame,
    heldout: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    train_arrays: DataFrame | None = None,
    broadcast_heldout: bool = True,
) -> DataFrame:
    """Train/eval decontamination: train docs sharing any word n-gram with
    the heldout set, with the count of distinct shared shingles.

    The contamination check every training corpus needs before a benchmark
    is trusted: any train document that shares an ``n``-gram with an eval
    document leaks.  Returns (id_col, n_shared) for flagged docs only —
    anti-join the result against the corpus to scrub.

    Scale shape: the heldout side is a benchmark/eval set — thousands of
    docs against a corpus of billions — so its distinct shingle set is
    BROADCAST and the corpus streams through a map-side hash join; no
    corpus shuffle at all.  Set ``broadcast_heldout=False`` only if the
    heldout set is itself corpus-sized (falls back to a hash-partitioned
    equi-join).  ``train_arrays`` reuses a prebuilt ``_shingle_arrays``
    artifact.
    """
    if train_arrays is None:
        train_arrays = _shingle_arrays(train, text_col, id_col, n)
    tr = train_arrays.select("doc", F.explode("sh_arr").alias("shingle"))
    ho = (
        _shingle_arrays(heldout, text_col, id_col, n)
        .select(F.explode("sh_arr").alias("shingle"))
        .distinct()
    )
    if broadcast_heldout:
        ho = F.broadcast(ho)
    return (
        tr.join(ho, "shingle")
        # per-doc shingles are already distinct (word_shingles
        # array_distinct), so count(*) is the distinct shared count
        .groupBy(F.col("doc").alias(id_col))
        .agg(F.count("*").alias("n_shared"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.2,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    Signature: ``minhash_i(doc) = min over shingles of h32(i || ':' || s)``.
    Docs sharing an identical band (``num_hashes/bands`` consecutive
    signature values) become candidates; candidates are verified with exact
    Jaccard so the output is a deterministic (LSH-recall) subset of
    ``ngram_jaccard_pairs``.
    """
    rows_per_band = num_hashes // bands
    if arrays is None:
        arrays = _materialize(_shingle_arrays(df, text_col, id_col, n))
    sh = arrays.select("doc", F.explode("sh_arr").alias("shingle"))
    # All num_hashes minhashes in ONE aggregation pass (no seed explode:
    # that would push num_hashes x as many rows through the shuffle).
    sigs = sh.groupBy("doc").agg(
        *[
            F.min(hash32(F.concat(F.lit(f"{s}:"), F.col("shingle")))).alias(
                f"mh{s}"
            )
            for s in range(num_hashes)
        ]
    )
    bands_df = _materialize(sigs).select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"mh{band * rows_per_band + r}").cast(
                                    "string"
                                )
                                for r in range(rows_per_band)
                            ],
                        ).alias("band_key"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "bk.band", "bk.band_key")
    a, b = bands_df.alias("a"), bands_df.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    # Verify CANDIDATES ONLY: join each side's shingle array (shared with
    # the signature pass via the checkpoint above) and compute exact
    # Jaccard via array_intersect — work proportional to the candidate
    # set, not to the full shared-shingle pair space.
    aa = arrays.select(F.col("doc").alias("doc_a"), F.col("sh_arr").alias("arr_a"))
    bb = arrays.select(F.col("doc").alias("doc_b"), F.col("sh_arr").alias("arr_b"))
    shared = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = shared / (F.size("arr_a") + F.size("arr_b") - shared)
    return (
        cands.join(aa, "doc_a")
        .join(bb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash32(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """32-bit SimHash over distinct tokens (sign-aggregated bit votes)."""
    tok = _spread(
        df.select(
            F.col(id_col).alias("doc"),
            F.array_distinct(tokens(F.col(text_col))).alias("toks"),
        )
    ).select("doc", F.explode("toks").alias("tok")).withColumn(
        "h", hash32(F.col("tok"))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(32)
    ]
    agg = tok.groupBy("doc").agg(*votes)
    sim = None
    for i in range(32):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select("doc", sim.cast("bigint").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    sims: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs with simhash hamming distance <= max_hamming.

    Candidate generation by 4-band pigeonhole (hamming<=3 implies at least
    one identical 8-bit band), then exact bit_count verification — the
    banded join is the 100 TB path; no cross product is formed.
    """
    if sims is None:
        sims = _materialize(simhash32(df, text_col, id_col))
    banded = sims.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), 8 * i)
                        .bitwiseAND(255)
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc", "simhash", "bk.band", "bk.key")
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
    doubling_gate: int | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs -> (doc, cluster_rep).

    The step after pair generation in every dedup pipeline: transitively
    connected docs form one duplicate cluster; the representative is the
    cluster's minimum id (the keep-one policy).  Min-label propagation
    WITH pointer doubling (both public algorithms — the shortcutting
    idea of Shiloach-Vishkin / the star operations of the MapReduce CC
    literature): each round every node takes the min of (its own label,
    its neighbors' labels, its label's label).  The neighbor step flows
    labels along edges; the label-of-label step halves the pointer-chain
    depth each round, so a component of diameter d converges in
    O(gate + log d) rounds instead of O(d) — at 100 TB a single
    long-chain component no longer dictates the round count.  The jump
    engages from round ``doubling_gate`` (default ``max(2, max_iter //
    4)``): shallow components — the common dedup case — converge plain
    and never pay the extra join, while the caller's round budget sizes
    the rescue point for deep ones (measured tradeoff in SCALE.md).

    **Round-budget sizing (deep graphs)**: convergence needs roughly
    ``gate + log2(diameter)`` rounds, so the adaptive default converges
    any component with ``log2(diameter) <= 3/4 * max_iter`` — at the
    default ``max_iter=20`` that is diameter ~2^15; deeper chains raise
    the loud non-convergence ``RuntimeError`` (never silently-wrong
    output).  Deep-graph callers should raise ``max_iter`` (the gate
    scales with it, so doubling headroom grows 3x faster than the gate
    moves) or pass an explicit small ``doubling_gate`` (e.g. 2) to trade
    early-round jump-join cost for maximum depth rescue.  Versus the
    pre-r9 fixed gate of 2, the adaptive default narrows the
    default-budget rescue range from ~2^18 to ~2^15 — a deliberate trade
    against the measured 2x per-round join cost on shallow graphs.

    Per round: one
    edge-keyed shuffle join + aggregation, plus one node-sized
    label-to-label equi-join (labels frame is node-sized, exact
    equi-keys, no fan-out).  Convergence is an ``observe`` metric (sum
    of changed labels) riding the SAME action that checkpoints the
    round's labels — exactly ONE Spark job per round, no separate probe
    pass; non-convergence within ``max_iter`` raises rather than
    returning silently-wrong clusters.
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = _materialize(
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    labels = _materialize(
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("label", F.col("doc"))
    )
    gate = max(2, max_iter // 4) if doubling_gate is None else doubling_gate

    def _propagate(cur: DataFrame) -> tuple[DataFrame, F.Column]:
        """One plain propagation step over ``cur`` (no jump): the joined
        frame plus the min-of-(own, neighbor) column."""
        nbr = (
            edges.join(cur.withColumnRenamed("doc", "src"), "src")
            .groupBy(F.col("dst").alias("doc"))
            .agg(F.min("label").alias("nbr_min"))
        )
        out = cur.join(nbr, "doc", "left")
        return out, F.least(
            F.col("label"), F.coalesce("nbr_min", F.col("label"))
        )

    changed = 1
    rnd = 0
    while rnd < max_iter:
        # Pre-gate ROUND FUSION: while the doubling jump is disengaged, run
        # TWO plain propagation steps inside ONE checkpointed job — at the
        # sf0.1 scheduling floor (~0.2 s/job) the fixpoint's cost is job
        # count, not shuffle bytes, and the step-1 intermediate has exactly
        # two consumers (the step-2 neighbor join and its own left side),
        # which Catalyst's ReusedExchange covers without a barrier.  The
        # label trajectory is IDENTICAL to single-step rounds (each step
        # applies the same update), so convergence depth and final labels
        # are unchanged; only the job count halves for the plain phase.
        # Jump-engaged steps stay single-step: fusing them would give the
        # lazy step-1 frame a THIRD consumer (its own jump table) — the
        # re-embedding pathology the r11 exploration hit — while a stale
        # (round-start) jump table measurably loses a doubling step, which
        # the deep-chain budget (ceil(log2 d) + 2 rounds) cannot afford.
        if rnd + 1 < min(gate, max_iter):
            out1, best1 = _propagate(labels)
            l1 = out1.select("doc", best1.alias("label"))
            out2, best2 = _propagate(l1)
            obs = Observation()
            new_labels = _materialize(
                out2.select(
                    "doc",
                    best2.alias("label"),
                    (best2 < F.col("label")).cast("long").alias("_chg"),
                ).observe(obs, F.sum("_chg").alias("n_changed"))
            )
            # step 2 making no change means step-1's labels were already a
            # propagation fixpoint (labels only ever decrease), so checking
            # the fused pair's SECOND step alone is a sound convergence test.
            changed = obs.get["n_changed"] or 0
            labels = new_labels.drop("_chg")
            rnd += 2
            if changed == 0:
                break
            continue
        with_nbr, plain_best = _propagate(labels)
        srcs = [plain_best]
        # Pointer doubling: label(label(u)) — halves pointer-chain depth
        # so a deep path converges in O(gate + log d) rounds instead of
        # O(d).  Gated ADAPTIVELY to round >= max(2, max_iter // 4): the
        # caller's round budget encodes its depth expectation, and the
        # r9 measurement at sf0.1 (branchy doc graph, depth ~24) showed
        # the jump join costs ~2x per round while cutting only 24 -> 20
        # rounds — engaging at round 2 cost 8.2 s vs 4.3 s plain, while
        # gate = max_iter//4 = 16 lands at 5.6 s AND keeps the deep-
        # chain rescue (a component deeper than the gate still converges
        # in gate + O(log d); shallow clusters — the common dedup case —
        # never pay the join at all).  See SCALE.md "pointer doubling".
        # MEASURED NEGATIVE RESULT (r8): restricting the jump's build
        # side to last-round-changed labels looks frontier-cheap but
        # breaks the O(log d) bound — a pointer target that has already
        # CONVERGED (label = component min, never changes again) is
        # exactly the shortcut a distant node still needs, and the
        # filter removes it (deep-chain pytest regressed 9 -> >9
        # rounds); the build side must stay the full node-sized frame.
        if rnd >= gate:
            jump = labels.select(
                F.col("doc").alias("_jdoc"),
                F.col("label").alias("jump_min"),
            )
            with_nbr = with_nbr.join(
                jump, F.col("label") == F.col("_jdoc"), "left"
            )
            srcs.append(F.coalesce("jump_min", F.col("label")))
        # The changed-count rides the checkpoint action as an observe
        # metric (verified: Observation fires on eager localCheckpoint),
        # so each round is one job — not checkpoint + probe.
        obs = Observation()
        best = F.least(*srcs)
        new_labels = _materialize(
            with_nbr.select(
                "doc",
                best.alias("label"),
                (best < F.col("label")).cast("long").alias("_chg"),
            )
            .observe(obs, F.sum("_chg").alias("n_changed"))
        )
        changed = obs.get["n_changed"] or 0
        labels = new_labels.drop("_chg")
        rnd += 1
        if changed == 0:
            break
    if changed != 0:
        # Unconverged labels are silently-wrong clusters; refuse them.
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds "
            "(component deeper than max_iter) — raise max_iter"
        )
    return labels.select("doc", F.col("label").alias("cluster_rep"))


def keep_representatives(
    df: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop every clustered doc except its representative (anti-join on the
    loser set) — docs in no cluster pass through untouched."""
    losers = clusters.filter(F.col("doc") != F.col("cluster_rep")).select(
        F.col("doc").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def cosine(a, b) -> F.Column:
    """Exact double-precision cosine, element-order-stable summation.

    Both operands cast elementwise to double BEFORE multiply/accumulate so
    the DuckDB oracle (same order, same casts) is bit-identical.
    """
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(
        F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda a_, x: a_ + x)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(bd, lambda x: x * x), F.lit(0.0), lambda a_, x: a_ + x)
    )
    return dot / (na * nb)


def _norm(vec_double) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(vec_double, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _dot(va, vb, dim: int | None) -> F.Column:
    """Sequential left-fold dot product, bit-identical across formulations.

    With ``dim`` known the sum is unrolled into plain ``+``/``*`` arithmetic
    (whole-stage-codegen friendly; higher-order ``aggregate`` lambdas are
    interpreted per element).  The unrolled chain starts at ``0.0`` so its
    association order ((0.0+x0)+x1)+... is exactly the fold's.
    """
    if dim is None:
        return F.aggregate(
            F.zip_with(va, vb, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    dot = F.lit(0.0)
    for j in range(1, dim + 1):
        dot = dot + F.element_at(va, j) * F.element_at(vb, j)
    return dot


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicates: cosine > threshold over id-ordered pairs.

    Exact all-pairs baseline (the verification-quality reference);
    ``simsearch.lsh_bucket_topk`` shows the sub-quadratic scale path.
    Norms are computed ONCE per row before the pair join — the exchange
    under ``_spread`` materializes (v, norm) so neither is recomputed per
    O(n²) pair — and the dot/(na*nb) combination order matches the oracle
    exactly.  Pass ``dim`` to unroll the dot product into codegen'd
    arithmetic (~10x over the interpreted higher-order fold).
    """
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    normed = _spread(
        df.select(F.col(id_col).alias("id"), vd.alias("v"), _norm(vd).alias("nrm"))
    )
    a = normed.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = normed.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    dot = _dot(F.col("va"), F.col("vb"), dim)
    cos = F.round(dot / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") > threshold)
    )


def embedding_near_dup_pairs_blocked(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
    n_blocks: int = 8,
) -> DataFrame:
    """Block-nested-loop embedding near-dup with a vectorized Arrow kernel.

    Same semantics as ``embedding_near_dup_pairs``; this is the fast path.
    Entirely executor-side — NO corpus data ever touches the driver:

    1. Both sides are grouped into ``n_blocks`` id-hash blocks
       (``collect_list`` per block — a plain aggregation).
    2. The probe blocks fan out over every build-block id and meet the
       build blocks through a shuffle-hash equi-join (hinted, so Catalyst
       never swaps in a driver-collecting broadcast), yielding
       ``n_blocks²`` block-pair rows.
    3. An Arrow kernel unpacks each block pair into numpy matrices and
       computes the block product.  The dot/norm accumulations run
       per-DIMENSION across the whole block in float64, so every pair's
       value is the same left-fold ((0.0+x1)+x2)+... the SQL form and the
       DuckDB oracle compute — bit-identical, just vectorized.

    The Python node is also a pushdown barrier: Catalyst cannot fold the
    threshold predicate into a nested-loop join condition (which made the
    pure-expression plan evaluate the full dot product once per ORDERED
    pair inside the join and again in the projection).  The kernel emits a
    conservative superset (margin 1e-3 below the threshold, raw cosine);
    the exact round-then-compare happens in Spark expressions above it.

    Every unordered pair lands in exactly one block pair (probe block is a
    function of id_a, build block of id_b), so no dedup pass is needed.
    At 100 TB size ``n_blocks`` so one block is a few hundred MB; work and
    shuffle volume are the inherent O(n²/n_blocks) of exact all-pairs —
    ``embedding_lsh_pairs`` is the sub-quadratic path.
    """
    import numpy as np
    import pandas as pd

    src = _spread(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))

    def blocked(key: str) -> DataFrame:
        return src.groupBy(
            F.pmod(F.col("id"), F.lit(n_blocks)).alias(key)
        ).agg(
            F.collect_list("id").alias(f"ids_{key}"),
            F.collect_list("v").alias(f"vecs_{key}"),
        )

    pairs = (
        blocked("pid")
        .withColumn("cid", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
        .join(blocked("cid").hint("shuffle_hash"), "cid")
    )
    margin = threshold - 1e-3

    def kernel(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids_a = np.asarray(row["ids_pid"], dtype=np.int64)
                ids_b = np.asarray(row["ids_cid"], dtype=np.int64)
                mat_a = np.array(list(row["vecs_pid"]), dtype=np.float64)
                mat_b = np.array(list(row["vecs_cid"]), dtype=np.float64)
                ndim = mat_a.shape[1]
                dot = np.zeros((len(ids_a), len(ids_b)))
                norm_a = np.zeros(len(ids_a))
                norm_b = np.zeros(len(ids_b))
                for j in range(ndim):
                    dot += mat_a[:, j : j + 1] * mat_b[None, :, j]
                    norm_a += mat_a[:, j] * mat_a[:, j]
                    norm_b += mat_b[:, j] * mat_b[:, j]
                cos = dot / (np.sqrt(norm_a)[:, None] * np.sqrt(norm_b)[None, :])
                keep = (ids_a[:, None] < ids_b[None, :]) & (cos > margin)
                ai, bi = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "id_a": ids_a[ai],
                        "id_b": ids_b[bi],
                        "cos_raw": cos[ai, bi],
                    }
                )

    out = pairs.mapInPandas(kernel, "id_a bigint, id_b bigint, cos_raw double")
    return out.select(
        "id_a", "id_b", F.round(F.col("cos_raw"), 6).alias("cosine")
    ).filter(F.col("cosine") > threshold)


def embedding_lsh_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.35,
    num_planes: int = 8,
    bands: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index: DataFrame | None = None,
) -> DataFrame:
    """LSH-prefiltered embedding near-dup: the sub-quadratic 100 TB path.

    Candidate pairs form ONLY inside hyperplane-LSH buckets (banded: the
    ``num_planes`` sign bits split into ``bands`` keys; a pair is a
    candidate when ANY band matches — equi-join on (band, key), hash
    shuffle, no cross product).  Candidates are then verified with the
    exact rounded cosine, so the output is a deterministic (LSH-recall)
    subset of ``embedding_near_dup_pairs``.  ``index`` is a prebuilt
    ``simsearch.lsh_build`` frame — the same offline artifact the ANN
    queries probe; built inline when omitted.
    """
    from .simsearch import lsh_build

    if num_planes % bands:
        # Integer division would silently drop the high sign bits (8 planes
        # / 3 bands → only 6 bits banded), quietly lowering candidate recall
        # and desynchronizing the banding from any oracle built with all
        # planes.  Fail loud instead.
        raise ValueError(
            f"num_planes ({num_planes}) must be divisible by bands ({bands})"
        )
    tagged = (
        index
        if index is not None
        else lsh_build(df, dim, num_planes, vec_col, id_col)
    )
    bits_per_band = num_planes // bands
    mask = (1 << bits_per_band) - 1

    def band_key(sig_col, band: int) -> F.Column:
        return F.shiftright(sig_col, band * bits_per_band).bitwiseAND(mask)

    banded = tagged.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_key(F.col("_sig"), b).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", "_sig", "bk.band", "bk.key")
    a, b = banded.alias("a"), banded.alias("b")
    # Exactly-once emission via the FIRST matching band (all earlier bands
    # must differ) — the Q6 first-shared-bucket trick.  Replaces a
    # DISTINCT over the candidate set, which at corpus scale is a full
    # shuffle of the largest intermediate.
    first_match = F.when(F.col("a.band") == 0, F.lit(True))
    for bi in range(1, bands):
        earlier_differ = None
        for bb in range(bi):
            differs = band_key(F.col("a._sig"), bb) != band_key(
                F.col("b._sig"), bb
            )
            earlier_differ = (
                differs if earlier_differ is None else earlier_differ & differs
            )
        first_match = first_match.when(F.col("a.band") == bi, earlier_differ)
    cands = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a._id") < F.col("b._id"))
        & first_match,
    ).select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
    # Verify with norms computed ONCE per vector before the join (the
    # original per-pair norm recomputation dominated the candidate pass),
    # and the zip-fold dot: measured 4x FASTER than the unrolled
    # element_at chain here — 128 element_at calls per row blow the
    # whole-stage-codegen budget on the join output, while the fold stays
    # one tight loop.  Fold order is `cosine()`'s, so the oracle formula
    # is unchanged.
    vd = F.transform(F.col("_v"), lambda x: x.cast("double"))
    normed = tagged.select("_id", vd.alias("arr"), _norm(vd).alias("nrm"))
    va = normed.select(
        F.col("_id").alias("id_a"), F.col("arr").alias("arr_a"),
        F.col("nrm").alias("na"),
    )
    vb = normed.select(
        F.col("_id").alias("id_b"), F.col("arr").alias("arr_b"),
        F.col("nrm").alias("nb"),
    )
    dot = _dot(F.col("arr_a"), F.col("arr_b"), None)
    cos = F.round(dot / (F.col("na") * F.col("nb")), 6)
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") > threshold)
    )


def incremental_near_dup(
    new_docs: DataFrame,
    index_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    index_arrays: DataFrame | None = None,
) -> DataFrame:
    """Near-dup check of a NEW batch against an EXISTING corpus index —
    the nightly-ingest shape of dedup: the standing corpus is already
    deduplicated and its shingle artifact persisted; only the day's batch
    is new.  Returns (new_id, index_id, jaccard) for every cross pair at
    or above ``threshold`` — anti-join the new batch on ``new_id`` to
    admit only novel documents.

    Scale shape: the candidate generator is the shingle-keyed equi-join of
    the (small) batch explode against the (huge) index explode — the index
    side never self-joins, so cost is bounded by the batch's shingle
    postings, not the corpus's square.  Per-doc sizes ride the shingle
    arrays (no second explode+groupBy).  ``index_arrays`` is the persisted
    ``_shingle_arrays`` artifact; built inline when omitted.
    """
    new_arr = _shingle_arrays(new_docs, text_col, id_col, n)
    if index_arrays is None:
        index_arrays = _shingle_arrays(index_docs, text_col, id_col, n)
    new_sh = new_arr.select(
        F.col("doc").alias("_new"), F.explode("sh_arr").alias("shingle")
    )
    idx_sh = index_arrays.select(
        F.col("doc").alias("_idx"), F.explode("sh_arr").alias("shingle")
    )
    shared = (
        new_sh.join(idx_sh, "shingle")
        .groupBy("_new", "_idx")
        .agg(F.count("*").alias("shared"))
    )
    sn = new_arr.select(
        F.col("doc").alias("_new"), F.size("sh_arr").alias("sz_n")
    )
    si = index_arrays.select(
        F.col("doc").alias("_idx"), F.size("sh_arr").alias("sz_i")
    )
    jac = F.col("shared") / (F.col("sz_n") + F.col("sz_i") - F.col("shared"))
    return (
        shared.join(sn, "_new")
        .join(si, "_idx")
        .select(
            F.col("_new").alias("new_id"),
            F.col("_idx").alias("index_id"),
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: tuple[int, int] = (3, 5),
    arrays: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard near-dup pairs via PREFIX FILTERING (the PPJoin-family
    candidate generator — Chaudhuri et al. 2006, Xiao et al. 2008).

    Under any global shingle order, ``J(A,B) >= t`` forces the first
    ``|S| - ceil(t*|S|) + 1`` shingles of each side (its *prefix*) to
    intersect — so only prefix postings join, not the full inverted
    index.  With the rare-first order used here (global df ascending,
    shingle tiebreak) the hottest shingles never generate candidates at
    all: at high thresholds this shrinks the candidate join's postings
    by ~t of each doc's length AND drops the worst O(bucket^2) buckets,
    the same blowup ``df_cap`` fences off for the full-index operator —
    prefix filtering is the principled version of that cap (no recall
    loss, exactness preserved).

    ``threshold`` is a RATIONAL (num, den): prefix length uses
    ``ceil(num*sz/den) = (num*sz + den - 1) div den`` and the final
    filter is the integer cross-multiplication
    ``den*shared >= num*union`` — no float boundary anywhere, so the
    kept pair set is bit-identical cross-engine.  Output matches
    ``ngram_jaccard_pairs`` at the same threshold (equivalence-tested):
    (doc_a, doc_b, jaccard).

    Plan: df count (shingle-keyed), per-doc sort of its OWN shingles
    (doc-keyed agg, buffer bounded by doc length), prefix explode,
    prefix-postings equi-join, candidate-bounded exact verify against
    the full shingle arrays.
    """
    num, den = threshold
    if arrays is None:
        arrays = _materialize(_shingle_arrays(df, text_col, id_col, n))
    arrays = arrays.filter(F.size("sh_arr") > 0)
    sh = arrays.select("doc", F.explode("sh_arr").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    # global order key: zero-padded df then shingle (portable string sort)
    key = F.concat(
        F.lpad(F.col("_df").cast("string"), 10, "0"),
        F.lit("|"),
        F.col("shingle"),
    )
    packed = (
        sh.join(dfreq, "shingle")
        .groupBy("doc")
        .agg(F.array_sort(F.collect_list(key)).alias("_l"))
    )
    sz = F.size("_l")
    pref_len = sz - F.expr(f"({num} * size(_l) + {den - 1}) div {den}") + 1
    prefix = F.transform(
        F.slice(F.col("_l"), 1, pref_len), lambda x: F.substring(x, 12, 1 << 30)
    )
    # MEASURED NEGATIVE RESULT (r11 barrier-only, r12 barrier+broadcast):
    # the self-join consumes this postings subtree from both sides with NO
    # ReusedExchange (plan operators 1-19 duplicated as 20-38), yet every
    # attempt to compute it once has LOST.  r11: bare localCheckpoint
    # erased size statistics, BHJ degraded to a shuffle join, 5.63 vs
    # 3.86 s.  r12: checkpoint + observe row count + explicit F.broadcast
    # of the verified-small side (107k postings at sf0.1, bound 4M) KEPT
    # the BroadcastHashJoin and still measured 6.15 vs 4.56 s min over 3
    # one-session alternations — the barrier serializes two jobs
    # (materialize, then broadcast-collect + probe) where the recompute
    # plan runs both postings builds CONCURRENTLY inside one job on idle
    # cores.  Recompute-behind-broadcast wins whenever the cluster has
    # spare parallelism; leave the double subtree alone.
    pre = packed.select("doc", F.explode(prefix).alias("shingle"))
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    arr_a = arrays.select(
        F.col("doc").alias("doc_a"), F.col("sh_arr").alias("_aa")
    )
    arr_b = arrays.select(
        F.col("doc").alias("doc_b"), F.col("sh_arr").alias("_ab")
    )
    inter = F.size(F.array_intersect("_aa", "_ab"))
    union = F.size("_aa") + F.size("_ab") - inter
    return (
        cand.join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .filter(F.lit(den) * inter >= F.lit(num) * union)
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / union.cast("double"), 4).alias("jaccard"),
        )
    )


def survivorship_pick(
    clusters: DataFrame,
    docs: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
    cluster_col: str = "cluster_rep",
    doc_col: str = "doc",
) -> DataFrame:
    """Canonical-copy selection over converged duplicate clusters — the
    step AFTER clustering that every dedup pipeline actually ships: of
    each cluster's members, keep the best copy by an explicit quality
    criterion (default: longest ``n_chars``), tie-broken on the lowest
    id so the pick is total-ordered and engine-portable.  The min-id
    cluster label is a graph artifact, NOT a quality judgment — this
    operator is where the survivor decision becomes explicit and
    auditable.

    Plan: one id-keyed equi-join of the cluster frame (pair-graph-node
    sized, never the corpus) against the doc attributes, ONE
    cluster-keyed window for the rank — no collects.  Output per
    clustered doc: (doc_id, cluster_rep, n_members, quality, pick_rank,
    is_canonical).
    """
    from pyspark.sql import Window

    j = clusters.select(
        F.col(doc_col).alias("_doc"), F.col(cluster_col).alias("_rep")
    ).join(
        docs.select(
            F.col(id_col).alias("_doc"),
            F.col(quality_col).alias("_q"),
        ),
        "_doc",
    )
    w = Window.partitionBy("_rep").orderBy(F.desc("_q"), F.asc("_doc"))
    wc = Window.partitionBy("_rep")
    t = j.withColumn("pick_rank", F.row_number().over(w)).withColumn(
        "n_members", F.count("*").over(wc).cast("bigint")
    )
    return t.select(
        F.col("_doc").alias(id_col),
        F.col("_rep").alias(cluster_col),
        "n_members",
        F.col("_q").alias("quality"),
        F.col("pick_rank").cast("int").alias("pick_rank"),
        (F.col("pick_rank") == 1).alias("is_canonical"),
    )
