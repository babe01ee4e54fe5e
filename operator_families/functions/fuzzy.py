"""Bounded edit-distance (Levenshtein) join — dictionary correction for
corpus tokens.

The LLM-pipeline use case: map every distinct corpus token to the
dictionary entries within a small edit distance (typo normalization,
OCR-error folding, vocabulary grounding).  The reference has no string
similarity surface; semantics follow the public Levenshtein unit-cost
definition that both Spark (``F.levenshtein``) and DuckDB
(``levenshtein``) implement identically — integer distances, so the
filter boundary is exact cross-engine.

Scale shape: the corpus side first reduces to DISTINCT tokens with
occurrence counts (one token-keyed shuffle — the only fact-sized
exchange).  The dictionary side is vocabulary-sized by assumption; it
explodes to one row per length in ``[len-d, len+d]`` (a sound complete
blocking key: edit distance d cannot change length by more than d) and
broadcasts.  The join is then a broadcast equi-join on token length with
the Levenshtein verify as a residual — never a cartesian, and the
verify-pair count is bounded by tokens x (dictionary entries within the
length band), not tokens x dictionary.

For dictionary sides too large to broadcast, compose with the q-gram
prefix filtering already in dedup.prefix_filter_pairs (PPJoin-class) —
length banding alone does not bound candidates when both sides are
corpus-scale; that composition is the documented path, not this helper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def edit_distance_join(
    tokens: DataFrame,
    dictionary: DataFrame,
    max_dist: int,
    token_col: str = "token",
    dict_col: str = "word",
) -> DataFrame:
    """All (token, word) pairs with ``levenshtein(token, word) <=
    max_dist``.

    ``tokens`` may carry extra columns (e.g. occurrence counts) — they
    pass through.  Returns the input token columns plus ``match`` (the
    dictionary word) and ``dist`` (the integer edit distance).
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    banded = dictionary.select(
        F.col(dict_col).alias("match"),
        F.explode(
            F.sequence(
                F.greatest(
                    F.length(dict_col) - max_dist, F.lit(0)
                ),
                F.length(dict_col) + max_dist,
            )
        ).alias("_band"),
    )
    joined = tokens.join(
        F.broadcast(banded),
        F.length(F.col(token_col)) == F.col("_band"),
    )
    # compute the DP once and filter on the materialized column — Spark
    # does not common-subexpression-eliminate across Filter and Project
    return (
        joined.withColumn(
            "dist", F.levenshtein(F.col(token_col), F.col("match"))
        )
        .filter(F.col("dist") <= max_dist)
        .drop("_band")
    )


def blocked_text_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    length_bucket: int = 8,
    max_block: int = 100,
    prefix_chars: int = 64,
) -> DataFrame:
    """Candidate pairs for fuzzy document comparison via inverted-block
    join on ``(first token, token-count // length_bucket)`` — a cheap
    complete-enough blocking for near-identical texts (a near-duplicate
    rarely changes its first word AND its length bucket; recall audits
    against the shingle pipeline belong to dedup_lsh_recall's pattern).

    Blocks larger than ``max_block`` are EXCLUDED deterministically —
    not truncated — so both engines drop exactly the same hot blocks
    (the "the ..."-prefix whale fence; an oracle mirrors the same
    HAVING).  Scale shape: one block-keyed shuffle to size blocks, one
    equi-join on the block key with ``id_a < id_b``; candidate count is
    bounded by sum(block_size^2) <= max_block * corpus, never the
    corpus square.  Texts travel truncated to ``prefix_chars`` so the
    downstream O(len^2) verify is constant-bounded per pair.

    Returns (doc_a, doc_b, txt_a, txt_b).
    """
    t = F.trim(F.lower(F.col(text_col)))
    base = docs.filter(t != "").select(
        F.col(id_col).alias("_id"),
        F.substring(t, 1, prefix_chars).alias("_tx"),
        F.split(t, r"\s+")[0].alias("_w1"),
        F.expr(
            f"size(split(trim(lower({text_col})), '\\\\s+')) "
            f"div {length_bucket}"
        ).alias("_lb"),
    )
    ok_blocks = (
        base.groupBy("_w1", "_lb")
        .count()
        .filter(F.col("count") <= max_block)
        .drop("count")
    )
    kept = base.join(F.broadcast(ok_blocks), ["_w1", "_lb"])
    a = kept.select(
        F.col("_id").alias("doc_a"), F.col("_tx").alias("txt_a"),
        "_w1", "_lb",
    )
    b = kept.select(
        F.col("_id").alias("doc_b"), F.col("_tx").alias("txt_b"),
        "_w1", "_lb",
    )
    return a.join(b, ["_w1", "_lb"]).filter(
        F.col("doc_a") < F.col("doc_b")
    ).select("doc_a", "doc_b", "txt_a", "txt_b")


#: Per-worker DuckDB connection for the batch kernels, guarded by PID so a
#: reused Python worker (spark.python.worker.reuse=true) keeps it across
#: tasks while a freshly forked worker never inherits a parent's handle
#: (guide §4.5 — heavyweight init once per worker, not per task/batch).
_DUCK_CON: tuple[int, object] | None = None
#: Handles a forked worker inherited, kept referenced so the child never
#: closes or destroys them: DuckDB is not fork-safe.
_INHERITED: list = []


def _duck_con():
    global _DUCK_CON
    import os

    pid = os.getpid()
    if _DUCK_CON is None or _DUCK_CON[0] != pid:
        import duckdb

        if _DUCK_CON is not None:
            # forked child: leave the parent's handle alone (no close(),
            # no destructor) and open our own
            _INHERITED.append(_DUCK_CON[1])
        con = duckdb.connect()
        # Spark owns the cores — one task must not fan out its own pool.
        con.execute("SET threads=1")
        _DUCK_CON = (pid, con)
    return _DUCK_CON[1]


def _duckdb_pair_kernel(
    pairs: DataFrame, expr: str, out_col: str, out_type
) -> DataFrame:
    """Evaluate a DuckDB scalar expression per candidate pair.

    The heavy per-pair string arithmetic (Damerau-Levenshtein DP,
    Jaro-Winkler) runs as DuckDB's native C++ implementation over each
    Arrow batch (guide §4.2: hand whole batches to vectorized native
    libraries) — measured 40x the pure-Python DP on the DL gate's pair
    frame.  LOAD-BEARING INDEPENDENCE EVIDENCE — do not clean up: the
    correctness oracle runs these same DuckDB functions, so the driver's
    hash-match no longer independently verifies the metric, only the
    plumbing.  The pure-Python kernels below are the independent
    reference implementations, and ``tests/test_analysis_operators.py``
    pins DuckDB==Python equality on transposition-dense random pairs and
    the None/empty edges; deleting either side of that pairing as "dead
    code" would delete the gates' only cross-implementation check.
    Validated scope is ASCII: DuckDB's string metrics are BYTE-based
    while the Python references count CODEPOINTS, so non-ASCII pairs can
    legitimately differ (e.g. DL('café','cafe') = 1 codepoint-wise but 2
    byte-wise); the same test module pins that divergence explicitly.
    Row order is pinned by an explicit ``ORDER BY`` on an input-position
    column — never left to scan order.
    """
    import numpy as np
    from pyspark.sql import types as T

    in_fields = list(pairs.schema.fields)
    out_schema = T.StructType(in_fields + [T.StructField(out_col, out_type)])
    cols = [f.name for f in in_fields]

    def batch(batches):
        con = _duck_con()
        for i, pdf in enumerate(batches):
            pdf = pdf[cols].copy()
            pdf["_rn"] = np.arange(len(pdf), dtype=np.int64)
            # per-iteration view name + finally-unregister: a failed batch
            # must not leave a stale registration behind for the reused
            # worker's next task (ADVICE r11)
            view = f"_b_{i}"
            con.register(view, pdf)
            try:
                vals = con.execute(
                    f"SELECT {expr} AS v FROM {view} ORDER BY _rn"
                ).fetchnumpy()["v"]
            finally:
                con.unregister(view)
            pdf = pdf.drop(columns=["_rn"])
            pdf[out_col] = vals
            yield pdf

    return pairs.mapInPandas(batch, out_schema)


def _jaro_winkler(s1: str, s2: str) -> float:
    """Standard Jaro-Winkler similarity (match window max(l)/2 - 1,
    half-transpositions, prefix bonus capped at 4 chars, scale 0.1,
    boost threshold 0.7; empty strings score 0) — validated bit-exact
    against DuckDB's native C++ ``jaro_winkler_similarity`` on 5000
    random ASCII pairs, the same foreign-implementation oracle pattern
    as the NFC/utf8proc gate.  ASCII scope (ADVICE r11): this reference
    counts CODEPOINTS while DuckDB counts BYTES, so non-ASCII pairs can
    differ (JW('één','een'): 0.556 codepoint-wise vs 0.0 byte-wise);
    the divergence is pytest-pinned, not hidden."""
    l1, l2 = len(s1), len(s2)
    if not l1 or not l2:
        return 0.0
    if s1 == s2:
        return 1.0
    md = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        for j in range(max(0, i - md), min(l2, i + md + 1)):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if not matches:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (matches / l1 + matches / l2 + (matches - t) / matches) / 3
    if j > 0.7:
        p = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            p += 1
        j += 0.1 * p * (1 - j)
    return j


def jaro_winkler_pairs(
    pairs: DataFrame,
    a_col: str = "txt_a",
    b_col: str = "txt_b",
    out_col: str = "jw",
) -> DataFrame:
    """Jaro-Winkler similarity per candidate pair, as an Arrow
    ``mapInPandas`` kernel (Spark has no built-in JW).  The batch body
    runs DuckDB's native C++ ``jaro_winkler_similarity`` (guide §4.2;
    measured ~100x the per-row Python loop); the pure-Python
    ``_jaro_winkler`` above remains the independent reference
    implementation, bit-equality pytest-pinned on random ASCII pairs AND
    on the textbook/empty edge cases (empty string scores 0.0 on both).
    Non-ASCII input scores under DuckDB's BYTE semantics — see the
    scope note on ``_duckdb_pair_kernel``.

    Scale shape: map-only over the (already blocked) pair frame, zero
    shuffles; per-pair cost O(len_a * len_b) bounded by the caller's
    prefix truncation."""
    from pyspark.sql import types as T

    return _duckdb_pair_kernel(
        pairs,
        f"jaro_winkler_similarity(coalesce({a_col}, ''), "
        f"coalesce({b_col}, ''))",
        out_col,
        T.DoubleType(),
    )


def blocked_text_pairs_sharp(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    length_bucket: int = 8,
    max_block: int = 100,
    prefix_chars: int = 64,
) -> DataFrame:
    """:func:`blocked_text_pairs` with the documented escape hatch made
    code (SCALE.md r10 wave 5): instead of EXCLUDING hot blocks, three
    deterministic tiers keep bounded candidates at ANY occupancy —

    1. base blocks ``(first token, token-count // length_bucket)`` of
       size <= ``max_block`` pair fully (the original path);
    2. overflowing base blocks re-block under the SHARPENED key
       ``(first token, bucket, second token, EXACT token count)``;
       sharp blocks of size <= ``max_block`` pair fully;
    3. sharp blocks still over the cap split ROUND-ROBIN by doc-id
       rank into ``ceil(n / max_block)`` salt classes (each of size
       <= max_block by construction — a hard bound no replication
       factor can break); pairs form within a salt class only.

    The recall trade is explicit: tier 3 drops cross-salt pairs instead
    of dropping the whole block — a hot block now always yields
    candidates (the r10 verdict's "a real dedup SLA wants candidates,
    not silence").  Every tier is pure deterministic arithmetic over
    (content keys, doc-id order), so an oracle mirrors pair-for-pair.

    Scale shape: the base projection (id, 64-char prefix, block keys)
    is computed ONCE behind a compute-once barrier — it feeds three
    tier frames from up to two join sides each, and Catalyst's
    exchange reuse does not reliably cover AQE-replanned self-join
    branches, so without the barrier the corpus scan repeats per
    consumer (~40 scans measured); same for the overflow frame.  At
    persistent-cluster scale a persisted table serves the same role.
    Candidate count <= max_block * corpus TOTAL across tiers (each doc
    pairs within exactly one class of size <= max_block); the tier-3
    rank is a window over the sharp block key — partition-bounded,
    never global.  Returns (doc_a, doc_b, txt_a, txt_b, tier).
    """
    from .dedup import _materialize

    t = F.trim(F.lower(F.col(text_col)))
    toks = F.split(t, r"\s+")
    base = _materialize(
        docs.filter(t != "").select(
            F.col(id_col).alias("_id"),
            F.substring(t, 1, prefix_chars).alias("_tx"),
            toks[0].alias("_w1"),
            F.coalesce(toks[1], F.lit("")).alias("_w2"),
            F.size(toks).alias("_tc"),
            (F.size(toks).cast("bigint") / F.lit(length_bucket))
            .cast("bigint")
            .alias("_lb"),
        )
    )
    c1 = base.groupBy("_w1", "_lb").agg(F.count("*").alias("_n1"))
    t1 = base.join(
        F.broadcast(c1.filter(F.col("_n1") <= max_block)), ["_w1", "_lb"]
    ).drop("_n1")
    o1 = _materialize(
        base.join(
            F.broadcast(c1.filter(F.col("_n1") > max_block)),
            ["_w1", "_lb"],
        ).drop("_n1")
    )
    k2 = ["_w1", "_lb", "_w2", "_tc"]
    c2 = o1.groupBy(*k2).agg(F.count("*").alias("_n2"))
    t2 = o1.join(
        F.broadcast(c2.filter(F.col("_n2") <= max_block)), k2
    ).drop("_n2")
    from pyspark.sql import Window

    w = Window.partitionBy(*k2).orderBy("_id")
    t3 = (
        o1.join(F.broadcast(c2.filter(F.col("_n2") > max_block)), k2)
        .withColumn(
            "_salt",
            (F.row_number().over(w) - 1)
            % ((F.col("_n2") + max_block - 1) / max_block).cast("bigint"),
        )
        .drop("_n2")
    )

    def pair(frame: DataFrame, keys: list, tier: int) -> DataFrame:
        a = frame.select(
            F.col("_id").alias("doc_a"), F.col("_tx").alias("txt_a"),
            *keys,
        )
        b = frame.select(
            F.col("_id").alias("doc_b"), F.col("_tx").alias("txt_b"),
            *keys,
        )
        return (
            a.join(b, keys)
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select(
                "doc_a", "doc_b", "txt_a", "txt_b",
                F.lit(tier).cast("int").alias("tier"),
            )
        )

    return (
        pair(t1, ["_w1", "_lb"], 1)
        .unionByName(pair(t2, k2, 2))
        .unionByName(pair(t3, k2 + ["_salt"], 3))
    )


def _damerau_levenshtein(s1: str, s2: str) -> int:
    """FULL (unrestricted) Damerau-Levenshtein distance — the
    Lowrance-Wagner alphabet-indexed DP, where a transposition may span
    intervening edits (dl('ca','abc') = 2, unlike OSA's 3).  Validated
    bit-exact against DuckDB's native C++ ``damerau_levenshtein`` on
    5000 random ASCII pairs over small alphabets (transposition-dense),
    the same foreign-implementation oracle pattern as Jaro-Winkler/NFC.
    ASCII scope (ADVICE r11): this DP counts CODEPOINTS, DuckDB counts
    BYTES — DL('café','cafe') is 1 here, 2 there; the divergence is
    pytest-pinned."""
    la, lb = len(s1), len(s2)
    if not la:
        return lb
    if not lb:
        return la
    maxd = la + lb
    da: dict[str, int] = {}
    h = [[0] * (lb + 2) for _ in range(la + 2)]
    h[0][0] = maxd
    for i in range(la + 1):
        h[i + 1][0] = maxd
        h[i + 1][1] = i
    for j in range(lb + 1):
        h[0][j + 1] = maxd
        h[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(s2[j - 1], 0)
            l_ = db
            if s1[i - 1] == s2[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            h[i + 1][j + 1] = min(
                h[i][j] + cost,  # substitute / match
                h[i + 1][j] + 1,  # insert
                h[i][j + 1] + 1,  # delete
                h[k][l_] + (i - 1 - k) + 1 + (j - 1 - l_),  # transpose
            )
        da[s1[i - 1]] = i
    return h[la + 1][lb + 1]


def damerau_levenshtein_pairs(
    pairs: DataFrame,
    a_col: str = "txt_a",
    b_col: str = "txt_b",
    out_col: str = "dl",
) -> DataFrame:
    """Unrestricted Damerau-Levenshtein per candidate pair as an Arrow
    ``mapInPandas`` kernel (Spark's built-in ``levenshtein`` has no
    transposition edit).  The batch body runs DuckDB's native C++
    ``damerau_levenshtein`` (guide §4.2; measured 40x the pure-Python
    Lowrance-Wagner DP on the gate's 36k-pair frame — the DP is ~145M
    cells at sf0.1); ``_damerau_levenshtein`` above remains the
    independent reference implementation with pytest-pinned
    bit-equality on random transposition-dense ASCII pairs (non-ASCII
    input measures BYTE distance — see ``_duckdb_pair_kernel``'s scope
    note).  Map-only over the (already blocked) pair frame, zero
    shuffles; per-pair cost O(len_a * len_b) bounded by the caller's
    prefix truncation."""
    from pyspark.sql import types as T

    return _duckdb_pair_kernel(
        pairs,
        f"CAST(damerau_levenshtein(coalesce({a_col}, ''), "
        f"coalesce({b_col}, '')) AS BIGINT)",
        out_col,
        T.LongType(),
    )
