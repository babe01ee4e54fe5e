"""Unit tests for the r10 analysis operators (functions/fuzzy.py
jaro-winkler + blocking, functions/stats.py anova_f / sax_symbols,
functions/mleval.py pinball_loss)."""

from __future__ import annotations


def test_jaro_winkler_known_values():
    """Textbook pairs (Winkler 1990 convention: prefix <= 4, scale 0.1,
    boost only above jaro 0.7) plus the empty-string = 0 edge that
    DuckDB's native implementation uses."""
    from operator_families.functions.fuzzy import (
        _jaro_winkler,
    )

    assert abs(_jaro_winkler("martha", "marhta") - 0.9611111111111111) < 1e-15
    assert abs(_jaro_winkler("dwayne", "duane") - 0.8400000000000001) < 1e-15
    assert abs(_jaro_winkler("dixon", "dicksonx") - 0.8133333333333332) < 1e-15
    assert _jaro_winkler("same", "same") == 1.0
    assert _jaro_winkler("a", "b") == 0.0
    assert _jaro_winkler("", "") == 0.0        # DuckDB convention
    assert _jaro_winkler("abc", "") == 0.0
    # below the 0.7 boost threshold the prefix bonus must NOT apply
    assert _jaro_winkler("abcdefgh", "abzzzzzz") == 0.5


def test_jaro_winkler_matches_duckdb_native():
    """The kernel is bit-exact with DuckDB's C++ implementation — the
    foreign-oracle contract the text_jaro_winkler gate rides."""
    import random

    import duckdb

    from operator_families.functions.fuzzy import (
        _jaro_winkler,
    )

    con = duckdb.connect()
    rng = random.Random(42)
    for _ in range(500):
        a = "".join(rng.choices("abcdefgh ", k=rng.randint(0, 16)))
        b = "".join(rng.choices("abcdefgh ", k=rng.randint(0, 16)))
        d = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert d == _jaro_winkler(a, b), (repr(a), repr(b))


def test_blocked_text_pairs_blocking_and_fence(spark):
    """Pairs come only from within (first token, length bucket) blocks;
    blocks over max_block are dropped entirely (deterministic exclusion,
    not truncation)."""
    from operator_families.functions.fuzzy import (
        blocked_text_pairs,
    )

    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha beta delta"),      # same block as 1 (w1=alpha, lb=0)
        (3, "omega beta gamma"),      # different first token
        (4, "alpha " + "x " * 20),    # same w1, different length bucket
        (5, None),
        (6, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in blocked_text_pairs(df, max_block=10).collect()
    }
    assert got == {(1, 2)}
    # fence: a 3-doc block with max_block=2 is EXCLUDED, yielding nothing
    rows2 = [(i, "same first words here") for i in range(3)]
    df2 = spark.createDataFrame(rows2, "doc_id bigint, text string")
    assert blocked_text_pairs(df2, max_block=2).count() == 0
    assert blocked_text_pairs(df2, max_block=3).count() == 3  # C(3,2)


def test_blocked_text_pairs_sharp_three_tiers(spark):
    """The sharpened escape hatch: tier 1 = small base blocks pair
    fully; tier 2 = overflow blocks re-pair under (w1, lb, w2, exact
    token count); tier 3 = still-hot sharp blocks split round-robin by
    doc-id rank into ceil(n/cap) salt classes of size <= cap — a HARD
    bound (never the silent empty answer of the base fence).  The
    tier-3 salt partition is checked CROSS-ENGINE against an inline
    DuckDB mirror of the gate's rank-salt SQL."""
    import duckdb

    from operator_families.functions.fuzzy import (
        blocked_text_pairs_sharp,
    )

    rows = (
        # base block of 2 (w1=tiny, tc=3): tier 1
        [(1, "tiny pair one"), (2, "tiny pair two")]
        # hot base block (w1=hot, tc=4 -> lb=0), 7 identical keys:
        # sharp key is ALSO identical (w2=block, tc=4) -> n2=7 > 2 ->
        # tier 3 with nsalt=ceil(7/2)=4 -> salt sizes 2,2,2,1 -> 3 pairs
        + [(10 + i, "hot block same size") for i in range(7)]
        # hot base block (w1=warm, lb=1) whose members split by exact
        # token count into sharp blocks of 2 -> tier 2
        + [(30, "warm a " + "x " * 7), (31, "warm a " + "y " * 7),
           (32, "warm a " + "x " * 8), (33, "warm a " + "y " * 8)]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = blocked_text_pairs_sharp(df, max_block=2).collect()
    by_tier: dict = {}
    for r in got:
        by_tier.setdefault(r.tier, set()).add((r.doc_a, r.doc_b))
    assert by_tier[1] == {(1, 2)}
    assert by_tier[2] == {(30, 31), (32, 33)}
    # tier 3: round-robin by doc_id rank, nsalt=4 -> classes
    # {10,14}, {11,15}, {12,16}, {13} -> exactly these 3 pairs
    assert by_tier[3] == {(10, 14), (11, 15), (12, 16)}
    # total candidate work bounded: every doc pairs within ONE class
    # of size <= cap
    assert len(got) <= 2 * len(rows)

    # cross-engine: DuckDB mirror of the rank-salt arithmetic produces
    # the same tier-3 pairs
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs(doc_id BIGINT, text VARCHAR)"
    )
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    toks = "regexp_split_to_array(trim(lower(text)), '[ \\t\\n]+')"
    oracle = con.execute(f"""
        WITH b AS (
            SELECT doc_id, {toks}[1] AS w1,
                   COALESCE({toks}[2], '') AS w2,
                   len({toks}) AS tc, len({toks}) // 8 AS lb
            FROM docs WHERE trim(lower(text)) <> ''
        ),
        c1 AS (SELECT w1, lb, COUNT(*) AS n1 FROM b GROUP BY 1, 2),
        o1 AS (SELECT b.* FROM b JOIN c1 USING (w1, lb) WHERE n1 > 2),
        c2 AS (SELECT w1, lb, w2, tc, COUNT(*) AS n2
               FROM o1 GROUP BY 1, 2, 3, 4),
        t3 AS (
            SELECT o1.*,
                   (ROW_NUMBER() OVER (
                        PARTITION BY o1.w1, o1.lb, o1.w2, o1.tc
                        ORDER BY o1.doc_id) - 1) % ((n2 + 1) // 2) AS salt
            FROM o1 JOIN c2 USING (w1, lb, w2, tc) WHERE n2 > 2
        )
        SELECT a.doc_id, c.doc_id FROM t3 a JOIN t3 c
          ON a.w1 = c.w1 AND a.lb = c.lb AND a.w2 = c.w2
         AND a.tc = c.tc AND a.salt = c.salt AND a.doc_id < c.doc_id
    """).fetchall()
    assert {tuple(r) for r in oracle} == by_tier[3]


def test_damerau_levenshtein_known_values_and_duckdb():
    """Unrestricted DL (Lowrance-Wagner): the transposition may span
    intervening edits — dl('ca','abc') = 2 where OSA gives 3 — plus the
    5000-random-pair foreign-oracle sweep against DuckDB's native C++
    implementation over a transposition-dense small alphabet."""
    import random

    import duckdb

    from operator_families.functions.fuzzy import (
        _damerau_levenshtein,
    )

    assert _damerau_levenshtein("ca", "abc") == 2  # NOT OSA's 3
    assert _damerau_levenshtein("abcdef", "abdcef") == 1
    assert _damerau_levenshtein("", "xyz") == 3
    assert _damerau_levenshtein("xyz", "") == 3
    assert _damerau_levenshtein("same", "same") == 0
    con = duckdb.connect()
    rng = random.Random(7)
    for t in range(5000):
        ab = "abcd" if t % 2 else "ab"
        a = "".join(rng.choice(ab) for _ in range(rng.randint(0, 12)))
        b = "".join(rng.choice(ab) for _ in range(rng.randint(0, 12)))
        d = con.execute(
            "SELECT damerau_levenshtein(?, ?)", [a, b]
        ).fetchone()[0]
        assert d == _damerau_levenshtein(a, b), (repr(a), repr(b))


def test_levene_bf_hand_computed(spark):
    """Brown-Forsythe on two groups with hand-computable lower medians:
    g1 = [1,2,3,4] (lower median 2 -> z = [1,0,1,2]),
    g2 = [10,10,40] (median 10 -> z = [0,0,30]).  W = ANOVA F over z."""
    from operator_families.functions.stats import levene_bf

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
            ("b", 10.0), ("b", 10.0), ("b", 40.0)]
    df = spark.createDataFrame(rows, "g string, value double")
    r = levene_bf(df, "g", "value").collect()[0]
    assert (r.k, r.n) == (2, 7)
    # z-means: g1 = 1.0, g2 = 10.0; grand = 34/7
    # ssb = 4*(1-34/7)^2 + 3*(10-34/7)^2 = 138.857142...
    # ssw = (0+1+0+1) + (100+100+400) = 602
    assert abs(r.ssb - 138.857143) < 1e-6
    assert abs(r.ssw - 602.0) < 1e-9
    assert abs(r.w_stat - (138.857142857143 / 1) / (602 / 5)) < 1e-6


def test_g711_expansion_reference_points():
    """ITU-T G.711 table anchors: mu-law spans +-32124 with 0xFF/0x7F
    as +0/-0; A-law spans +-32256 with the INVERTED sign convention
    (0x80 set = positive) and 0xD5/0x55 as +8/-8."""
    from operator_families.functions.multimodal import (
        _g711_tables,
        _wav_decode_g711,
        wav_encode_g711,
        wav_encode_pcm16,
    )

    u, a = _g711_tables()
    assert u[0xFF] == 0 and u[0x7F] == 0
    assert u[0x00] == -32124 and u[0x80] == 32124
    assert int(u.max()) == 32124 and int(u.min()) == -32124
    assert a[0xD5] == 8 and a[0x55] == -8
    assert int(a.max()) == 32256 and int(a.min()) == -32256
    # the G.711 walker skips fact/junk chunks and quarantines non-G.711
    for law in ("ulaw", "alaw"):
        d = _wav_decode_g711(wav_encode_g711(3, 50, law))
        assert d is not None and d[:4] == (8000, 1, 50, law)
        assert _wav_decode_g711(wav_encode_g711(3, 50, law)[:25]) is None
    assert _wav_decode_g711(wav_encode_pcm16(3, 50)) is None  # PCM16


def test_ico_container_walk():
    """ICO directory walk: entries decode independently (incl. Adam7
    entries), per-entry sums match the PNG formula, a directory
    pointing past the payload quarantines the container, and a non-PNG
    entry quarantines per-entry without hiding siblings."""
    import struct

    from operator_families.functions.multimodal import (
        _ico_decode_entries,
        ico_encode_png_entries,
    )

    for doc in (0, 1, 2, 7, 30):
        n = 1 + doc % 4
        es = _ico_decode_entries(ico_encode_png_entries(doc, n))
        assert es is not None and len(es) == n
        for j, w, h, ch, sums in es:
            k = doc + j
            assert (w, h, ch) == (4 + k % 5, 3 + k % 4, 3)
            assert list(sums) == [
                sum((k * 31 + p * 3 + c) % 256 for p in range(w * h))
                for c in range(3)
            ]
    assert _ico_decode_entries(b"junk") is None
    assert _ico_decode_entries(ico_encode_png_entries(3, 2)[:20]) is None
    # one DIB (non-PNG) entry among PNGs: that entry quarantines, the
    # sibling still decodes
    good = ico_encode_png_entries(4, 1)
    png_blob = good[6 + 16 :]
    dib = b"\x28\x00\x00\x00" + b"\x00" * 36  # BITMAPINFOHEADER stub
    hdr = struct.pack("<HHH", 0, 1, 2)
    off0 = 6 + 32
    d0 = struct.pack("<BBBBHHII", 4, 3, 0, 0, 1, 32, len(dib), off0)
    d1 = struct.pack(
        "<BBBBHHII", 4, 3, 0, 0, 1, 32, len(png_blob), off0 + len(dib)
    )
    mixed = hdr + d0 + d1 + dib + png_blob
    es = _ico_decode_entries(mixed)
    assert es is not None and len(es) == 2
    assert es[0][4] is None          # DIB entry quarantined
    assert es[1][4] is not None      # PNG sibling decoded


def test_anova_f_hand_computed(spark):
    """3 groups with textbook values: F = (SSB/(k-1)) / (SSW/(n-k))."""
    from operator_families.functions.stats import anova_f

    data = (
        [("a", v) for v in (1.0, 2.0, 3.0)]
        + [("b", v) for v in (2.0, 3.0, 4.0)]
        + [("c", v) for v in (6.0, 7.0, 8.0)]
    )
    df = spark.createDataFrame(data, "g string, value double")
    row = anova_f(df, "g").collect()[0]
    # means 2,3,7; grand 4; SSB = 3*(4+1+9)=42; SSW = 3 groups * 2 = 6
    assert (row.k, row.n) == (3, 9)
    assert abs(row.ssb - 42.0) < 1e-9
    assert abs(row.ssw - 6.0) < 1e-9
    assert abs(row.f_stat - (42 / 2) / (6 / 6)) < 1e-9
    # single group / constant values -> NULL f
    df2 = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "g string, value double"
    )
    assert anova_f(df2, "g").collect()[0].f_stat is None


def test_kruskal_wallis_hand_computed(spark):
    """Textbook values with and without ties (midrank variant):
    {1,2} vs {3,4} -> H = 2.4, C = 1; {1,1} vs {2,2} -> same rank sums
    through midranks (1.5,1.5,3.5,3.5) so H = 2.4, tie mass 12,
    C = 1 - 12/60 = 0.8, H' = 3.0."""
    from operator_families.functions.stats import (
        kruskal_wallis,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)],
        "g string, value double",
    )
    r = kruskal_wallis(df, "g").collect()[0]
    assert (r.k, r.n) == (2, 4)
    assert abs(r.h_stat - 2.4) < 1e-9
    assert r.tie_correction == 1.0
    assert abs(r.h_corrected - 2.4) < 1e-9

    df2 = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)],
        "g string, value double",
    )
    r2 = kruskal_wallis(df2, "g").collect()[0]
    assert abs(r2.h_stat - 2.4) < 1e-9
    assert abs(r2.tie_correction - 0.8) < 1e-9
    assert abs(r2.h_corrected - 3.0) < 1e-9


def test_pinball_loss_hand_computed(spark):
    """One observation, known prediction: loss at tau is
    max(tau*(y-q), (tau-1)*(y-q))."""
    from operator_families.functions.mleval import (
        pinball_loss,
    )

    df = spark.createDataFrame(
        [(10.0, 4.0), (2.0, 4.0)], "value double, pred double"
    )
    got = {
        r.tau: r.pinball for r in pinball_loss(df, "pred").collect()
    }
    # y=10,q=4: diff=6 -> tau*6 ; y=2,q=4: diff=-2 -> (tau-1)*(-2)
    for tau in (0.1, 0.5, 0.9):
        want = (tau * 6 + (1 - tau) * 2) / 2
        assert abs(got[tau] - want) < 1e-9, tau


def test_isotonic_pav_hand_computed(spark):
    """PAV pooling on a textbook violator sequence: rates
    [0/2, 2/2, 1/2, 1/2] pool bins 1..3 into one 4/6 = 2/3 block;
    monotonicity and mass conservation hold; fractions are gcd-reduced."""
    from operator_families.functions.mleval import (
        isotonic_calibration,
    )

    # craft scores landing in bins 0..3 of 4 bins over denom 100:
    # bin = floor(score * 4 / 100) -> scores 10, 30, 60, 80
    rows = []
    for score, labels in ((10, (0, 0)), (30, (1, 1)), (60, (1, 0)),
                          (80, (0, 1))):
        for y in labels:
            rows.append((score, y))
    df = spark.createDataFrame(rows, "score bigint, label int")
    out = {
        r.bin: r
        for r in isotonic_calibration(
            df, "score", "label", bins=4, denom=100
        ).collect()
    }
    assert (out[0].cal_num, out[0].cal_den) == (0, 1)
    for b in (1, 2, 3):
        assert (out[b].cal_num, out[b].cal_den) == (2, 3), b
    # monotone + conserves mass
    cals = [out[b].cal_num / out[b].cal_den for b in sorted(out)]
    assert cals == sorted(cals)
    assert sum(out[b].pos for b in out) == 4
    assert abs(out[1].calibrated - round(2 / 3, 9)) < 1e-12


def test_sax_symbols_hand_computed(spark):
    """Four equally-spaced daily counts map to a,b,c,d; constant series
    yields NULL symbols."""
    from operator_families.functions.stats import (
        sax_symbols,
    )

    rows = []
    # type 'x': counts 1,2,3,4 on 4 days (one event per count unit)
    for d, n in ((1, 1), (2, 2), (3, 3), (4, 4)):
        for i in range(n):
            rows.append((len(rows), f"2024-01-0{d} 00:0{i}:00", "x"))
    # type 'y': constant 2/day over 3 days
    for d in (1, 2, 3):
        for i in range(2):
            rows.append((len(rows), f"2024-02-0{d} 00:0{i}:00", "y"))
    df = spark.createDataFrame(
        rows, "event_id bigint, ts string, event_type string"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type"
    )
    out = sax_symbols(df, "event_type").collect()
    x = sorted(
        [(r.day.day, r.n, r.sym) for r in out if r.event_type == "x"]
    )
    # z of 1,2,3,4 (mean 2.5, sd ~1.29): -1.16, -0.39, 0.39, 1.16
    assert [s for _, _, s in x] == ["a", "b", "c", "d"]
    assert all(
        r.sym is None and r.z is None for r in out if r.event_type == "y"
    )


def test_duckdb_pair_kernels_match_python_reference(spark):
    """The r11-optimized kernel path (DuckDB native C++ per Arrow batch,
    guide §4.2) must stay bit-exact with the pure-Python reference
    implementations on the same pair frame — including None/empty edges
    and multi-batch row alignment (the ORDER BY _rn pin)."""
    import random

    from operator_families.functions.fuzzy import (
        _damerau_levenshtein,
        _jaro_winkler,
        damerau_levenshtein_pairs,
        jaro_winkler_pairs,
    )

    rng = random.Random(11)
    rows = [
        (
            i,
            "".join(rng.choices("abcdef ", k=rng.randint(0, 20))),
            "".join(rng.choices("abcdef ", k=rng.randint(0, 20))),
        )
        for i in range(400)
    ]
    rows += [(1000, None, "abc"), (1001, "abc", None), (1002, None, None)]
    df = spark.createDataFrame(
        rows, "pid bigint, txt_a string, txt_b string"
    ).repartition(7)

    got_dl = {
        r.pid: r.dl for r in damerau_levenshtein_pairs(df).collect()
    }
    got_jw = {r.pid: r.jw for r in jaro_winkler_pairs(df).collect()}
    for pid, a, b in rows:
        assert got_dl[pid] == _damerau_levenshtein(a or "", b or ""), (
            pid, a, b,
        )
        assert got_jw[pid] == _jaro_winkler(a or "", b or ""), (pid, a, b)


def test_duckdb_pair_kernels_non_ascii_scope(spark):
    """ADVICE r11: the DuckDB==Python equality holds for ASCII only —
    DuckDB's string metrics are BYTE-based, the Python references count
    CODEPOINTS.  This test PINS the documented divergence (so a silent
    semantic change on either side fails loudly) and pins that the QUERY
    path scores byte-wise, i.e. exactly what the gates' DuckDB oracle
    computes for non-ASCII input."""
    import duckdb

    from operator_families.functions.fuzzy import (
        _damerau_levenshtein,
        _jaro_winkler,
        damerau_levenshtein_pairs,
        jaro_winkler_pairs,
    )

    cases = [(1, "café", "cafe"), (2, "één", "een"), (3, "ça", "ca")]
    # codepoint-wise references
    assert _damerau_levenshtein("café", "cafe") == 1
    assert abs(_jaro_winkler("één", "een") - 0.5555555555555555) < 1e-15

    con = duckdb.connect()
    df = spark.createDataFrame(cases, "pid bigint, txt_a string, txt_b string")
    got_dl = {r.pid: r.dl for r in damerau_levenshtein_pairs(df).collect()}
    got_jw = {r.pid: r.jw for r in jaro_winkler_pairs(df).collect()}
    diverged = 0
    for pid, a, b in cases:
        duck_dl = con.execute(
            "SELECT damerau_levenshtein(?, ?)", [a, b]
        ).fetchone()[0]
        duck_jw = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        # the kernel path IS DuckDB byte semantics (oracle-consistent)
        assert got_dl[pid] == duck_dl, (pid, a, b)
        assert got_jw[pid] == duck_jw, (pid, a, b)
        diverged += int(
            duck_dl != _damerau_levenshtein(a, b)
            or duck_jw != _jaro_winkler(a, b)
        )
    # the byte-vs-codepoint divergence is REAL on these inputs — if this
    # ever reads 0, one implementation changed semantics silently and the
    # ASCII-scope docstrings upstream are stale
    assert diverged >= 2, "expected byte-vs-codepoint divergence vanished"
    con.close()
