"""Unit tests for the r11 retrieval/forecast/container operators: MMR
re-ranking, MP4 box walk, additive Holt-Winters."""

from __future__ import annotations


def _unit_embs(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )


def test_mmr_prefers_diverse_over_redundant(spark):
    """Query 0; candidates: two near-duplicates of the query direction
    and one orthogonal-ish vector.  Plain top-2 would take both
    duplicates; MMR's second pick must be the diverse one."""
    from operator_families.functions.simsearch import (
        mmr_rerank,
    )

    vecs = [
        [1.0, 0.0, 0.0, 0.0],   # 0: query
        [0.99, 0.14, 0.0, 0.0],  # 1: rel ~0.99, dup of 2
        [0.98, 0.2, 0.0, 0.0],   # 2: rel ~0.98, dup of 1
        [0.6, 0.0, 0.8, 0.0],    # 3: rel 0.6, diverse
    ]
    out = sorted(
        mmr_rerank(
            _unit_embs(spark, vecs), [0], k_candidates=3, k_select=3
        ).collect(),
        key=lambda r: r["position"],
    )
    assert out[0]["neighbor_id"] == 1          # highest relevance first
    assert out[1]["neighbor_id"] == 3          # diverse beats redundant
    assert out[2]["neighbor_id"] == 2
    # mmr2_6 = rel6 - maxsim6 for later picks: pick 2's score must
    # reflect its similarity to pick 1, not to the query
    assert out[1]["mmr2_6"] < out[1]["rel6"]


def test_mmr_first_pick_is_pure_relevance(spark):
    from operator_families.functions.simsearch import (
        mmr_rerank,
    )

    vecs = [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0]]
    out = sorted(
        mmr_rerank(
            _unit_embs(spark, vecs), [0], k_candidates=2, k_select=2
        ).collect(),
        key=lambda r: r["position"],
    )
    assert out[0]["neighbor_id"] == 1
    assert out[0]["mmr2_6"] == out[0]["rel6"]


def test_mp4_walk_largesize_and_tracks():
    """Odd docs carry two tracks; doc % 3 == 1 uses the 64-bit
    largesize mdat; truncation quarantines."""
    from operator_families.functions.multimodal import (
        _mp4_walk,
        mp4_encode,
    )

    one = _mp4_walk(mp4_encode(59))       # odd: 2 tracks
    assert one is not None and one[3] == 2
    two = _mp4_walk(mp4_encode(118))      # even: 1 track, doc%3==1 large
    assert two is not None and two[3] == 1
    assert b"\x00\x00\x00\x01mdat" in mp4_encode(118)  # largesize form
    assert _mp4_walk(mp4_encode(59)[:30]) is None
    assert _mp4_walk(b"\x00\x00\x00\x08ftyp") is None  # short ftyp body


def test_holt_winters_matches_reference_loop(spark):
    """The packed fold equals a from-scratch Python reference of the
    textbook additive recursions on the same series."""
    import datetime

    from operator_families.functions.stats import (
        holt_winters_additive,
    )

    base = datetime.date(2024, 1, 1)
    series = [100, 120, 90, 110, 105, 95, 130,
              102, 125, 88, 112, 108, 97, 133, 105]
    rows = [
        (base + datetime.timedelta(days=i), v)
        for i, v in enumerate(series)
    ]
    df = spark.createDataFrame(rows, "day date, value long")
    out = holt_winters_additive(df).collect()[0]

    a, b, g = 0.3, 0.1, 0.2
    l = sum(float(v) for v in series[:7]) / 7.0
    tr = 0.0
    s = [float(v) - l for v in series[:7]]
    for t in range(7, len(series)):
        idx = t % 7
        v = float(series[t])
        l_new = a * (v - s[idx]) + (1 - a) * (l + tr)
        tr = b * (l_new - l) + (1 - b) * tr
        s[idx] = g * (v - l_new) + (1 - g) * s[idx]
        l = l_new
    assert out["n"] == len(series)
    assert abs(out["level"] - round(l, 9)) < 1e-9
    assert abs(out["trend"] - round(tr, 9)) < 1e-9
    for j in range(7):
        assert abs(out[f"s{j}"] - round(s[j], 9)) < 1e-9
    fc = l + tr + s[len(series) % 7]
    assert abs(out["forecast_next"] - round(fc, 9)) < 1e-9


def test_holt_winters_short_series_zero_rows(spark):
    import datetime

    from operator_families.functions.stats import (
        holt_winters_additive,
    )

    base = datetime.date(2024, 1, 1)
    rows = [(base + datetime.timedelta(days=i), 10) for i in range(5)]
    df = spark.createDataFrame(rows, "day date, value long")
    assert holt_winters_additive(df).count() == 0
