"""Unit tests for the r11 hygiene/metadata-plane operators:
generalized-ESD anomaly rounds, UTF-8 validity."""

from __future__ import annotations


def test_esd_removes_in_magnitude_order(spark):
    """Two planted outliers: the bigger one goes first, and round 2's
    z is computed WITHOUT it (the re-estimation that defines ESD)."""
    import datetime

    from operator_families.functions.stats import (
        esd_rounds,
    )

    base = datetime.date(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(days=i), 100 + (i % 3)) for i in range(20)
    ]
    rows[5] = (rows[5][0], 500)   # big outlier
    rows[12] = (rows[12][0], 300)  # smaller outlier
    df = spark.createDataFrame(rows, "day date, value long")
    out = sorted(
        esd_rounds(df, "day", "value", rounds=3).collect(),
        key=lambda r: r["round"],
    )
    assert out[0]["value"] == 500
    assert out[1]["value"] == 300
    # the re-estimation effect: once 500 stops inflating the std, the
    # masked 300 outlier's z RISES above 500's round-1 z
    assert out[1]["z"] > out[0]["z"]
    # round 3 removes an ordinary point with a small z
    assert out[2]["value"] in (100, 101, 102)


def test_esd_deterministic_tiebreak(spark):
    """Identical z values resolve by earliest day on both engines."""
    import datetime

    from operator_families.functions.stats import (
        esd_rounds,
    )

    base = datetime.date(2024, 1, 1)
    rows = [(base + datetime.timedelta(days=i), v)
            for i, v in enumerate([10, 50, 10, 50, 10, 10])]
    df = spark.createDataFrame(rows, "day date, value long")
    out = sorted(
        esd_rounds(df, "day", "value", rounds=2).collect(),
        key=lambda r: r["round"],
    )
    # both 50s tie on z: day 1 (earlier) must go first
    assert out[0]["day"] == base + datetime.timedelta(days=1)
    assert out[1]["day"] == base + datetime.timedelta(days=3)


def test_utf8_validity_counts(spark):
    """Isolated 0xFF bytes each produce one U+FFFD; valid multibyte
    UTF-8 counts characters, not bytes."""
    from operator_families.functions.text import (
        utf8_validity_stats,
    )

    rows = [
        (1, b"hello"),                      # clean ASCII
        (2, b"he\xffllo\xff"),              # two isolated invalid bytes
        (3, "héllo".encode("utf-8")),       # valid 2-byte char
        (4, b"a\xc3"),                      # truncated multibyte at end
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in utf8_validity_stats(df).collect()}
    assert out[1]["n_invalid"] == 0 and out[1]["n_chars_repaired"] == 5
    assert out[2]["n_invalid"] == 2 and out[2]["n_chars_repaired"] == 7
    assert out[3]["n_bytes"] == 6 and out[3]["n_chars_repaired"] == 5
    assert out[3]["n_invalid"] == 0
    assert out[4]["n_invalid"] == 1 and out[4]["n_chars_repaired"] == 2


def test_corpus_text_is_pure_ascii(spark):
    """The text_utf8_validity oracle's closed form assumes ASCII corpus
    text (byte length == char length) — pin that assumption so a future
    testdata change fails loudly here instead of hash-mismatching."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        bad = duckdb.sql(
            f"SELECT COUNT(*) FROM '/root/testdata/sf{sf}/documents.parquet'"
            " WHERE length(text) <> strlen(text)"
        ).fetchone()[0]
        assert bad == 0, sf
