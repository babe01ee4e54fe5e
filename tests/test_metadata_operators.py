"""Unit tests for the r11 metadata/agreement operators: baseline TIFF
decode (both byte orders), JPEG EXIF walk, Krippendorff's alpha, and
the sitemap regex-parse chain."""

from __future__ import annotations


def test_tiff_both_byte_orders_and_strips():
    """II and MM fixtures decode identically-shaped stats; strip count
    follows RowsPerStrip=2; truncation quarantines."""
    from operator_families.functions.multimodal import (
        _tiff_decode,
        tiff_encode,
    )

    for doc in (0, 1, 2, 3):  # covers II/MM x gray/RGB
        w, h = 6, 5
        dec = _tiff_decode(tiff_encode(doc, w, h))
        assert dec is not None
        assert dec[0] == w and dec[1] == h
        assert dec[2] == (1 if doc % 2 == 0 else 3)
        assert dec[3] == 3  # ceil(5/2) strips
    assert _tiff_decode(tiff_encode(0, 6, 5)[:40]) is None
    assert _tiff_decode(b"XX\x00\x00") is None


def test_tiff_pixel_sums_match_formula():
    """Channel sums and the row-order weighted sum equal the closed
    forms the oracle recomputes."""
    from operator_families.functions.multimodal import (
        _tiff_decode,
        tiff_encode,
    )

    doc, w, h = 3, 5, 4  # MM + RGB
    _, _, spp, _, c0, c1, c2, wt = _tiff_decode(tiff_encode(doc, w, h))
    assert spp == 3
    exp = [
        sum((doc * 31 + p * 3 + ch) % 256 for p in range(w * h))
        for ch in range(3)
    ]
    assert [c0, c1, c2] == exp
    assert wt == sum(
        (p + 1) * sum((doc * 31 + p * 3 + ch) % 256 for ch in range(3))
        for p in range(w * h)
    )


def test_exif_meta_fields_and_quarantine():
    """Orientation/Make/XResolution come back exactly; SOF dims are
    read from the frame header; truncation quarantines."""
    from operator_families.functions.multimodal import (
        _exif_meta,
        jpeg_exif_encode,
    )

    for doc in (0, 1, 2, 3, 86):
        m = _exif_meta(jpeg_exif_encode(doc))
        assert m == (
            8 + doc % 40, 6 + doc % 30,
            "II" if doc % 4 < 2 else "MM",
            f"cam{doc % 10}", 1 + doc % 8,
            72 + doc % 30, 1 + doc % 3,
        )
    assert _exif_meta(jpeg_exif_encode(0)[:10]) is None
    assert _exif_meta(b"\xff\xd8\xff\xd9") is None  # no APP1/SOF


def test_krippendorff_alpha_textbook(spark):
    """Krippendorff's own worked nominal example (2004, ch. 11): two
    observers, 10 units rated 0/1 with one disagreement... use the
    hand-computable case: units A-D rated by 2 raters, one unit
    disagrees -> alpha = 1 - (n-1)*Do2/(2*De)."""
    from operator_families.functions.mleval import (
        krippendorff_alpha_nominal,
    )

    # 4 units x 2 raters; unit 'd' disagrees (x vs y), rest agree on x
    rows = [
        ("a", "x"), ("a", "x"),
        ("b", "x"), ("b", "x"),
        ("c", "x"), ("c", "x"),
        ("d", "x"), ("d", "y"),
    ]
    df = spark.createDataFrame(rows, "u string, v string")
    out = krippendorff_alpha_nominal(df, "u", "v").collect()[0]
    assert out["n_units"] == 4 and out["n"] == 8
    # Do2: only unit d disagrees: 2*(4 - (1+1))/(2-1) = 4
    assert out["do2"] == 4
    # marginals: x=7, y=1 -> de_num = 64 - 50 = 14
    assert out["de_num"] == 14
    # alpha = 1 - 7*4/(2*14) = 0
    assert abs(out["alpha"] - 0.0) < 1e-12


def test_krippendorff_perfect_agreement(spark):
    """All raters agree on every unit -> alpha = 1."""
    from operator_families.functions.mleval import (
        krippendorff_alpha_nominal,
    )

    rows = [(u, lab) for u, lab in
            [("a", "x"), ("b", "y"), ("c", "x"), ("d", "y")]
            for _ in range(3)]
    df = spark.createDataFrame(rows, "u string, v string")
    out = krippendorff_alpha_nominal(df, "u", "v").collect()[0]
    assert out["do2"] == 0
    assert abs(out["alpha"] - 1.0) < 1e-12


def test_krippendorff_excludes_singleton_units(spark):
    """Units with a single rating are unpairable and must not count."""
    from operator_families.functions.mleval import (
        krippendorff_alpha_nominal,
    )

    rows = [("a", "x"), ("a", "x"), ("solo", "y")]
    df = spark.createDataFrame(rows, "u string, v string")
    out = krippendorff_alpha_nominal(df, "u", "v").collect()[0]
    assert out["n_units"] == 1 and out["n"] == 2
