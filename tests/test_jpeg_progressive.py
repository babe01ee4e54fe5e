"""Progressive-JPEG FULL pixel path (T.81 Annex G) — codec-level tests.

The decoder's scan machinery (spectral-selection AC first scans with
EOBRUN, successive-approximation refinement with correction bits riding
EOB runs) is pinned three ways: (1) a progressive and a baseline
encoding of the SAME coefficients must decode to identical stats —
baseline decode is itself oracle-gated, so this transfers the closed-
form guarantee; (2) seeded randomized coefficient patterns (dense
blocks, long zero runs forcing ZRL-in-refinement, DC-only EOBRUN food,
grayscale, 4:2:0/4:2:2/4:4:0, Al chains to 3, multiple band splits)
roundtrip against a direct reconstruction from the known coefficients;
(3) out-of-envelope and malformed inputs quarantine, never raise.

Pure Python — no SparkSession needed (the Spark wrapper is gated by
mm_decode_jpeg_prog_pixels against the DuckDB oracle).
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from operator_families.functions.multimodal import (
    _JPEG_ZZ,
    _idct_basis,
    _jpeg_decode_pixels,
    _jpeg_decode_progressive_pixels,
    jpeg_encode_progressive,
    jpeg_encode_progressive_pixels,
    jpeg_encode_ycbcr_blocks,
)


def _plain_formula(doc: int, bw: int):
    """The baseline jpeg_encode_ycbcr_blocks coefficient formula."""

    def fn(ci: int, by: int, bx: int) -> dict:
        i = by * bw + bx
        return {
            0: ((doc * 7 + i * 5 + ci * 11) % 160) - 80,
            10: ((doc + i * 3 + ci) % 31) - 15,
            14: ((doc * 3 + i + ci * 5) % 31) - 15,
            39: ((doc + i + ci) % 25) - 12,
        }

    return fn


def _expected_stats(w: int, h: int, comps: list, coef_fn):
    """Direct reconstruction from the known coefficients — the same
    dequant/IDCT/RGB close, with the entropy+scan layers bypassed."""
    hmax = max(hs for _, hs, _ in comps)
    vmax = max(vs for _, _, vs in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    basis = _idct_basis()
    planes = []
    for ci, (_cid, hs, vs) in enumerate(comps):
        bpl, nrow = mcux * hs, mcuy * vs
        arr = np.zeros((nrow * bpl, 64), np.int64)
        for by in range(nrow):
            for bx in range(bpl):
                for k, lvl in coef_fn(ci, by, bx).items():
                    arr[by * bpl + bx, _JPEG_ZZ[k]] = lvl
        px = (arr * 8).astype(np.float64) @ basis
        px = np.clip(np.floor(px + 128.5), 0, 255).astype(np.int64)
        plane = (
            px.reshape(nrow, bpl, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(nrow * 8, bpl * 8)
        )
        if hs != hmax or vs != vmax:
            plane = np.repeat(
                np.repeat(plane, vmax // vs, 0), hmax // hs, 1
            )
        planes.append(plane[:h, :w])
    yv = planes[0]
    ys = int(yv.sum())
    posg = np.arange(h)[:, None] * w + np.arange(w)[None, :] + 1
    ywt = int((posg * yv).sum())
    if len(planes) == 3:
        cbv, crv = planes[1], planes[2]
        dcb, dcr = cbv - 128, crv - 128
        r = yv + ((91881 * dcr + 32768) >> 16)
        g = yv - ((22554 * dcb + 46802 * dcr + 32768) >> 16)
        b = yv + ((116130 * dcb + 32768) >> 16)
        return (
            ys, int(cbv.sum()), int(crv.sum()), ywt,
            int(np.clip(r, 0, 255).sum()),
            int(np.clip(g, 0, 255).sum()),
            int(np.clip(b, 0, 255).sum()),
        )
    return (ys, None, None, ywt, None, None, None)


def test_progressive_equals_baseline_on_same_coefficients():
    for doc in (0, 7, 13, 44, 100, 271):
        bw, bh = 1 + doc % 3, 1 + doc % 2
        base = _jpeg_decode_pixels(jpeg_encode_ycbcr_blocks(doc, bw, bh))
        prog = _jpeg_decode_progressive_pixels(
            jpeg_encode_progressive(
                bw * 8, bh * 8,
                [(1, 1, 1), (2, 1, 1), (3, 1, 1)],
                _plain_formula(doc, bw),
            )
        )
        assert prog is not None
        assert base[2] == prog[3], doc


def test_fixture_has_14_scans_and_eob_gaps():
    for doc in (0, 11, 23, 46, 414):
        bw, bh = 1 + doc % 3, 1 + doc % 2
        dec = _jpeg_decode_progressive_pixels(
            jpeg_encode_progressive_pixels(doc, bw, bh)
        )
        assert dec is not None
        w, h, nsc, _stats = dec
        assert (w, h, nsc) == (bw * 8, bh * 8, 14)


def test_randomized_scan_machinery_roundtrip():
    rng = random.Random(20260816)
    for _trial in range(40):
        ncomp = rng.choice([1, 3, 3])
        if ncomp == 1:
            comps = [(1, 1, 1)]
        else:
            hy, vy = rng.choice([(1, 1), (2, 1), (1, 2), (2, 2)])
            comps = [(1, hy, vy), (2, 1, 1), (3, 1, 1)]
        hmax = max(hs for _, hs, _ in comps)
        vmax = max(vs for _, _, vs in comps)
        w = rng.randint(1, 3 * 8 * hmax)
        h = rng.randint(1, 2 * 8 * vmax)
        dal = rng.choice([0, 1, 2])
        aal = rng.choice([0, 1, 2, 3])
        bands = rng.choice(
            [((1, 63),), ((1, 5), (6, 63)), ((1, 20), (21, 63)),
             ((1, 2), (3, 9), (10, 63))]
        )
        cache: dict = {}

        def cf(ci, by, bx, _rng=rng, _cache=cache):
            key = (ci, by, bx)
            if key not in _cache:
                zz = {0: _rng.randint(-128, 127)}
                style = _rng.random()
                if style < 0.25:
                    pass  # DC-only block: EOBRUN food
                elif style < 0.5:
                    for k in sorted(
                        _rng.sample(range(1, 64), _rng.randint(8, 30))
                    ):
                        zz[k] = _rng.choice(
                            [-1, 1, -2, 2, -3, 3,
                             _rng.randint(-31, 31) or 1]
                        )
                else:
                    for k in sorted(
                        _rng.sample(range(1, 64), _rng.randint(1, 4))
                    ):
                        zz[k] = (
                            _rng.choice([-1, 1])
                            if _rng.random() < 0.5
                            else _rng.randint(-200, 200) or 5
                        )
                _cache[key] = zz
            return _cache[key]

        enc = jpeg_encode_progressive(
            w, h, comps, cf, dal=dal, aal=aal, bands=bands
        )
        dec = _jpeg_decode_progressive_pixels(enc)
        assert dec is not None, (comps, w, h, dal, aal, bands)
        assert dec[3] == _expected_stats(w, h, comps, cf), (
            comps, w, h, dal, aal, bands,
        )


def test_quarantines_never_raise(monkeypatch):
    import operator_families.functions.multimodal as mm

    full = jpeg_encode_progressive_pixels(5, 2, 2)
    # truncations at every interesting boundary
    for cut in (0, 1, 2, 20, 60, len(full) // 2, len(full) - 3):
        assert _jpeg_decode_progressive_pixels(full[:cut]) is None
    # a baseline (SOF0) stream is not a progressive decode target
    assert (
        _jpeg_decode_progressive_pixels(jpeg_encode_ycbcr_blocks(1, 1, 1))
        is None
    )
    # ...and the baseline decoder quarantines the progressive stream
    assert _jpeg_decode_pixels(full) is None
    # decompression-bomb fence: same stream, tiny cap
    monkeypatch.setattr(mm, "_PROG_PIXEL_CAP", 8)
    assert _jpeg_decode_progressive_pixels(full) is None
