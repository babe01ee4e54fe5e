"""Unit tests for the r11 raster codecs (Netpbm, QOI, TGA) and systematic
sampling."""

from __future__ import annotations


def test_pnm_all_four_variants():
    """P2/P3/P5/P6 all decode; format string and channel count match
    the variant; ASCII and binary agree on the same formula pixels."""
    from operator_families.functions.multimodal import (
        _pnm_decode,
        pnm_encode,
    )

    for doc, fmt, spp in [(0, "P2", 1), (1, "P3", 3), (2, "P5", 1),
                          (3, "P6", 3)]:
        out = _pnm_decode(pnm_encode(doc, 6, 4))
        assert out is not None and out[0] == fmt and out[3] == spp
    # the ASCII and binary GRAY variants of the same doc formula differ
    # only in serialization: doc 0 (P2) vs doc 2 (P5) use the same
    # formula family with their own doc ids — cross-check doc 4 (P2)
    # against a hand-built P5 of the same pixels
    a = _pnm_decode(pnm_encode(4, 5, 3))
    vals = bytes((4 * 29 + p * 7) % 256 for p in range(15))
    b = _pnm_decode(b"P5\n5 3\n255\n" + vals)
    assert a[4] == b[4] and a[7] == b[7]


def test_pnm_tokenizer_hazards():
    """Comments between header fields, CRLF, and multi-space runs all
    tokenize; truncated binary body and over-maxval ASCII quarantine."""
    from operator_families.functions.multimodal import (
        _pnm_decode,
    )

    ok = _pnm_decode(b"P2 # c\n# full line\n 3\r\n2   255\n0 1 2 3 4 5")
    assert ok is not None and ok[1] == 3 and ok[2] == 2
    assert ok[4] == 15
    assert _pnm_decode(b"P5\n3 2\n255\n\x00\x01") is None   # short body
    assert _pnm_decode(b"P2\n1 1\n255\n300") is None        # > maxval
    assert _pnm_decode(b"P7\n1 1\n255\n0") is None          # bad magic


def test_qoi_known_stream_hand_decoded():
    """A hand-assembled QOI stream exercising RGB, DIFF, RUN, and
    INDEX ops decodes to the exact expected pixels."""
    import struct

    from operator_families.functions.multimodal import (
        _qoi_decode,
        _qoi_hash,
    )

    # 2x3 image: RGB(10,20,30); DIFF(+1,+1,+1); RUN(2); RGB(50,60,70);
    # INDEX back to (10,20,30)
    pix = [(10, 20, 30), (11, 21, 31), (11, 21, 31), (11, 21, 31),
           (50, 60, 70), (10, 20, 30)]
    hdr = b"qoif" + struct.pack(">IIBB", 2, 3, 3, 0)
    body = bytes([0xFE, 10, 20, 30])
    body += bytes([0x40 | (3 << 4) | (3 << 2) | 3])  # DIFF +1,+1,+1
    body += bytes([0xC0 | 1])                        # RUN of 2
    body += bytes([0xFE, 50, 60, 70])
    body += bytes([_qoi_hash(10, 20, 30, 255)])      # INDEX
    stream = hdr + body + b"\x00" * 7 + b"\x01"
    out = _qoi_decode(stream)
    assert out is not None
    w, h, ch, rs, gs, bs, wt = out
    assert (w, h, ch) == (2, 3, 3)
    assert rs == sum(p[0] for p in pix)
    assert gs == sum(p[1] for p in pix)
    assert bs == sum(p[2] for p in pix)
    assert wt == sum((i + 1) * sum(p) for i, p in enumerate(pix))


def test_qoi_encoder_emits_compact_ops():
    """The greedy encoder must actually use RUN (injected repeats) and
    produce a stream smaller than raw RGB for the fixture family."""
    from operator_families.functions.multimodal import (
        _qoi_decode,
        qoi_encode,
    )

    b = qoi_encode(7, 10, 10)
    assert len(b) < 14 + 100 * 4 + 8  # beats 1 tag byte + RGB per pixel
    out = _qoi_decode(b)
    assert out is not None and out[0] == 10 and out[1] == 10
    # truncation and a broken end marker quarantine
    assert _qoi_decode(b[:16]) is None
    assert _qoi_decode(b[:-1] + b"\x02") is None


def test_tga_orientations_and_rle():
    """Bottom-up and top-down storage decode to the same top-down
    stats; RLE and raw streams agree; truncation quarantines."""
    from operator_families.functions.multimodal import (
        _tga_decode,
        tga_encode,
    )

    # doc 0: uncompressed bottom-up; doc 2: uncompressed top-down —
    # same formula family, different storage
    for doc in (0, 1, 2, 3):
        out = _tga_decode(tga_encode(doc, 6, 4))
        assert out is not None
        assert out[2] == (doc % 2 == 1)  # rle flag
    # RLE must actually compress the injected runs
    raw = tga_encode(2, 10, 10)     # even: uncompressed
    rle = tga_encode(3, 10, 10)     # odd: RLE (different doc formula,
    assert len(rle) < 18 + 100 * 3 + 100  # but runs must win overall)
    assert _tga_decode(tga_encode(0, 6, 4)[:12]) is None
