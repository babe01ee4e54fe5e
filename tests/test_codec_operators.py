"""Unit tests for the r11 codec/container operators: IMA-ADPCM WAV
decode, ustar TAR walk (cross-checked against the stdlib ``tarfile``
foreign implementation), and bounded-radius harmonic centrality."""

from __future__ import annotations

import io
import tarfile


def test_ima_state_machine_textbook_steps():
    """Hand-walked nibbles from (pred=0, idx=0): step table entry 0 is
    7, so nibble 4 (bit2 set, positive) moves pred by 7 and bumps the
    index by +2; nibble 0 moves by step>>3 = 0 and decrements the
    index (clamped at 0)."""
    from operator_families.functions.multimodal import (
        _ima_block_samples,
    )

    # nibble 4: diff = 7>>3 + 7 = 7 -> pred 7, idx 0+2=2 (step now 9)
    # nibble 12 (8|4): diff = 9>>3 + 9 = 10 -> pred 7-10 = -3, idx 4
    out = _ima_block_samples(0, 0, [4, 12])
    assert out == [0, 7, -3]
    # clamping: from +32767 keep adding the max nibble 7 a few times
    out = _ima_block_samples(32767, 88, [7, 7])
    assert max(out) == 32767  # pred clamp holds at the rail


def test_adpcm_wav_roundtrip_and_quarantine():
    """The encoder's fixture decodes to exactly spb*n_blocks samples
    whose first per-block sample is the header predictor; truncation
    quarantines."""
    from operator_families.functions.multimodal import (
        _wav_decode_adpcm,
        wav_encode_adpcm,
    )

    doc, spb, nblk = 58, 133, 2
    b = wav_encode_adpcm(doc, spb, nblk)
    dec = _wav_decode_adpcm(b)
    assert dec is not None
    rate, n_ch, n, stats = dec
    assert (rate, n_ch, n) == (8000, 1, spb * nblk)
    assert _wav_decode_adpcm(b[:30]) is None
    assert _wav_decode_adpcm(b"RIFFxxxxWAVE") is None


def test_adpcm_matches_independent_python_decode():
    """Decode the encoder's nibble stream with a from-scratch textbook
    IMA implementation (written against the published spec, not the
    engine's helper) — the two must agree sample-for-sample."""
    from operator_families.functions.multimodal import (
        _IMA_INDEX,
        _IMA_STEPS,
        _wav_decode_adpcm,
        wav_encode_adpcm,
    )

    doc, spb = 29, 150
    b = wav_encode_adpcm(doc, spb, 1)
    _, _, n, (ssum, swt, peak, energy) = _wav_decode_adpcm(b)

    pred = ((doc * 97) % 4096) - 2048
    idx = doc % 89
    samples = [pred]
    for i in range(1, spb):
        v = (doc * 7 + i * 5) % 16
        step = _IMA_STEPS[idx]
        delta = (step >> 3) + (step if v & 4 else 0)
        delta += (step >> 1) if v & 2 else 0
        delta += (step >> 2) if v & 1 else 0
        pred = pred - delta if v & 8 else pred + delta
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + _IMA_INDEX[v & 7]))
        samples.append(pred)
    assert n == len(samples)
    assert ssum == sum(samples)
    assert swt == sum((i + 1) * s for i, s in enumerate(samples))
    assert peak == max(abs(s) for s in samples)
    assert energy == sum(s * s for s in samples)


def test_tar_encoder_parses_with_stdlib_tarfile():
    """The fixture must be a REAL tar: the stdlib tarfile module (a
    foreign implementation) extracts identical names, sizes, and
    contents to the engine's walker."""
    from operator_families.functions.multimodal import (
        _tar_members,
        tar_encode,
    )

    doc, m = 74, 4
    b = tar_encode(doc, m)
    with tarfile.open(fileobj=io.BytesIO(b)) as tf:
        std = [
            (ti.name, ti.size, tf.extractfile(ti).read())
            for ti in tf.getmembers()
        ]
    mine = _tar_members(b)
    assert len(std) == len(mine) == m
    for (sn, ss, sc), (name, size, bsum, wsum, chk) in zip(std, mine):
        assert sn == name and ss == size and chk
        assert bsum == sum(sc)
        assert wsum == sum((i + 1) * v for i, v in enumerate(sc))


def test_tar_walk_quarantine_and_checksum():
    """Truncation mid-member quarantines; a corrupted checksum field is
    reported per-member, not fatal."""
    from operator_families.functions.multimodal import (
        _tar_members,
        tar_encode,
    )

    b = tar_encode(11, 3)
    assert _tar_members(b[:600]) is None
    bad = bytearray(b)
    bad[148] ^= 0x01  # first member's checksum digit
    members = _tar_members(bytes(bad))
    assert members is not None and members[0][4] is False
    assert members[1][4] is True


def test_harmonic_bounded_cycle(spark):
    """Directed 4-cycle a->b->c->d->a: every node reaches one node at
    each of hops 1..3, harmonic_num = 6+3+2 = 11 over 6."""
    from operator_families.functions.graph import (
        harmonic_bounded,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(4)], "node long")
    out = {
        r["node"]: r
        for r in harmonic_bounded(nodes, edges).collect()
    }
    for i in range(4):
        r = out[i]
        assert (r["n1"], r["n2"], r["n3"]) == (1, 1, 1)
        assert r["harmonic_num"] == 11 and r["harmonic_den"] == 6


def test_harmonic_bounded_no_double_count(spark):
    """A node reachable at hops 1 AND 2 counts only at its minimum
    hop; self-loops are excluded."""
    from operator_families.functions.graph import (
        harmonic_bounded,
    )

    # 0->1, 0->2, 1->2 (2 is at hop 1, also reachable at hop 2), 2->2
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 2)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(3)], "node long")
    out = {
        r["node"]: r for r in harmonic_bounded(nodes, edges).collect()
    }
    assert (out[0]["n1"], out[0]["n2"], out[0]["n3"]) == (2, 0, 0)
    assert (out[2]["n1"], out[2]["n2"], out[2]["n3"]) == (0, 0, 0)
