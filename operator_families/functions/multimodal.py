"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns with a typed
metadata struct; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` (the only place Python touches the data — everything before
and after stays JVM-side).  The decode itself is STUBBED deterministically
(no image/audio libraries in this environment, see ``decode_image_meta``);
the Spark-side plumbing — schema, batch iteration, partitioning — is real
and oracle-tested.

At 100 TB: binary columns ride in parquet alongside metadata, so filters on
metadata (format, size, dims) prune row groups WITHOUT decoding payloads;
``mapInPandas`` batches bound Python memory via
``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Output schema of the stubbed decoder.
IMAGE_META = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)


def with_binary_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Attach a deterministic binary payload column (UTF-8 bytes of the
    text — the stand-in for real image bytes) plus a media-type tag."""
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("image/fake").alias("media_type"),
    )


def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB decoder: real implementations would call PIL/ffmpeg here.

    Deterministic fake: dimensions derived from the byte length, so the
    full Arrow round-trip (binary in, typed struct out) is exercised and
    oracle-checkable.  Raises nothing — a real decoder would quarantine
    failures into a null row instead of failing the task.
    """
    for pdf in batches:
        n = pdf["payload"].map(len).astype("int32")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n,
                "width": (n % 64 + 1).astype("int32"),
                "height": (n // 64 % 64 + 1).astype("int32"),
                "format": "fake",
            }
        )


def decode_image_meta(df_with_payload: DataFrame) -> DataFrame:
    """Arrow-batched decode of binary payloads into typed image metadata."""
    return df_with_payload.select("doc_id", "payload").mapInPandas(
        _decode_batch, IMAGE_META
    )


#: JPEG start-of-frame markers that carry dimensions (SOF0-SOF15 minus the
#: non-frame DHT/JPG/DAC markers C4/C8/CC).
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _parse_header(b: bytes) -> tuple[int | None, int | None, str | None]:
    """(width, height, format) from REAL image container bytes.

    Pure byte parsing of the three dominant web-image containers — no
    media library needed, which is exactly why header metadata extraction
    does NOT belong behind the stubbed pixel decoder:

    - PNG: 8-byte signature, then IHDR payload at offset 16 holds
      big-endian u32 width/height (PNG spec, RFC 2083 §4.1.1).
    - JPEG: walk the FF-marker segment chain to the first SOFn frame
      header; its payload is [precision u8][height u16][width u16]
      big-endian (ITU T.81 §B.2.2).  Standalone markers (D0-D7 RST, 01
      TEM, D8 SOI) carry no length word.
    - GIF: 6-byte version signature, then little-endian u16 logical
      screen width/height (GIF89a spec §18).

    Unknown container / truncated header -> (None, None, None): the
    quarantine row, never an exception (a poisoned payload must not kill
    the task).
    """
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
        return (
            int.from_bytes(b[16:20], "big"),
            int.from_bytes(b[20:24], "big"),
            "png",
        )
    if b[:2] == b"\xff\xd8":
        i = 2
        while i + 9 <= len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            if marker == 0xFF:
                i += 1
                continue
            if marker in _JPEG_SOF:
                return (
                    int.from_bytes(b[i + 7 : i + 9], "big"),
                    int.from_bytes(b[i + 5 : i + 7], "big"),
                    "jpeg",
                )
            i += 2 + int.from_bytes(b[i + 2 : i + 4], "big")
        return (None, None, "jpeg")
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        return (
            int.from_bytes(b[6:8], "little"),
            int.from_bytes(b[8:10], "little"),
            "gif",
        )
    return (None, None, None)


def _header_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        parsed = [_parse_header(bytes(p)) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["payload"].map(len).astype("int32"),
                "width": pd.array([p[0] for p in parsed], dtype="Int32"),
                "height": pd.array([p[1] for p in parsed], dtype="Int32"),
                "format": [p[2] for p in parsed],
            }
        )


def parse_image_headers(df_with_payload: DataFrame) -> DataFrame:
    """REAL image-metadata extraction from binary payloads: PNG / JPEG /
    GIF dimensions parsed directly from container bytes (see
    :func:`_parse_header`) — the production upgrade over the documented
    :func:`decode_image_meta` stub for everything that does not require
    pixel access.  Pixel-level decode (resize, embedding) still needs an
    image library and remains stubbed in this environment.

    Same Arrow ``mapInPandas`` shape as the stub: binary in, typed struct
    out, malformed payloads quarantined as null dims, Python memory
    bounded by ``arrow.maxRecordsPerBatch``.  Headers live in the first
    few hundred bytes, so at 100 TB this pairs with a payload-prefix
    column (store the first 1 KB beside the full blob) to parse metadata
    without ever reading full payload row groups.
    """
    return df_with_payload.select("doc_id", "payload").mapInPandas(
        _header_batch, IMAGE_META
    )


def plan_audio_chunks(
    df: DataFrame,
    duration_col: str = "duration_ms",
    chunk_ms: int = 30_000,
    stride_ms: int = 25_000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Segmentation PLAN for long audio: overlapping fixed-length chunks
    (``chunk_ms`` window, ``stride_ms`` hop — the 30s/5s-overlap scheme a
    Whisper-style transcription pipeline feeds), computed from duration
    METADATA only.  The decode/slice of actual audio bytes happens
    downstream against this plan (stubbed in this environment like the
    image decoder); planning from metadata means the payload column is
    never read here — row groups prune on duration alone.

    Returns (id_col, chunk_idx, start_ms, end_ms): starts at every stride
    below the duration, ends clamped to it, zero-length chunks dropped.
    Pure sequence+explode — JVM-side, map-only, no shuffle.
    """
    dur = F.col(duration_col).cast("bigint")
    starts = F.sequence(
        F.lit(0).cast("bigint"),
        F.greatest(dur - 1, F.lit(0).cast("bigint")),
        F.lit(stride_ms).cast("bigint"),
    )
    exploded = df.select(
        F.col(id_col), dur.alias("_dur"), F.explode(starts).alias("start_ms")
    )
    end = F.least(F.col("start_ms") + chunk_ms, F.col("_dur"))
    return (
        exploded.filter(end > F.col("start_ms"))
        .select(
            F.col(id_col),
            F.expr(f"start_ms div {stride_ms}").cast("int").alias("chunk_idx"),
            F.col("start_ms"),
            end.alias("end_ms"),
        )
    )


# ---------------------------------------------------------------------------
# REAL pixel decode: pure-stdlib PNG (zlib inflate + scanline unfilter).
# Closes the "pixel decode is stubbed" gap for the one container that needs
# no media library: PNG's pixel path is DEFLATE (stdlib zlib) + five
# per-scanline predictors (PNG spec / RFC 2083 §6).  JPEG/video pixel
# decode still requires codec libraries and remains stubbed.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}  # grayscale, RGB, RGBA


#: Adam7 interlace pass offsets/steps: (x0, y0, dx, dy) — PNG spec §8.2.
_PNG_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_defilter(raw: bytes, start: int, n_rows: int, w_px: int, ch: int):
    """Reconstruct ``n_rows`` filtered scanlines of ``w_px`` pixels from
    ``raw[start:]`` (each row: 1 filter byte + w_px*ch sample bytes) ->
    (n_rows, w_px*ch) uint8 array, or None on an unknown filter type.
    All five PNG filters (None/Sub/Up/Average/Paeth); shared by the
    sequential path and each Adam7 pass (a pass is an independently
    filtered sub-image — ``prev`` restarts at zero)."""
    import numpy as np

    stride = w_px * ch
    out = np.zeros((n_rows, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(n_rows):
        base = start + y * (stride + 1)
        f = raw[base]
        row = np.frombuffer(raw, np.uint8, stride, base + 1).copy()
        if f == 0:
            pass
        elif f == 1:  # Sub
            for x in range(ch, stride):
                row[x] = (int(row[x]) + int(row[x - ch])) & 0xFF
        elif f == 2:  # Up (uint8 addition wraps mod 256 by itself)
            row += prev
        elif f == 3:  # Average
            for x in range(stride):
                left = int(row[x - ch]) if x >= ch else 0
                row[x] = (int(row[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = int(row[x - ch]) if x >= ch else 0
                up = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                row[x] = (int(row[x]) + pred) & 0xFF
        else:
            return None
        out[y] = row
        prev = row
    return out


def _png_decode_pixels(b: bytes):
    """Decode 8-bit PNG bytes -> (width, height, channels, numpy array
    h x w x channels), or None for anything unsupported / malformed
    (the quarantine contract: never raise).

    Supports color types 0/2/6 (gray, RGB, RGBA) at bit depth 8, all
    five scanline filters (None/Sub/Up/Average/Paeth), and BOTH
    interlace methods — sequential and Adam7 (each of the seven passes
    is an independently filtered sub-image whose pixels scatter back on
    the (x0 + i*dx, y0 + j*dy) grid; passes with zero width or height
    contribute no bytes).  Filters 2 (Up) and 0 vectorize; Sub/Average/
    Paeth scan within the row — fine for the fixture-scale images this
    environment decodes; a production deployment swaps this kernel for
    PIL/libpng behind the SAME mapInPandas contract.
    """
    import struct
    import zlib

    import numpy as np

    if b[:8] != _PNG_SIG:
        return None
    pos, idat, meta = 8, [], None
    while pos + 8 <= len(b):
        ln = int.from_bytes(b[pos : pos + 4], "big")
        typ = b[pos + 4 : pos + 8]
        if pos + 12 + ln > len(b):
            return None
        data = b[pos + 8 : pos + 8 + ln]
        if typ == b"IHDR":
            if ln != 13:
                return None
            w, h, bd, ct, _comp, _filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if bd != 8 or ct not in _PNG_CHANNELS or inter not in (0, 1):
                return None
            meta = (w, h, _PNG_CHANNELS[ct], inter)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if meta is None or not idat:
        return None
    w, h, ch, inter = meta
    if w == 0 or h == 0:
        return None
    stride = w * ch
    if inter:
        passes = [
            (x0, y0, dx, dy,
             (w - x0 + dx - 1) // dx if w > x0 else 0,
             (h - y0 + dy - 1) // dy if h > y0 else 0)
            for x0, y0, dx, dy in _PNG_ADAM7
        ]
        expected = sum(
            ph * (pw * ch + 1) for *_xy, pw, ph in passes if pw and ph
        )
    else:
        expected = (stride + 1) * h
    # A header can DECLARE absurd dimensions too — cap the inflated
    # buffer at 64 MiB (far above any fixture, far below executor RAM)
    # so the max_length bound below is itself bounded.
    if expected > 64 * 1024 * 1024:
        return None
    try:
        # Bound inflation by the declared dimensions BEFORE allocating:
        # a crafted decompression-bomb IDAT must quarantine (None), not
        # exhaust executor memory.  Valid streams inflate to exactly
        # `expected` bytes and are fully consumed.
        dec = zlib.decompressobj()
        raw = dec.decompress(b"".join(idat), expected)
        if dec.unconsumed_tail or dec.decompress(b"", 1):
            return None
    except zlib.error:
        return None
    if len(raw) != expected:
        return None
    if inter:
        img = np.zeros((h, w, ch), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy, pw, ph in passes:
            if not pw or not ph:
                continue
            sub = _png_defilter(raw, off, ph, pw, ch)
            if sub is None:
                return None
            img[y0::dy, x0::dx] = sub.reshape(ph, pw, ch)
            off += ph * (pw * ch + 1)
        return w, h, ch, img
    out = _png_defilter(raw, 0, h, w, ch)
    if out is None:
        return None
    return w, h, ch, out.reshape(h, w, ch)


#: Output schema of the pixel-stats decoder: exact integer channel sums so
#: the gate hash-matches an arithmetic oracle (no float means).
PIXEL_STATS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("ch0_sum", T.LongType()),
        T.StructField("ch1_sum", T.LongType()),
        T.StructField("ch2_sum", T.LongType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def _pixel_stats_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            dec = _png_decode_pixels(bytes(payload))
            if dec is None:
                rows.append((doc_id, None, None, None, None, None, None, False))
                continue
            w, h, ch, px = dec
            sums = px.astype("int64").sum(axis=(0, 1))
            rows.append(
                (
                    doc_id,
                    w,
                    h,
                    ch,
                    int(sums[0]),
                    int(sums[1]) if ch >= 3 else None,
                    int(sums[2]) if ch >= 3 else None,
                    True,
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "channels",
                "ch0_sum", "ch1_sum", "ch2_sum", "decoded",
            ],
        ).astype(
            {
                "width": "Int32", "height": "Int32", "channels": "Int32",
                "ch0_sum": "Int64", "ch1_sum": "Int64", "ch2_sum": "Int64",
            }
        )


def decode_png_pixel_stats(df_with_payload: DataFrame) -> DataFrame:
    """REAL pixel decode over a binary PNG column: inflate + unfilter via
    :func:`_png_decode_pixels`, then exact per-channel pixel sums — the
    integer statistics an oracle can recompute, unlike a float mean.
    Unsupported/corrupt payloads come back quarantined
    (``decoded = false``, null stats), never as task failures.

    Same scale shape as the other kernels: Arrow ``mapInPandas``, map-only
    (zero shuffles), Python memory bounded by ``arrow.maxRecordsPerBatch``.
    """
    return df_with_payload.select("doc_id", "payload").mapInPandas(
        _pixel_stats_batch, PIXEL_STATS
    )


#: Per-thumbnail-pixel output of the nearest-neighbor resize kernel:
#: exact sampled channel bytes so the oracle can recompute each pixel
#: arithmetically (a float bilinear resample could not be gated this way).
THUMB_PIXELS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("tx", T.IntegerType()),
        T.StructField("ty", T.IntegerType()),
        T.StructField("ch0", T.IntegerType()),
        T.StructField("ch1", T.IntegerType()),
        T.StructField("ch2", T.IntegerType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def png_thumbnail_pixels(
    df_with_payload: DataFrame, thumb_w: int = 4, thumb_h: int = 3
) -> DataFrame:
    """Decode-and-downsample: inflate + unfilter the PNG payload
    (:func:`_png_decode_pixels`), then NEAREST-NEIGHBOR resample to a
    fixed ``thumb_w x thumb_h`` grid — the thumbnail/feature-extraction
    step of a multimodal training pipeline, emitted one row per
    thumbnail pixel with its exact sampled channel bytes.

    Source index is the floor map ``sx = tx * w // thumb_w`` (top-left
    convention, pure integer — deterministic on any engine; a
    center-sampling or bilinear kernel would introduce float rounding
    the oracle could not replay exactly).  Corrupt/unsupported payloads
    quarantine as ONE row (null coordinates, ``decoded = false``) —
    never a task failure.  Grayscale inputs carry ch0 only.

    Scale shape: Arrow ``mapInPandas``, map-only, output bounded at
    ``thumb_w * thumb_h`` rows per image regardless of source size.
    """
    if thumb_w < 1 or thumb_h < 1:
        raise ValueError("thumb_w and thumb_h must be >= 1")

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                dec = _png_decode_pixels(bytes(payload))
                if dec is None:
                    rows.append(
                        (doc_id, None, None, None, None, None, False)
                    )
                    continue
                w, h, ch, px = dec
                for ty in range(thumb_h):
                    sy = ty * h // thumb_h
                    for tx in range(thumb_w):
                        sx = tx * w // thumb_w
                        v = px[sy, sx]
                        rows.append(
                            (
                                doc_id,
                                tx,
                                ty,
                                int(v[0]),
                                int(v[1]) if ch >= 3 else None,
                                int(v[2]) if ch >= 3 else None,
                                True,
                            )
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "tx", "ty", "ch0", "ch1", "ch2", "decoded",
                ],
            ).astype(
                {
                    "tx": "Int32", "ty": "Int32",
                    "ch0": "Int32", "ch1": "Int32", "ch2": "Int32",
                }
            )

    return df_with_payload.select("doc_id", "payload").mapInPandas(
        batch, THUMB_PIXELS
    )


def png_encode_rgb(
    doc_id: int, width: int, height: int, interlace: bool = False
) -> bytes:
    """Deterministic RGB PNG fixture: pixel (p = y*width+x) channel c has
    value ``(doc_id*31 + p*3 + c) % 256`` — an arithmetic formula a SQL
    oracle reproduces without any image code, while the bytes themselves
    are a fully valid zlib-compressed PNG (filter 0 scanlines, CRC'd
    chunks).  With ``interlace`` the SAME pixels are emitted as the
    seven Adam7 passes (sub-images over the (x0 + i*dx, y0 + j*dy)
    grids, empty passes contributing no bytes), so the two encodings
    share one oracle formula.  The encode side of the decode gates;
    filters 1-4 and the gray/RGBA paths are pinned by pytest instead."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, 2, 0, 0, 1 if interlace else 0
    )
    base = doc_id * 31
    raw = bytearray()
    if interlace:
        for x0, y0, dx, dy in _PNG_ADAM7:
            pw = (width - x0 + dx - 1) // dx if width > x0 else 0
            ph = (height - y0 + dy - 1) // dy if height > y0 else 0
            if not pw or not ph:
                continue
            for j in range(ph):
                raw.append(0)  # filter type None
                y = y0 + j * dy
                for i in range(pw):
                    p = y * width + (x0 + i * dx)
                    raw.extend(
                        (base + p * 3 + c) % 256 for c in range(3)
                    )
    else:
        stride = width * 3
        for y in range(height):
            raw.append(0)  # filter type None
            off = base + y * stride
            raw.extend((off + i) % 256 for i in range(stride))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# REAL JPEG entropy decode, DC-only (pure stdlib): baseline sequential
# JPEG's DC coefficients are recoverable with nothing but canonical
# Huffman decoding and the bit-extend rule (JPEG / ITU-T T.81, public
# spec) — no IDCT, no codec library.  The DC of each 8x8 block is
# 8 * (block_mean - 128) pre-quantization, so DC-only decode yields the
# exact per-block mean image: the thumbnail/statistics path a training
# pipeline wants from image corpora without full pixel reconstruction.
# The FULL pixel decode (AC Huffman + dequant + IDCT + YCbCr, r9) lives
# further down (_jpeg_decode_pixels); this DC-only path remains the
# cheap O(entropy-bytes) statistics kernel.
# ---------------------------------------------------------------------------

#: Standard DC luminance Huffman spec (T.81 Annex K.3.1, public).
_JPEG_STD_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_STD_DC_VALS = tuple(range(12))


def _huff_canonical(bits, vals):
    """Canonical Huffman code assignment (T.81 C.2): returns
    {symbol: (code, length)} — shared by the fixture encoder and pytest;
    the decoder builds the inverse map from the DHT payload."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitReader:
    """MSB-first bit reader over an entropy-coded segment with 0xFF00
    byte unstuffing; stops (raises EOFError) at any real marker."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf, self.pos, self.bit = buf, pos, 0
        self.marker = None

    def _byte(self) -> int:
        b = self.buf[self.pos]
        if b == 0xFF:
            nxt = self.buf[self.pos + 1]
            if nxt != 0x00:
                self.marker = nxt
                raise EOFError
        return b

    def read_bit(self) -> int:
        if self.pos >= len(self.buf):
            raise EOFError
        b = self._byte()
        v = (b >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 2 if b == 0xFF else 1
        return v

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_and_skip_rst(self) -> None:
        """Byte-align and consume an expected RSTn marker."""
        if self.bit:
            self.bit = 0
            self.pos += 2 if self.buf[self.pos] == 0xFF else 1
        if (
            self.pos + 1 < len(self.buf)
            and self.buf[self.pos] == 0xFF
            and 0xD0 <= self.buf[self.pos + 1] <= 0xD7
        ):
            self.pos += 2


def _huff_decode(rd: _BitReader, table: dict) -> int:
    """Decode one symbol from {(code, length): symbol}; max 16 bits."""
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | rd.read_bit()
        ln += 1
        sym = table.get((code, ln))
        if sym is not None:
            return sym
    raise EOFError


def _extend(v: int, cat: int) -> int:
    """T.81 EXTEND: map `cat` raw bits to the signed coefficient."""
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _jpeg_decode_dc(b: bytes):
    """DC-only decode of a baseline JPEG -> (width, height, blocks_w,
    blocks_h, [dequantized DC per luma block, raster order]) or None
    (quarantine — malformed, progressive, subsampled, or 12-bit input).
    Supports multi-component interleaved scans with all-1x1 sampling,
    multiple DQT/DHT segments, and DRI restart intervals."""
    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        return None
    pos = 2
    qtabs: dict[int, list[int]] = {}
    htabs: dict[tuple[int, int], dict] = {}
    sof = None
    restart = 0
    try:
        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                return None
            m = b[pos + 1]
            if m == 0xD9:  # EOI before SOS
                return None
            ln = int.from_bytes(b[pos + 2 : pos + 4], "big")
            seg = b[pos + 4 : pos + 2 + ln]
            if len(seg) != ln - 2:
                return None
            if m == 0xDB:  # DQT (possibly several tables per segment)
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 15
                    if pq != 0:
                        return None  # 16-bit tables: not baseline-8
                    qtabs[tq] = list(seg[i + 1 : i + 65])
                    i += 65
            elif m == 0xC4:  # DHT
                i = 0
                while i + 17 <= len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 15
                    bits = list(seg[i + 1 : i + 17])
                    n = sum(bits)
                    vals = list(seg[i + 17 : i + 17 + n])
                    enc = _huff_canonical(bits, vals)
                    htabs[(tc, th)] = {
                        (c, l): s for s, (c, l) in enc.items()
                    }
                    i += 17 + n
            elif m == 0xC0:  # SOF0 baseline
                prec, h, w, nc = seg[0], int.from_bytes(
                    seg[1:3], "big"
                ), int.from_bytes(seg[3:5], "big"), seg[5]
                if prec != 8 or w == 0 or h == 0:
                    return None
                comps = []
                for c in range(nc):
                    cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                    if samp != 0x11:
                        return None  # subsampling out of scope
                    comps.append((cid, tq))
                sof = (w, h, comps)
            elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                       0xCB, 0xCD, 0xCE, 0xCF):
                return None  # non-baseline SOF
            elif m == 0xDD:  # DRI
                restart = int.from_bytes(seg[0:2], "big")
            elif m == 0xDA:  # SOS -> entropy-coded data follows
                if sof is None:
                    return None
                w, h, comps = sof
                ns = seg[0]
                scan = []
                for c in range(ns):
                    cs, tdta = seg[1 + 2 * c], seg[2 + 2 * c]
                    td, ta = tdta >> 4, tdta & 15
                    tq = next(
                        (q for cid, q in comps if cid == cs), None
                    )
                    if tq is None:
                        return None
                    scan.append((cs, td, ta, tq))
                bw, bh = (w + 7) // 8, (h + 7) // 8
                rd = _BitReader(b, pos + 2 + ln)
                pred = {cs: 0 for cs, *_ in scan}
                dcs: list[int] = []
                q0 = None
                for blk in range(bw * bh):
                    if restart and blk and blk % restart == 0:
                        rd.align_and_skip_rst()
                        pred = {cs: 0 for cs, *_ in scan}
                    for ci, (cs, td, ta, tq) in enumerate(scan):
                        dct = htabs.get((0, td))
                        act = htabs.get((1, ta))
                        qt = qtabs.get(tq)
                        if dct is None or act is None or qt is None:
                            return None
                        cat = _huff_decode(rd, dct)
                        if cat > 15:
                            return None
                        diff = _extend(rd.read_bits(cat), cat)
                        pred[cs] += diff
                        if ci == 0:
                            if q0 is None:
                                q0 = qt[0]
                            dcs.append(pred[cs] * qt[0])
                        k = 1  # skip AC coefficients via their table
                        while k <= 63:
                            sym = _huff_decode(rd, act)
                            if sym == 0x00:  # EOB
                                break
                            if sym == 0xF0:  # ZRL
                                k += 16
                                continue
                            run, size = sym >> 4, sym & 15
                            if size == 0:
                                return None
                            k += run + 1
                            rd.read_bits(size)
                        if k > 64:
                            return None
                return (w, h, bw, bh, dcs)
            pos += 2 + ln
        return None
    except (EOFError, IndexError):
        return None


def jpeg_encode_gray_blocks(
    doc_id: int, blocks_w: int, blocks_h: int
) -> bytes:
    """Deterministic grayscale baseline-JPEG fixture: block i (raster
    order) is CONSTANT at value ``(doc_id * 17 + i * 7) % 256``, so the
    forward DCT has only a DC term — ``8 * (v - 128)`` exactly — and
    with an all-ones quant table the encode is lossless for the block
    means.  The entropy stream is real canonical-Huffman JPEG (std DC
    luminance table, minimal one-symbol AC table emitting EOB), so the
    decoder exercises genuine marker walking, DHT construction, bit
    unstuffing, and DC prediction; an arithmetic SQL oracle reproduces
    the block means without seeing a byte."""
    import struct

    dc_enc = _huff_canonical(_JPEG_STD_DC_BITS, _JPEG_STD_DC_VALS)
    # minimal AC table: single symbol 0x00 (EOB) with a 1-bit code
    ac_bits = [1] + [0] * 15
    ac_enc = _huff_canonical(ac_bits, [0x00])

    out_bits: list[tuple[int, int]] = []
    prev = 0
    for i in range(blocks_w * blocks_h):
        v = (doc_id * 17 + i * 7) % 256
        dc = 8 * (v - 128)
        diff = dc - prev
        prev = dc
        cat = abs(diff).bit_length()
        code, ln = dc_enc[cat]
        out_bits.append((code, ln))
        if cat:
            raw = diff if diff >= 0 else diff + (1 << cat) - 1
            out_bits.append((raw, cat))
        out_bits.append(ac_enc[0x00])  # EOB: all AC zero

    # pack MSB-first, 1-pad to byte edge, stuff 0xFF with 0x00
    acc, nacc, payload = 0, 0, bytearray()
    for v, ln in out_bits:
        acc = (acc << ln) | (v & ((1 << ln) - 1))
        nacc += ln
        while nacc >= 8:
            byte = (acc >> (nacc - 8)) & 0xFF
            payload.append(byte)
            if byte == 0xFF:
                payload.append(0x00)
            nacc -= 8
    if nacc:
        byte = ((acc << (8 - nacc)) | ((1 << (8 - nacc)) - 1)) & 0xFF
        payload.append(byte)
        if byte == 0xFF:
            payload.append(0x00)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    w, h = blocks_w * 8, blocks_h * 8
    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_STD_DC_BITS) + bytes(_JPEG_STD_DC_VALS)
        + bytes([0x10]) + bytes(ac_bits) + bytes([0x00]),
    )
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return (
        b"\xff\xd8" + dqt + sof + dht + sos + bytes(payload) + b"\xff\xd9"
    )


# ---------------------------------------------------------------------------
# FULL baseline JPEG pixel decode (pure stdlib + numpy): the r8 decoder
# stopped at DC coefficients; this completes ITU-T T.81 baseline —
# AC run-length Huffman decode through the zigzag, dequantization, the
# exact 2-D type-III IDCT (separable basis, numpy matmul), level shift,
# and JFIF YCbCr -> RGB via the libjpeg-style FIXED-POINT integer
# contract (scaled 2^16 constants, +32768 bias, arithmetic shift), so
# every emitted statistic is an exact BIGINT an arithmetic SQL oracle
# can reproduce.  The fixture (jpeg_encode_ycbcr_blocks) drives only
# the {0,4}x{0,4} frequency pairs with levels x quant divisible by 8 —
# those four DCT bases are EXACTLY integer-valued on the 8x8 grid
# (cos((2x+1)*4*pi/16) = +-sqrt(2)/2 and the normalization cancels), so
# the float IDCT lands within 1e-12 of integers and floor(x + .5) pins
# the contract; the DECODER itself is general baseline (any coefficient
# set, 1- or 3-component interleaved 1x1-sampled scans, restarts).
# ---------------------------------------------------------------------------


def _zigzag64() -> list[int]:
    """T.81 zigzag scan: position k -> row-major coefficient index."""
    order, r, c = [], 0, 0
    for _ in range(64):
        order.append(r * 8 + c)
        if (r + c) % 2 == 0:
            if c == 7:
                r += 1
            elif r == 0:
                c += 1
            else:
                r -= 1
                c += 1
        else:
            if r == 7:
                c += 1
            elif c == 0:
                r += 1
            else:
                r += 1
                c -= 1
    return order


_JPEG_ZZ = _zigzag64()

#: YCbCr -> RGB fixed-point constants: round(coef * 65536) of the JFIF
#: matrix (1.402, 0.344136, 0.714136, 1.772) — the libjpeg convention;
#: value = (sum + 32768) >> 16 with arithmetic (floor) shift.
_FIX_RCR, _FIX_GCB, _FIX_GCR, _FIX_BCB = 91881, 22554, 46802, 116130

_IDCT_BASIS = None


def _idct_basis():
    """64x64 IDCT basis: row k (row-major v*8+u) holds the pixel-domain
    values of basis (u, v), so pixels = coeff_vec @ basis."""
    global _IDCT_BASIS
    if _IDCT_BASIS is None:
        import math

        import numpy as np

        b = np.empty((64, 64), dtype=np.float64)
        for v in range(8):
            for u in range(8):
                cu = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
                cv = (1.0 / math.sqrt(2.0)) if v == 0 else 1.0
                for y in range(8):
                    for x in range(8):
                        b[v * 8 + u, y * 8 + x] = (
                            0.25
                            * cu
                            * cv
                            * math.cos((2 * x + 1) * u * math.pi / 16.0)
                            * math.cos((2 * y + 1) * v * math.pi / 16.0)
                        )
        _IDCT_BASIS = b
    return _IDCT_BASIS


def _jpeg_decode_pixels(b: bytes):
    """Full baseline decode -> (width, height, stats) or None (quarantine).

    ``stats`` = (y_sum, cb_sum, cr_sum, y_weighted, r_sum, g_sum, b_sum)
    over the CROPPED w x h image: exact integer sums of the reconstructed
    samples (level-shifted, floor(x+.5)-rounded, clamped 0..255);
    ``y_weighted`` = sum (raster_pos + 1) * Y pins spatial layout.  For
    1-component (grayscale) input the chroma/RGB sums are None.
    Envelope: 8-bit SOF0 with DRI restarts; LUMA sampling factors h,v in
    {1,2} with 1x1 chroma — i.e. 4:4:4, 4:2:2 (2x1), 4:4:0 (1x2) and the
    dominant real-world 4:2:0 (2x2) all decode, with chroma upsampled by
    NEAREST-NEIGHBOR sample replication (each chroma sample covers its
    (hmax/h) x (vmax/v) luma pixels exactly — the deterministic choice an
    arithmetic oracle can replay; no interpolation).  Anything else
    (progressive, 12-bit, chroma-subsampled-below-luma, h/v > 2)
    quarantines.
    """
    import numpy as np

    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        return None
    pos = 2
    qtabs: dict[int, list[int]] = {}
    htabs: dict[tuple[int, int], dict] = {}
    sof = None
    restart = 0
    try:
        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                return None
            m = b[pos + 1]
            if m == 0xD9:
                return None
            ln = int.from_bytes(b[pos + 2 : pos + 4], "big")
            seg = b[pos + 4 : pos + 2 + ln]
            if len(seg) != ln - 2:
                return None
            if m == 0xDB:
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 15
                    if pq != 0:
                        return None
                    qtabs[tq] = list(seg[i + 1 : i + 65])
                    i += 65
            elif m == 0xC4:
                i = 0
                while i + 17 <= len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 15
                    bits = list(seg[i + 1 : i + 17])
                    n = sum(bits)
                    vals = list(seg[i + 17 : i + 17 + n])
                    enc = _huff_canonical(bits, vals)
                    htabs[(tc, th)] = {
                        (c, l): s for s, (c, l) in enc.items()
                    }
                    i += 17 + n
            elif m == 0xC0:
                prec = seg[0]
                h = int.from_bytes(seg[1:3], "big")
                w = int.from_bytes(seg[3:5], "big")
                nc = seg[5]
                if prec != 8 or w == 0 or h == 0 or nc not in (1, 3):
                    return None
                comps = []
                for c in range(nc):
                    cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                    hs, vs = samp >> 4, samp & 15
                    if hs not in (1, 2) or vs not in (1, 2):
                        return None
                    comps.append((cid, tq, hs, vs))
                # single-component scans ignore sampling (non-interleaved
                # MCU = 1 block); only the luma of a 3-component image may
                # subsample the chroma — chroma sampled BELOW 1x1 of luma
                # grid or above it is out of envelope
                if nc == 1 and comps[0][2:] != (1, 1):
                    return None
                if nc == 3 and (
                    comps[1][2:] != (1, 1) or comps[2][2:] != (1, 1)
                ):
                    return None
                sof = (w, h, comps)
            elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                       0xCB, 0xCD, 0xCE, 0xCF):
                return None
            elif m == 0xDD:
                restart = int.from_bytes(seg[0:2], "big")
            elif m == 0xDA:
                if sof is None:
                    return None
                w, h, comps = sof
                ns = seg[0]
                if ns != len(comps):
                    return None
                scan = []
                for c in range(ns):
                    cs, tdta = seg[1 + 2 * c], seg[2 + 2 * c]
                    td, ta = tdta >> 4, tdta & 15
                    comp = next(
                        (cc for cc in comps if cc[0] == cs), None
                    )
                    if comp is None:
                        return None
                    _, tq, hs, vs = comp
                    scan.append((cs, td, ta, tq, hs, vs))
                hmax = max(s[4] for s in scan)
                vmax = max(s[5] for s in scan)
                mw, mh = 8 * hmax, 8 * vmax
                mcux = (w + mw - 1) // mw
                mcuy = (h + mh - 1) // mh
                rd = _BitReader(b, pos + 2 + ln)
                pred = {cs: 0 for cs, *_ in scan}
                basis = _idct_basis()
                y_sum = cb_sum = cr_sum = y_wt = 0
                r_sum = g_sum = b_sum2 = 0
                for mcu in range(mcux * mcuy):
                    if restart and mcu and mcu % restart == 0:
                        rd.align_and_skip_rst()
                        pred = {cs: 0 for cs, *_ in scan}
                    planes = []
                    for cs, td, ta, tq, hs, vs in scan:
                        dct = htabs.get((0, td))
                        act = htabs.get((1, ta))
                        qt = qtabs.get(tq)
                        if dct is None or act is None or qt is None:
                            return None
                        plane = np.empty((8 * vs, 8 * hs), dtype=np.int64)
                        # a component contributes hs*vs data units per
                        # MCU, in raster order inside the MCU
                        for by in range(vs):
                            for bx in range(hs):
                                cat = _huff_decode(rd, dct)
                                if cat > 15:
                                    return None
                                diff = _extend(rd.read_bits(cat), cat)
                                pred[cs] += diff
                                coeffs = np.zeros(64, dtype=np.float64)
                                coeffs[_JPEG_ZZ[0]] = pred[cs] * qt[0]
                                k = 1
                                while k <= 63:
                                    sym = _huff_decode(rd, act)
                                    if sym == 0x00:
                                        break
                                    if sym == 0xF0:
                                        k += 16
                                        continue
                                    run, size = sym >> 4, sym & 15
                                    if size == 0:
                                        return None
                                    k += run
                                    if k > 63:
                                        return None
                                    coeffs[_JPEG_ZZ[k]] = (
                                        _extend(rd.read_bits(size), size)
                                        * qt[k]
                                    )
                                    k += 1
                                px = coeffs @ basis
                                px = np.clip(
                                    np.floor(px + 128.5), 0, 255
                                ).astype(np.int64)
                                plane[
                                    by * 8 : by * 8 + 8,
                                    bx * 8 : bx * 8 + 8,
                                ] = px.reshape(8, 8)
                        if hs != hmax or vs != vmax:
                            # nearest-neighbor replication to the luma
                            # grid: each chroma sample covers its
                            # (hmax/hs) x (vmax/vs) pixel footprint
                            plane = np.repeat(
                                np.repeat(plane, vmax // vs, axis=0),
                                hmax // hs,
                                axis=1,
                            )
                        planes.append(plane)
                    gx0 = (mcu % mcux) * mw
                    gy0 = (mcu // mcux) * mh
                    ww = min(mw, w - gx0)
                    hh = min(mh, h - gy0)
                    if ww <= 0 or hh <= 0:
                        continue
                    yv = planes[0][:hh, :ww]
                    y_sum += int(yv.sum())
                    posg = (
                        (gy0 + np.arange(hh))[:, None] * w
                        + (gx0 + np.arange(ww))[None, :]
                        + 1
                    )
                    y_wt += int((posg * yv).sum())
                    if len(planes) == 3:
                        cbv = planes[1][:hh, :ww]
                        crv = planes[2][:hh, :ww]
                        cb_sum += int(cbv.sum())
                        cr_sum += int(crv.sum())
                        dcb, dcr = cbv - 128, crv - 128
                        r = yv + ((_FIX_RCR * dcr + 32768) >> 16)
                        g = yv - (
                            (_FIX_GCB * dcb + _FIX_GCR * dcr + 32768)
                            >> 16
                        )
                        bch = yv + ((_FIX_BCB * dcb + 32768) >> 16)
                        r_sum += int(np.clip(r, 0, 255).sum())
                        g_sum += int(np.clip(g, 0, 255).sum())
                        b_sum2 += int(np.clip(bch, 0, 255).sum())
                if len(scan) == 3:
                    return (
                        w, h,
                        (y_sum, cb_sum, cr_sum, y_wt,
                         r_sum, g_sum, b_sum2),
                    )
                return (w, h, (y_sum, None, None, y_wt, None, None, None))
            pos += 2 + ln
        return None
    except (EOFError, IndexError):
        return None


def jpeg_encode_ycbcr_blocks(
    doc_id: int, blocks_w: int, blocks_h: int
) -> bytes:
    """Deterministic 3-component (YCbCr 1x1) baseline-JPEG fixture with
    REAL AC structure: per MCU ``i`` and component ``c`` the quantized
    levels sit at zigzag positions 0 (DC), 10 (u=0,v=4), 14 (u=4,v=0)
    and 39 (u=4,v=4) —

        dc  = ((doc_id*7 + i*5 + c*11) % 160) - 80
        ly  = ((doc_id   + i*3 + c  ) %  31) - 15   (zz 10, s(y))
        lx  = ((doc_id*3 + i   + c*5) %  31) - 15   (zz 14, s(x))
        lxy = ((doc_id   + i   + c  ) %  25) - 12   (zz 39, s(x)s(y))

    with an all-8 quant table, so dequantized coefficients are multiples
    of 8 and the IDCT is EXACTLY sample(x,y) = 128 + dc + s(y)*ly +
    s(x)*lx + s(x)*s(y)*lxy where s = [+1,-1,-1,+1,+1,-1,-1,+1] (those
    four bases are integer-valued on the 8x8 grid; range 128+-122, no
    clamping).  The AC stream exercises genuine run-length decode: runs
    of 9 and 3 zeros between the nonzeros and a ZRL+run-8 pair crossing
    to zz 39; zero levels drop out and shift every later run, so the
    run arithmetic itself is under test.  Entropy tables: std DC
    luminance + a custom all-7-bit canonical AC table covering EOB, ZRL
    and every (run 0..15, size 1..4) symbol."""
    import struct

    dc_enc = _huff_canonical(_JPEG_STD_DC_BITS, _JPEG_STD_DC_VALS)
    ac_syms = sorted(
        [0x00, 0xF0]
        + [(run << 4) | size for run in range(16) for size in range(1, 5)]
    )
    ac_bits = [0] * 16
    ac_bits[6] = len(ac_syms)  # all codes length 7 (66 <= 127)
    ac_enc = _huff_canonical(ac_bits, ac_syms)

    out_bits: list[tuple[int, int]] = []
    pred = [0, 0, 0]
    for i in range(blocks_w * blocks_h):
        for c in range(3):
            zz = [0] * 64
            zz[0] = ((doc_id * 7 + i * 5 + c * 11) % 160) - 80
            zz[10] = ((doc_id + i * 3 + c) % 31) - 15
            zz[14] = ((doc_id * 3 + i + c * 5) % 31) - 15
            zz[39] = ((doc_id + i + c) % 25) - 12
            diff = zz[0] - pred[c]
            pred[c] = zz[0]
            cat = abs(diff).bit_length()
            out_bits.append(dc_enc[cat])
            if cat:
                raw = diff if diff >= 0 else diff + (1 << cat) - 1
                out_bits.append((raw, cat))
            run = 0
            for k in range(1, 64):
                lvl = zz[k]
                if lvl == 0:
                    run += 1
                    continue
                while run > 15:
                    out_bits.append(ac_enc[0xF0])
                    run -= 16
                size = abs(lvl).bit_length()
                out_bits.append(ac_enc[(run << 4) | size])
                raw = lvl if lvl >= 0 else lvl + (1 << size) - 1
                out_bits.append((raw, size))
                run = 0
            if run:
                out_bits.append(ac_enc[0x00])  # EOB

    acc, nacc, payload = 0, 0, bytearray()
    for v, ln in out_bits:
        acc = (acc << ln) | (v & ((1 << ln) - 1))
        nacc += ln
        while nacc >= 8:
            byte = (acc >> (nacc - 8)) & 0xFF
            payload.append(byte)
            if byte == 0xFF:
                payload.append(0x00)
            nacc -= 8
    if nacc:
        byte = ((acc << (8 - nacc)) | ((1 << (8 - nacc)) - 1)) & 0xFF
        payload.append(byte)
        if byte == 0xFF:
            payload.append(0x00)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    w, h = blocks_w * 8, blocks_h * 8
    dqt = seg(0xDB, bytes([0x00]) + bytes([8] * 64))
    sof = seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_STD_DC_BITS) + bytes(_JPEG_STD_DC_VALS)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_syms),
    )
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    return (
        b"\xff\xd8" + dqt + sof + dht + sos + bytes(payload) + b"\xff\xd9"
    )


def jpeg_encode_ycbcr_subsampled(
    doc_id: int,
    mcus_w: int,
    mcus_h: int,
    hy: int = 2,
    vy: int = 2,
    width: int | None = None,
    height: int | None = None,
) -> bytes:
    """Deterministic SUBSAMPLED baseline-JPEG fixture: luma sampled
    ``hy x vy`` (2x2 = the dominant real-world 4:2:0; 2x1 = 4:2:2;
    1x2 = 4:4:0), chroma 1x1, interleaved MCU scan with the same
    4-coefficient closed-form block structure as
    :func:`jpeg_encode_ycbcr_blocks`: per block-sequence index ``t``
    (for Y: t = mcu*(hy*vy) + in-MCU raster block j; for chroma:
    t = mcu) and component ``c`` the quantized levels sit at zigzag
    0/10/14/39 —

        dc  = ((doc_id*7 + t*5 + c*11) % 160) - 80
        ly  = ((doc_id   + t*3 + c  ) %  31) - 15
        lx  = ((doc_id*3 + t   + c*5) %  31) - 15
        lxy = ((doc_id   + t   + c  ) %  25) - 12

    with the all-8 quant table, so each decoded 8x8 data unit is
    EXACTLY sample(x,y) = 128 + dc + s(y)ly + s(x)lx + s(x)s(y)lxy,
    s = [+1,-1,-1,+1,+1,-1,-1,+1] (range 128+-122, no clamping) — an
    arithmetic SQL oracle reproduces every upsampled pixel.  ``width``/
    ``height`` declare cropped SOF dims (default full MCU grid
    ``16*mcus_w x 16*mcus_h`` at 2x2) to exercise the partial-MCU crop,
    including chroma-replication edges."""
    import struct

    if hy not in (1, 2) or vy not in (1, 2) or hy * vy == 1:
        raise ValueError("luma sampling must subsample: hy*vy > 1")
    w = 8 * hy * mcus_w if width is None else width
    h = 8 * vy * mcus_h if height is None else height

    dc_enc = _huff_canonical(_JPEG_STD_DC_BITS, _JPEG_STD_DC_VALS)
    ac_syms = sorted(
        [0x00, 0xF0]
        + [(run << 4) | size for run in range(16) for size in range(1, 5)]
    )
    ac_bits = [0] * 16
    ac_bits[6] = len(ac_syms)
    ac_enc = _huff_canonical(ac_bits, ac_syms)

    out_bits: list[tuple[int, int]] = []
    pred = [0, 0, 0]

    def put_block(c: int, t: int) -> None:
        zz = [0] * 64
        zz[0] = ((doc_id * 7 + t * 5 + c * 11) % 160) - 80
        zz[10] = ((doc_id + t * 3 + c) % 31) - 15
        zz[14] = ((doc_id * 3 + t + c * 5) % 31) - 15
        zz[39] = ((doc_id + t + c) % 25) - 12
        diff = zz[0] - pred[c]
        pred[c] = zz[0]
        cat = abs(diff).bit_length()
        out_bits.append(dc_enc[cat])
        if cat:
            raw = diff if diff >= 0 else diff + (1 << cat) - 1
            out_bits.append((raw, cat))
        run = 0
        for k in range(1, 64):
            lvl = zz[k]
            if lvl == 0:
                run += 1
                continue
            while run > 15:
                out_bits.append(ac_enc[0xF0])
                run -= 16
            size = abs(lvl).bit_length()
            out_bits.append(ac_enc[(run << 4) | size])
            raw = lvl if lvl >= 0 else lvl + (1 << size) - 1
            out_bits.append((raw, size))
            run = 0
        if run:
            out_bits.append(ac_enc[0x00])

    for i in range(mcus_w * mcus_h):
        for j in range(hy * vy):          # Y data units, in-MCU raster
            put_block(0, i * (hy * vy) + j)
        put_block(1, i)                   # Cb
        put_block(2, i)                   # Cr

    acc, nacc, payload = 0, 0, bytearray()
    for v, ln in out_bits:
        acc = (acc << ln) | (v & ((1 << ln) - 1))
        nacc += ln
        while nacc >= 8:
            byte = (acc >> (nacc - 8)) & 0xFF
            payload.append(byte)
            if byte == 0xFF:
                payload.append(0x00)
            nacc -= 8
    if nacc:
        byte = ((acc << (8 - nacc)) | ((1 << (8 - nacc)) - 1)) & 0xFF
        payload.append(byte)
        if byte == 0xFF:
            payload.append(0x00)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([8] * 64))
    sof = seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, (hy << 4) | vy, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_STD_DC_BITS) + bytes(_JPEG_STD_DC_VALS)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_syms),
    )
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    return (
        b"\xff\xd8" + dqt + sof + dht + sos + bytes(payload) + b"\xff\xd9"
    )


# ---------------------------------------------------------------------------
# REAL WAV (RIFF) PCM16 decode, pure stdlib: chunk walking with the
# word-alignment pad byte (odd-sized chunks are followed by one pad —
# the classic RIFF parsing bug), fmt validation (PCM, 16-bit), and
# little-endian signed sample extraction.  Exact integer statistics so
# an arithmetic SQL oracle reproduces them from the fixture formula.
# ---------------------------------------------------------------------------


def _wav_decode_pcm16(b: bytes):
    """RIFF/WAVE PCM16 -> (sample_rate, n_channels, n_samples, stats) or
    None (quarantine).  ``stats`` = (sample_sum, sample_weighted,
    peak_abs, energy) over the flat interleaved sample stream:
    sample_weighted = sum (i+1) * s_i pins sample ORDER, energy =
    sum s_i^2.  Non-PCM / non-16-bit / malformed chunks quarantine."""
    import numpy as np

    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    riff_len = int.from_bytes(b[4:8], "little")
    if riff_len + 8 > len(b):
        return None  # truncated vs declared size
    pos = 12
    fmt = None
    data = None
    try:
        while pos + 8 <= len(b):
            cid = b[pos : pos + 4]
            sz = int.from_bytes(b[pos + 4 : pos + 8], "little")
            body = b[pos + 8 : pos + 8 + sz]
            if len(body) != sz:
                return None
            if cid == b"fmt ":
                if sz < 16:
                    return None
                audio_fmt = int.from_bytes(body[0:2], "little")
                n_ch = int.from_bytes(body[2:4], "little")
                rate = int.from_bytes(body[4:8], "little")
                bits = int.from_bytes(body[14:16], "little")
                if audio_fmt != 1 or bits != 16 or n_ch == 0:
                    return None
                fmt = (rate, n_ch)
            elif cid == b"data":
                data = body
            pos += 8 + sz + (sz & 1)  # word-align: odd chunks carry a pad
        if fmt is None or data is None or len(data) % 2:
            return None
        rate, n_ch = fmt
        s = np.frombuffer(data, dtype="<i2").astype(np.int64)
        n = int(s.size)
        if n % n_ch:
            return None
        return (
            rate,
            n_ch,
            n,
            (
                int(s.sum()),
                int(((np.arange(n, dtype=np.int64) + 1) * s).sum()),
                int(np.abs(s).max()) if n else 0,
                int((s * s).sum()),
            ),
        )
    except (IndexError, ValueError):
        return None


def wav_encode_pcm16(doc_id: int, n_samples: int) -> bytes:
    """Deterministic mono PCM16 WAV fixture: sample i is
    ``((doc_id * 13 + i * 7) % 4001) - 2000``.  The chunk list includes
    an ODD-sized junk chunk before ``fmt `` so the decoder's pad-byte
    arithmetic is actually exercised (skipping it lands mid-chunk)."""
    import struct

    samples = bytearray()
    for i in range(n_samples):
        samples += struct.pack(
            "<h", ((doc_id * 13 + i * 7) % 4001) - 2000
        )
    junk = b"note" + struct.pack("<I", 3) + b"odd" + b"\x00"  # pad byte
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16
    )
    data = b"data" + struct.pack("<I", len(samples)) + bytes(samples)
    if len(samples) & 1:
        data += b"\x00"
    body = b"WAVE" + junk + fmt + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# REAL BMP decode (BITMAPINFOHEADER, BI_RGB 24bpp), pure stdlib: 4-byte
# row padding, BGR byte order, and the bottom-up row layout (positive
# height) — the three classic BMP bugs — plus top-down (negative
# height) support.  Exact channel sums + a position-weighted sum that
# pins the row FLIP, for the arithmetic oracle.
# ---------------------------------------------------------------------------


def _bmp_decode_pixels(b: bytes):
    """BMP -> (width, height, (r_sum, g_sum, b_sum, rgb_weighted)) or
    None.  ``rgb_weighted`` = sum over TOP-DOWN raster positions p of
    (p+1) * (r + g + b): a bottom-up image decoded without the flip
    hash-mismatches immediately."""
    import numpy as np

    if len(b) < 54 or b[0:2] != b"BM":
        return None
    try:
        data_off = int.from_bytes(b[10:14], "little")
        hdr_sz = int.from_bytes(b[14:18], "little")
        if hdr_sz < 40:
            return None
        w = int.from_bytes(b[18:22], "little", signed=True)
        h = int.from_bytes(b[22:26], "little", signed=True)
        planes = int.from_bytes(b[26:28], "little")
        bpp = int.from_bytes(b[28:30], "little")
        comp = int.from_bytes(b[30:34], "little")
        if planes != 1 or bpp != 24 or comp != 0 or w <= 0 or h == 0:
            return None
        top_down = h < 0
        h_abs = -h if top_down else h
        stride = (w * 3 + 3) & ~3
        need = data_off + stride * h_abs
        if need > len(b):
            return None
        rows = np.frombuffer(
            b, dtype=np.uint8, count=stride * h_abs, offset=data_off
        ).reshape(h_abs, stride)[:, : w * 3]
        if not top_down:
            rows = rows[::-1]  # stored bottom-up -> top-down raster
        px = rows.reshape(h_abs, w, 3).astype(np.int64)
        bch, gch, rch = px[..., 0], px[..., 1], px[..., 2]  # BGR order
        pos = (
            np.arange(h_abs * w, dtype=np.int64).reshape(h_abs, w) + 1
        )
        return (
            w,
            h_abs,
            (
                int(rch.sum()),
                int(gch.sum()),
                int(bch.sum()),
                int((pos * (rch + gch + bch)).sum()),
            ),
        )
    except (IndexError, ValueError):
        return None


def bmp_encode_rgb(doc_id: int, width: int, height: int) -> bytes:
    """Deterministic 24bpp BI_RGB BMP fixture, stored BOTTOM-UP with
    4-byte row padding: top-down raster pixel p = y*width+x has
    r = (doc_id*31 + p*3) % 256, g = +1, b = +2 (the PNG fixture's
    formula family, so oracles share shape)."""
    import struct

    stride = (width * 3 + 3) & ~3
    rows = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up storage
        row = bytearray()
        for x in range(width):
            p = y * width + x
            r = (doc_id * 31 + p * 3) % 256
            g = (doc_id * 31 + p * 3 + 1) % 256
            bb = (doc_id * 31 + p * 3 + 2) % 256
            row += bytes((bb, g, r))  # BGR on disk
        row += b"\x00" * (stride - len(row))
        rows += row
    data_off = 14 + 40
    fsize = data_off + len(rows)
    hdr = b"BM" + struct.pack("<IHHI", fsize, 0, 0, data_off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(rows),
        2835, 2835, 0, 0,
    )
    return hdr + dib + bytes(rows)


# ---------------------------------------------------------------------------
# REAL GIF decode (GIF89a, pure stdlib): logical-screen + image
# descriptors, global color table, sub-block reassembly, and a genuine
# LZW decompressor — LSB-first code packing, dictionary growth through
# 12-bit codes, CLEAR resets, and the KwKwK (code == next slot) case.
# The fixture runs a REAL LZW compressor over formula-valued indices
# (encode and decode are not mirror-symmetric — the decoder's deferred
# dictionary insert can't be cancelled by an encoder bug — and a
# hand-crafted stream pins the decoder independently in pytest).
# ---------------------------------------------------------------------------


def _lzw_decode(data: bytes, min_code_size: int) -> list[int] | None:
    """GIF-flavor LZW: returns the index stream or None on corruption."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    code_size = min_code_size + 1
    acc = nbits = 0
    out: list[int] = []
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits  # LSB-first packing
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = table[: clear + 2]
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                if code >= len(table):
                    return None
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
            else:
                return None
            out.extend(entry)
            prev = entry
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
    return out


def _lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """Standard GIF LZW compressor (dictionary growth, CLEAR on full
    12-bit table, LSB-first packing) — the fixture side."""
    clear = 1 << min_code_size
    eoi = clear + 1

    def fresh() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(clear)}

    table = fresh()
    next_code = clear + 2
    code_size = min_code_size + 1
    acc = nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    w = b""
    for idx in indices:
        k = w + bytes([idx])
        if k in table:
            w = k
            continue
        emit(table[w])
        table[k] = next_code
        next_code += 1
        if next_code > (1 << code_size):
            if code_size < 12:
                code_size += 1
            else:
                emit(clear)
                table = fresh()
                next_code = clear + 2
                code_size = min_code_size + 1
        w = k[-1:]
    if w:
        emit(table[w])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_decode_pixels(b: bytes):
    """GIF89a/87a -> (width, height, (r_sum, g_sum, b_sum,
    idx_weighted)) or None.  Single non-interlaced image over the
    global color table; ``idx_weighted`` = sum (p+1) * palette_index
    over raster order pins the LZW stream byte-for-byte."""
    if len(b) < 13 or b[0:6] not in (b"GIF89a", b"GIF87a"):
        return None
    try:
        flags = b[10]
        if not flags & 0x80:
            return None  # no global color table
        gct_n = 2 << (flags & 7)
        pos = 13
        palette = b[pos : pos + 3 * gct_n]
        if len(palette) != 3 * gct_n:
            return None
        pos += 3 * gct_n
        while pos < len(b):
            blk = b[pos]
            if blk == 0x21:  # extension: label + sub-blocks
                pos += 2
                while b[pos] != 0:
                    pos += 1 + b[pos]
                pos += 1
            elif blk == 0x2C:  # image descriptor
                w = int.from_bytes(b[pos + 5 : pos + 7], "little")
                h = int.from_bytes(b[pos + 7 : pos + 9], "little")
                iflags = b[pos + 9]
                if iflags & 0xC0:  # local table / interlace: out of scope
                    return None
                pos += 10
                min_cs = b[pos]
                pos += 1
                data = bytearray()
                while b[pos] != 0:
                    n = b[pos]
                    data += b[pos + 1 : pos + 1 + n]
                    pos += 1 + n
                pos += 1
                if not 2 <= min_cs <= 8 or w == 0 or h == 0:
                    return None
                idx = _lzw_decode(bytes(data), min_cs)
                if idx is None or len(idx) != w * h:
                    return None
                rs = gs = bs = wt = 0
                for p, i in enumerate(idx):
                    if i >= gct_n:
                        return None
                    rs += palette[3 * i]
                    gs += palette[3 * i + 1]
                    bs += palette[3 * i + 2]
                    wt += (p + 1) * i
                return (w, h, (rs, gs, bs, wt))
            elif blk == 0x3B:
                return None  # trailer before any image
            else:
                return None
        return None
    except IndexError:
        return None


def gif_encode_indexed(doc_id: int, width: int, height: int) -> bytes:
    """Deterministic GIF89a fixture: 64-color global palette with
    color i = ((doc_id*7 + i*11) % 256, (i*3) % 256, (i*5 + 1) % 256),
    pixel p (raster) = index (doc_id*11 + p*13) % 64 — repeats in the
    index stream drive REAL LZW dictionary growth.  A comment extension
    precedes the image so block skipping is exercised."""
    import struct

    gct_bits = 6  # 64 colors
    palette = bytearray()
    for i in range(64):
        palette += bytes(
            (
                (doc_id * 7 + i * 11) % 256,
                (i * 3) % 256,
                (i * 5 + 1) % 256,
            )
        )
    indices = [
        (doc_id * 11 + p * 13) % 64 for p in range(width * height)
    ]
    lzw = _lzw_encode(indices, 6)
    sub = bytearray()
    for off in range(0, len(lzw), 255):
        chunk = lzw[off : off + 255]
        sub += bytes([len(chunk)]) + chunk
    sub += b"\x00"
    hdr = b"GIF89a" + struct.pack(
        "<HHBBB", width, height, 0x80 | (gct_bits - 1), 0, 0
    )
    comment = b"\x21\xfe\x04spfx\x00"
    img = b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    return (
        hdr + bytes(palette) + comment + img + bytes([6]) + bytes(sub)
        + b"\x3b"
    )


def _gif_decode_frames(b: bytes, stride: int = 1, max_frames: int = 4096):
    """Multi-frame (animated) GIF walk -> (width, height,
    [(frame_no, delay_cs, r_sum, g_sum, b_sum, idx_weighted), ...]) for
    every SAMPLED frame (``frame_no % stride == 0``), or None
    (quarantine).  Unsampled frames are skipped STRUCTURALLY — the
    sub-block chain is walked but the LZW stream is never decoded —
    which is the point of frame sampling at scale (decode cost
    proportional to sampled frames, I/O proportional to the file).

    ``delay_cs`` is the frame's Graphic Control Extension delay in
    centiseconds (0 when no GCE precedes it).  Envelope: full-canvas
    (0,0,w,h) non-interlaced frames over the global color table;
    local color tables, interlace, or offset sub-frames quarantine.
    ``max_frames`` caps the walk (decompression-bomb fence).
    """
    if len(b) < 13 or b[0:6] not in (b"GIF89a", b"GIF87a"):
        return None
    try:
        gw = int.from_bytes(b[6:8], "little")
        gh = int.from_bytes(b[8:10], "little")
        flags = b[10]
        if not flags & 0x80:
            return None
        gct_n = 2 << (flags & 7)
        pos = 13
        palette = b[pos : pos + 3 * gct_n]
        if len(palette) != 3 * gct_n:
            return None
        pos += 3 * gct_n
        frames: list[tuple] = []
        frame_no = 0
        delay = 0
        while pos < len(b):
            blk = b[pos]
            if blk == 0x21:  # extension: label + sub-blocks
                if b[pos + 1] == 0xF9 and b[pos + 2] == 4:
                    # GCE: 21 F9 04 <flags> <delay lo> <delay hi> ...
                    delay = int.from_bytes(b[pos + 4 : pos + 6], "little")
                pos += 2
                while b[pos] != 0:
                    pos += 1 + b[pos]
                pos += 1
            elif blk == 0x2C:  # image descriptor
                x0 = int.from_bytes(b[pos + 1 : pos + 3], "little")
                y0 = int.from_bytes(b[pos + 3 : pos + 5], "little")
                w = int.from_bytes(b[pos + 5 : pos + 7], "little")
                h = int.from_bytes(b[pos + 7 : pos + 9], "little")
                iflags = b[pos + 9]
                if iflags & 0xC0 or x0 or y0 or w != gw or h != gh:
                    return None
                pos += 10
                min_cs = b[pos]
                pos += 1
                if not 2 <= min_cs <= 8 or w == 0 or h == 0:
                    return None
                if frame_no % stride == 0:
                    data = bytearray()
                    while b[pos] != 0:
                        n = b[pos]
                        data += b[pos + 1 : pos + 1 + n]
                        pos += 1 + n
                    pos += 1
                    idx = _lzw_decode(bytes(data), min_cs)
                    if idx is None or len(idx) != w * h:
                        return None
                    rs = gs = bs = wt = 0
                    for p, i in enumerate(idx):
                        if i >= gct_n:
                            return None
                        rs += palette[3 * i]
                        gs += palette[3 * i + 1]
                        bs += palette[3 * i + 2]
                        wt += (p + 1) * i
                    frames.append((frame_no, delay, rs, gs, bs, wt))
                else:
                    while b[pos] != 0:  # structural skip, no LZW decode
                        pos += 1 + b[pos]
                    pos += 1
                frame_no += 1
                delay = 0
                if frame_no > max_frames:
                    return None
            elif blk == 0x3B:  # trailer
                break
            else:
                return None
        if not frames:
            return None
        return (gw, gh, frames)
    except IndexError:
        return None


def gif_encode_animated(
    doc_id: int, width: int, height: int, n_frames: int
) -> bytes:
    """Deterministic ANIMATED GIF89a fixture: the
    :func:`gif_encode_indexed` 64-color palette, ``n_frames``
    full-canvas frames each preceded by a Graphic Control Extension
    with delay ``4 + (doc_id + f) % 7`` centiseconds, pixel ``p`` of
    frame ``f`` = palette index ``(doc_id*11 + f*17 + p*13) % 64``,
    plus a NETSCAPE2.0 looping application extension so the generic
    extension skip is exercised on a multi-sub-block extension."""
    import struct

    gct_bits = 6
    palette = bytearray()
    for i in range(64):
        palette += bytes(
            (
                (doc_id * 7 + i * 11) % 256,
                (i * 3) % 256,
                (i * 5 + 1) % 256,
            )
        )
    hdr = b"GIF89a" + struct.pack(
        "<HHBBB", width, height, 0x80 | (gct_bits - 1), 0, 0
    )
    netscape = (
        b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    )
    body = bytearray()
    for f in range(n_frames):
        delay = 4 + (doc_id + f) % 7
        body += b"\x21\xf9\x04\x00" + struct.pack("<H", delay) + b"\x00\x00"
        indices = [
            (doc_id * 11 + f * 17 + p * 13) % 64
            for p in range(width * height)
        ]
        lzw = _lzw_encode(indices, 6)
        sub = bytearray()
        for off in range(0, len(lzw), 255):
            chunk = lzw[off : off + 255]
            sub += bytes([len(chunk)]) + chunk
        sub += b"\x00"
        body += b"\x2c" + struct.pack(
            "<HHHHB", 0, 0, width, height, 0
        ) + bytes([6]) + bytes(sub)
    return hdr + bytes(palette) + netscape + bytes(body) + b"\x3b"


# ---------------------------------------------------------------------------
# PROGRESSIVE JPEG, DC path (T.81 Annex G): SOF2 images whose DC
# coefficients arrive as a first scan (DPCM of DC >> Al) followed by
# successive-approximation refinement scans (one raw magnitude bit per
# block per scan).  Real-world progressive files front-load exactly this
# information — decoding the DC path yields the block-mean image (the
# 1/64-scale preview) without the multi-scan AC machinery.  AC scans
# (Ss > 0), multi-component progressive, and subsampling stay out of
# envelope (quarantine).  Closes half of the former "progressive JPEG
# quarantines entirely" gap.
# ---------------------------------------------------------------------------


def _next_marker(b: bytes, pos: int) -> int:
    """First offset >= pos of a real marker (0xFF followed by neither a
    stuffing 0x00 nor an RSTn) — the end of an entropy-coded segment."""
    while pos + 1 < len(b):
        if b[pos] == 0xFF and b[pos + 1] != 0x00 and not (
            0xD0 <= b[pos + 1] <= 0xD7
        ):
            return pos
        pos += 1
    return len(b)


def _jpeg_decode_progressive_dc(b: bytes):
    """Progressive (SOF2) grayscale DC decode -> (width, height,
    blocks_w, blocks_h, n_scans, [dequantized DC per block, raster])
    or None (quarantine).  Scan chain per T.81 G.1.2: the first DC scan
    (Ah=0) DPCM-codes ``DC >> Al``; each refinement scan (Ah=Al+1)
    appends one raw bit per block at position Al; the image is complete
    when Al reaches 0 — anything else (AC scans, missing refinements,
    multi-component, subsampled, 12-bit) returns None."""
    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        return None
    pos = 2
    qtabs: dict[int, list[int]] = {}
    htabs: dict[tuple[int, int], dict] = {}
    sof = None
    coefs: list[int] | None = None
    cur_al = None  # Al after the scans seen so far; 0 = complete
    n_scans = 0
    try:
        while pos + 2 <= len(b):
            if b[pos] != 0xFF:
                return None
            m = b[pos + 1]
            if m == 0xD9:  # EOI
                break
            ln = int.from_bytes(b[pos + 2 : pos + 4], "big")
            seg = b[pos + 4 : pos + 2 + ln]
            if len(seg) != ln - 2:
                return None
            if m == 0xDB:
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 15
                    if pq != 0:
                        return None
                    qtabs[tq] = list(seg[i + 1 : i + 65])
                    i += 65
            elif m == 0xC4:
                i = 0
                while i + 17 <= len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 15
                    bits = list(seg[i + 1 : i + 17])
                    n = sum(bits)
                    vals = list(seg[i + 17 : i + 17 + n])
                    enc = _huff_canonical(bits, vals)
                    htabs[(tc, th)] = {
                        (c, l): s for s, (c, l) in enc.items()
                    }
                    i += 17 + n
            elif m == 0xC2:  # SOF2 progressive
                prec = seg[0]
                h = int.from_bytes(seg[1:3], "big")
                w = int.from_bytes(seg[3:5], "big")
                nc = seg[5]
                if prec != 8 or w == 0 or h == 0 or nc != 1:
                    return None  # multi-component progressive: out of scope
                cid, samp, tq = seg[6:9]
                if samp != 0x11:
                    return None
                sof = (w, h, cid, tq)
            elif m in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                       0xCB, 0xCD, 0xCE, 0xCF):
                return None  # sequential/other SOF in a progressive path
            elif m == 0xDA:
                if sof is None:
                    return None
                w, h, cid, tq = sof
                ns = seg[0]
                if ns != 1 or seg[1] != cid:
                    return None
                td = seg[2] >> 4
                ss, se = seg[3], seg[4]
                ah, al = seg[5] >> 4, seg[5] & 15
                if ss != 0 or se != 0:
                    return None  # AC scan: out of envelope
                bw, bh = (w + 7) // 8, (h + 7) // 8
                nblk = bw * bh
                rd = _BitReader(b, pos + 2 + ln)
                if ah == 0:
                    # first DC scan: DPCM of DC >> al
                    if coefs is not None:
                        return None  # duplicate first scan
                    dct = htabs.get((0, td))
                    if dct is None:
                        return None
                    pred = 0
                    coefs = []
                    for _ in range(nblk):
                        cat = _huff_decode(rd, dct)
                        if cat > 15:
                            return None
                        pred += _extend(rd.read_bits(cat), cat)
                        coefs.append(pred << al)
                    cur_al = al
                else:
                    # refinement: Ah must continue the chain (Ah == Al+1
                    # of the remaining precision), one raw bit per block
                    if coefs is None or cur_al is None:
                        return None
                    if ah != cur_al or al != cur_al - 1:
                        return None
                    for i in range(nblk):
                        if rd.read_bit():
                            coefs[i] |= 1 << al
                    cur_al = al
                n_scans += 1
                pos = _next_marker(b, pos + 2 + ln)
                continue
            pos += 2 + ln
        if sof is None or coefs is None or cur_al != 0:
            return None  # incomplete successive approximation
        w, h, cid, tq = sof
        qt = qtabs.get(tq)
        if qt is None:
            return None
        bw, bh = (w + 7) // 8, (h + 7) // 8
        return (w, h, bw, bh, n_scans, [c * qt[0] for c in coefs])
    except (EOFError, IndexError):
        return None


def jpeg_encode_progressive_dc(
    doc_id: int, blocks_w: int, blocks_h: int, al: int = 1
) -> bytes:
    """Deterministic grayscale PROGRESSIVE-JPEG fixture (SOF2): block
    ``i`` has quantized DC ``((doc_id * 19 + i * 23) % 256) - 128``
    (all-ones quant table), delivered as a first DC scan at precision
    ``al`` (DPCM of DC >> al, std DC table) followed by ``al``
    refinement scans each appending one magnitude bit per block — the
    T.81 successive-approximation chain, with real byte stuffing per
    scan."""
    import struct

    dc_enc = _huff_canonical(_JPEG_STD_DC_BITS, _JPEG_STD_DC_VALS)
    dcs = [
        ((doc_id * 19 + i * 23) % 256) - 128
        for i in range(blocks_w * blocks_h)
    ]

    def pack(bits_list):
        acc, nacc, payload = 0, 0, bytearray()
        for v, ln in bits_list:
            acc = (acc << ln) | (v & ((1 << ln) - 1))
            nacc += ln
            while nacc >= 8:
                byte = (acc >> (nacc - 8)) & 0xFF
                payload.append(byte)
                if byte == 0xFF:
                    payload.append(0x00)
                nacc -= 8
        if nacc:
            byte = ((acc << (8 - nacc)) | ((1 << (8 - nacc)) - 1)) & 0xFF
            payload.append(byte)
            if byte == 0xFF:
                payload.append(0x00)
        return bytes(payload)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    w, h = blocks_w * 8, blocks_h * 8
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    out += seg(0xC2, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_STD_DC_BITS)
        + bytes(_JPEG_STD_DC_VALS),
    )
    # scan 1: DPCM of DC >> al
    bits: list[tuple[int, int]] = []
    pred = 0
    for d in dcs:
        v = d >> al
        diff = v - pred
        pred = v
        cat = abs(diff).bit_length()
        bits.append(dc_enc[cat])
        if cat:
            raw = diff if diff >= 0 else diff + (1 << cat) - 1
            bits.append((raw, cat))
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, (0 << 4) | al]))
    out += pack(bits)
    # refinement scans: one raw bit per block, al-1 .. 0
    for lvl in range(al - 1, -1, -1):
        out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, ((lvl + 1) << 4) | lvl]))
        out += pack([((d >> lvl) & 1, 1) for d in dcs])
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# PROGRESSIVE JPEG, FULL pixel path (T.81 Annex G, G.1.2.2-G.1.2.3):
# completes the DC-only path above with the two AC scan kinds real
# progressive files carry — spectral-selection AC first scans (band
# Ss..Se, EOBRUN run-length across blocks) and successive-approximation
# AC refinement scans (newly-significant coefficients plus one
# correction bit per already-nonzero coefficient, with correction bits
# riding EOB runs).  The scan state machine mirrors the public T.81
# flowcharts (figures G.2/G.7) as implemented by every production
# decoder; entropy, zigzag, dequant, IDCT and the fixed-point
# YCbCr->RGB close are the SAME machinery as the baseline path, so the
# two paths must agree coefficient-for-coefficient.
#
# Envelope: 8-bit SOF2, 1 or 3 components, luma sampling h,v in {1,2}
# with 1x1 chroma (so progressive 4:4:4 / 4:2:2 / 4:4:0 / 4:2:0 all
# decode), DRI restarts.  Anything else quarantines.  Memory: unlike
# the one-MCU baseline path, progressive decode inherently buffers the
# full coefficient plane across scans (the format interleaves scans
# over the whole image), so images above _PROG_PIXEL_CAP pixels
# quarantine rather than risk a decompression bomb — a policy knob, not
# an algorithmic limit.
# ---------------------------------------------------------------------------

#: Max w*h a progressive decode will buffer coefficients for (policy).
_PROG_PIXEL_CAP = 1 << 22


def _ac_first_block(rd, act, row, ss, se, al, eobrun):
    """Decode one block of an AC FIRST scan (T.81 G.1.2.2) into
    ``row`` (natural-order int64 coefficients); returns the updated
    EOB run (blocks remaining to skip)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _huff_decode(rd, act)
        r, s = sym >> 4, sym & 15
        if s:
            k += r
            if k > se:
                raise ValueError("AC run past band end")
            row[_JPEG_ZZ[k]] = _extend(rd.read_bits(s), s) << al
            k += 1
        elif r == 15:
            k += 16  # ZRL: sixteen zero coefficients
        else:
            # EOBn: run of 2^r + ext bits blocks ends here (this block
            # is the first of the run)
            return (1 << r) + (rd.read_bits(r) if r else 0) - 1
    return 0


def _ac_refine_block(rd, act, row, ss, se, al, eobrun):
    """Decode one block of an AC REFINEMENT scan (T.81 G.1.2.3): each
    Huffman symbol is (zero-history-run << 4) | 1 for a newly
    significant +-2^Al, ZRL (16 zero-history positions) or EOBn; while
    advancing, every already-nonzero coefficient consumes one
    correction bit that may add 2^Al toward its sign.  Correction bits
    for blocks inside an EOB run are consumed by the run handler.
    Returns the updated EOB run."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _huff_decode(rd, act)
            r, s = sym >> 4, sym & 15
            val = 0
            if s:
                if s != 1:
                    raise ValueError("refinement size must be 1")
                val = p1 if rd.read_bit() else -p1
            elif r != 15:
                eobrun = (1 << r) + (rd.read_bits(r) if r else 0)
                break
            # advance past r zero-history coefficients, applying
            # correction bits to nonzero-history ones along the way
            while k <= se:
                z = _JPEG_ZZ[k]
                c = int(row[z])
                if c != 0:
                    if rd.read_bit() and not (c & p1):
                        row[z] = c + (p1 if c >= 0 else -p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val:
                if k > se:
                    raise ValueError("refinement run past band end")
                row[_JPEG_ZZ[k]] = val
            k += 1
    if eobrun > 0:
        # rest of this block: correction bits only
        while k <= se:
            z = _JPEG_ZZ[k]
            c = int(row[z])
            if c != 0:
                if rd.read_bit() and not (c & p1):
                    row[z] = c + (p1 if c >= 0 else -p1)
            k += 1
        eobrun -= 1
    return eobrun


def _jpeg_decode_progressive_pixels(b: bytes):
    """Full progressive (SOF2) decode -> (width, height, n_scans,
    stats) or None (quarantine).  ``stats`` is the SAME 7-tuple
    contract as :func:`_jpeg_decode_pixels` (y/cb/cr sums, positional
    y_weighted, fixed-point RGB sums; chroma/RGB None for grayscale),
    so a progressive and a baseline encoding of the same coefficients
    must produce identical rows."""
    import numpy as np

    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        return None
    pos = 2
    qtabs: dict[int, list[int]] = {}
    htabs: dict[tuple[int, int], dict] = {}
    sof = None
    geom = None  # per comp: (bpl_padded, rows_padded, cw, ch)
    coef = None  # per comp: np (nblk, 64) int64, natural order
    dc_done: set = set()
    restart = 0
    n_scans = 0
    try:
        while pos + 2 <= len(b):
            if b[pos] != 0xFF:
                return None
            m = b[pos + 1]
            if m == 0xD9:
                break
            ln = int.from_bytes(b[pos + 2 : pos + 4], "big")
            seg = b[pos + 4 : pos + 2 + ln]
            if len(seg) != ln - 2:
                return None
            if m == 0xDB:
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 15
                    if pq != 0:
                        return None
                    qtabs[tq] = list(seg[i + 1 : i + 65])
                    i += 65
            elif m == 0xC4:
                i = 0
                while i + 17 <= len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 15
                    bits = list(seg[i + 1 : i + 17])
                    n = sum(bits)
                    vals = list(seg[i + 17 : i + 17 + n])
                    enc = _huff_canonical(bits, vals)
                    htabs[(tc, th)] = {
                        (c, l): s for s, (c, l) in enc.items()
                    }
                    i += 17 + n
            elif m == 0xDD:
                restart = int.from_bytes(seg[0:2], "big")
            elif m == 0xC2:
                prec = seg[0]
                h = int.from_bytes(seg[1:3], "big")
                w = int.from_bytes(seg[3:5], "big")
                nc = seg[5]
                if prec != 8 or w == 0 or h == 0 or nc not in (1, 3):
                    return None
                if w * h > _PROG_PIXEL_CAP:
                    return None  # decompression-bomb fence (policy)
                comps = []
                for c in range(nc):
                    cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                    hs, vs = samp >> 4, samp & 15
                    if hs not in (1, 2) or vs not in (1, 2):
                        return None
                    comps.append((cid, tq, hs, vs))
                if nc == 1 and comps[0][2:] != (1, 1):
                    return None
                if nc == 3 and (
                    comps[1][2:] != (1, 1) or comps[2][2:] != (1, 1)
                ):
                    return None
                sof = (w, h, comps)
            elif m in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                       0xCB, 0xCD, 0xCE, 0xCF):
                return None  # non-SOF2 frame in a progressive path
            elif m == 0xDA:
                if sof is None:
                    return None
                w, h, comps = sof
                hmax = max(c[2] for c in comps)
                vmax = max(c[3] for c in comps)
                mcux = (w + 8 * hmax - 1) // (8 * hmax)
                mcuy = (h + 8 * vmax - 1) // (8 * vmax)
                if geom is None:
                    geom, coef = [], []
                    for cid, tq, hs, vs in comps:
                        bpl, nrow = mcux * hs, mcuy * vs
                        cw = (-(-(w * hs) // hmax) + 7) // 8
                        ch = (-(-(h * vs) // vmax) + 7) // 8
                        geom.append((bpl, nrow, cw, ch))
                        coef.append(
                            np.zeros((nrow * bpl, 64), dtype=np.int64)
                        )
                ns = seg[0]
                if len(seg) != 4 + 2 * ns:
                    return None
                scomp = []
                for cx in range(ns):
                    cs, tdta = seg[1 + 2 * cx], seg[2 + 2 * cx]
                    ci = next(
                        (
                            j
                            for j, cc in enumerate(comps)
                            if cc[0] == cs
                        ),
                        None,
                    )
                    if ci is None:
                        return None
                    scomp.append((ci, tdta >> 4, tdta & 15))
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ahal = seg[3 + 2 * ns]
                ah, al = ahal >> 4, ahal & 15
                rd = _BitReader(b, pos + 2 + ln)
                if ah != 0 and ah != al + 1:
                    return None  # broken successive-approximation chain
                if ss == 0:
                    # ---- DC scan (first or refinement) ----
                    if se != 0:
                        return None
                    if ah == 0:
                        dtabs = []
                        for ci, td, _ in scomp:
                            t = htabs.get((0, td))
                            if t is None:
                                return None
                            dtabs.append(t)
                    elif any(ci not in dc_done for ci, _, _ in scomp):
                        return None  # refinement before first DC scan
                    if ns > 1:
                        # interleaved: MCU walk over the padded grid
                        preds = [0] * len(scomp)
                        for mcu in range(mcux * mcuy):
                            if restart and mcu and mcu % restart == 0:
                                rd.align_and_skip_rst()
                                preds = [0] * len(scomp)
                            mx, my = mcu % mcux, mcu // mcux
                            for si, (ci, td, _) in enumerate(scomp):
                                _, _, hs, vs = comps[ci]
                                bpl = geom[ci][0]
                                for by in range(vs):
                                    for bx in range(hs):
                                        blk = (my * vs + by) * bpl + (
                                            mx * hs + bx
                                        )
                                        if ah == 0:
                                            cat = _huff_decode(
                                                rd, dtabs[si]
                                            )
                                            if cat > 15:
                                                return None
                                            preds[si] += _extend(
                                                rd.read_bits(cat), cat
                                            )
                                            coef[ci][blk, 0] = (
                                                preds[si] << al
                                            )
                                        elif rd.read_bit():
                                            coef[ci][blk, 0] |= 1 << al
                    else:
                        # non-interleaved: the component's own grid
                        ci, td, _ = scomp[0]
                        bpl, nrow, cw, ch = geom[ci]
                        pred = cnt = 0
                        for by in range(ch):
                            for bx in range(cw):
                                if restart and cnt and cnt % restart == 0:
                                    rd.align_and_skip_rst()
                                    pred = 0
                                cnt += 1
                                blk = by * bpl + bx
                                if ah == 0:
                                    cat = _huff_decode(rd, dtabs[0])
                                    if cat > 15:
                                        return None
                                    pred += _extend(
                                        rd.read_bits(cat), cat
                                    )
                                    coef[ci][blk, 0] = pred << al
                                elif rd.read_bit():
                                    coef[ci][blk, 0] |= 1 << al
                    if ah == 0:
                        for ci, _, _ in scomp:
                            dc_done.add(ci)
                else:
                    # ---- AC scan: always single-component ----
                    if ns != 1 or se < ss or se > 63:
                        return None
                    ci, _, ta = scomp[0]
                    if ci not in dc_done:
                        return None  # AC before the DC first scan
                    act = htabs.get((1, ta))
                    if act is None:
                        return None
                    bpl, nrow, cw, ch = geom[ci]
                    arr = coef[ci]
                    eobrun = cnt = 0
                    for by in range(ch):
                        for bx in range(cw):
                            if restart and cnt and cnt % restart == 0:
                                rd.align_and_skip_rst()
                                eobrun = 0
                            cnt += 1
                            row = arr[by * bpl + bx]
                            if ah == 0:
                                eobrun = _ac_first_block(
                                    rd, act, row, ss, se, al, eobrun
                                )
                            else:
                                eobrun = _ac_refine_block(
                                    rd, act, row, ss, se, al, eobrun
                                )
                n_scans += 1
                pos = _next_marker(b, pos + 2 + ln)
                continue
            pos += 2 + ln
        if sof is None or coef is None or n_scans == 0:
            return None
        # ---- reconstruct: dequant + IDCT + (optional) upsample ----
        w, h, comps = sof
        hmax = max(c[2] for c in comps)
        vmax = max(c[3] for c in comps)
        basis = _idct_basis()
        planes = []
        for idx, (cid, tq, hs, vs) in enumerate(comps):
            qt = qtabs.get(tq)
            if qt is None:
                return None
            qnat = np.zeros(64, dtype=np.int64)
            for k in range(64):
                qnat[_JPEG_ZZ[k]] = qt[k]
            bpl, nrow, cw, ch = geom[idx]
            px = (coef[idx] * qnat).astype(np.float64) @ basis
            px = np.clip(np.floor(px + 128.5), 0, 255).astype(np.int64)
            plane = (
                px.reshape(nrow, bpl, 8, 8)
                .transpose(0, 2, 1, 3)
                .reshape(nrow * 8, bpl * 8)
            )
            if hs != hmax or vs != vmax:
                plane = np.repeat(
                    np.repeat(plane, vmax // vs, axis=0),
                    hmax // hs,
                    axis=1,
                )
            planes.append(plane[:h, :w])
        yv = planes[0]
        y_sum = int(yv.sum())
        posg = (
            np.arange(h, dtype=np.int64)[:, None] * w
            + np.arange(w, dtype=np.int64)[None, :]
            + 1
        )
        y_wt = int((posg * yv).sum())
        if len(planes) == 3:
            cbv, crv = planes[1], planes[2]
            dcb, dcr = cbv - 128, crv - 128
            r = yv + ((_FIX_RCR * dcr + 32768) >> 16)
            g = yv - ((_FIX_GCB * dcb + _FIX_GCR * dcr + 32768) >> 16)
            bl = yv + ((_FIX_BCB * dcb + 32768) >> 16)
            return (
                w, h, n_scans,
                (
                    y_sum, int(cbv.sum()), int(crv.sum()), y_wt,
                    int(np.clip(r, 0, 255).sum()),
                    int(np.clip(g, 0, 255).sum()),
                    int(np.clip(bl, 0, 255).sum()),
                ),
            )
        return (w, h, n_scans, (y_sum, None, None, y_wt, None, None, None))
    except (EOFError, IndexError, ValueError):
        return None


def jpeg_encode_progressive(
    w: int,
    h: int,
    comps: list,
    coef_fn,
    dal: int = 1,
    aal: int = 1,
    bands: tuple = ((1, 20), (21, 63)),
) -> bytes:
    """Generic progressive-JPEG (SOF2) writer for fixtures and tests.

    ``comps`` = [(cid, hs, vs), ...] (1 or 3 entries; chroma must be
    1x1); ``coef_fn(ci, blk_row, blk_col) -> dict {zigzag_k: level}``
    gives each block's quantized coefficients over the component's
    MCU-PADDED grid (AC scans only read the unpadded region, matching
    the format).  Scan script: interleaved DC first at Al=``dal`` +
    DC refinements down to 0, then per component per ``bands`` an AC
    first scan at Al=``aal`` + AC refinements down to 0 — the classic
    progression (libjpeg's default script shape).  Emission follows
    T.81 G.1.2.2/G.1.2.3: EOBRUN accumulation across blocks, ZRL only
    when not foldable into the EOB run, refinement correction bits
    buffered and flushed with the symbol whose advance consumes them.
    All-8 quant table; real byte stuffing per scan."""
    import struct

    dc_enc = _huff_canonical(_JPEG_STD_DC_BITS, _JPEG_STD_DC_VALS)
    # one custom all-8-bit AC table: EOBn (r<15), ZRL, run x size 1..10
    ac_syms = sorted(
        [r << 4 for r in range(15)]
        + [0xF0]
        + [(run << 4) | size for run in range(16) for size in range(1, 11)]
    )
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_syms)
    ac_enc = _huff_canonical(ac_bits, ac_syms)

    hmax = max(hs for _, hs, _ in comps)
    vmax = max(vs for _, _, vs in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    geom = []
    for cid, hs, vs in comps:
        bpl, nrow = mcux * hs, mcuy * vs
        cw = (-(-(w * hs) // hmax) + 7) // 8
        ch = (-(-(h * vs) // vmax) + 7) // 8
        geom.append((bpl, nrow, cw, ch))

    def pack(bits_list) -> bytes:
        acc, nacc, payload = 0, 0, bytearray()
        for v, ln in bits_list:
            acc = (acc << ln) | (v & ((1 << ln) - 1))
            nacc += ln
            while nacc >= 8:
                byte = (acc >> (nacc - 8)) & 0xFF
                payload.append(byte)
                if byte == 0xFF:
                    payload.append(0x00)
                nacc -= 8
        if nacc:
            byte = ((acc << (8 - nacc)) | ((1 << (8 - nacc)) - 1)) & 0xFF
            payload.append(byte)
            if byte == 0xFF:
                payload.append(0x00)
        return bytes(payload)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    def sos(scan_comps, ss, se, ah, al) -> bytes:
        body = bytes([len(scan_comps)])
        for cid, td, ta in scan_comps:
            body += bytes([cid, (td << 4) | ta])
        body += bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body)

    # ---- DC scans (interleaved over all components) ----
    scans: list[bytes] = []
    all_sc = [(cid, 0, 0) for cid, _, _ in comps]
    bits: list[tuple[int, int]] = []
    preds = [0] * len(comps)
    for mcu in range(mcux * mcuy):
        mx, my = mcu % mcux, mcu // mcux
        for ci, (cid, hs, vs) in enumerate(comps):
            for by in range(vs):
                for bx in range(hs):
                    dc = coef_fn(ci, my * vs + by, mx * hs + bx).get(0, 0)
                    v = dc >> dal  # arithmetic shift: the DC point transform
                    diff = v - preds[ci]
                    preds[ci] = v
                    cat = abs(diff).bit_length()
                    bits.append(dc_enc[cat])
                    if cat:
                        raw = diff if diff >= 0 else diff + (1 << cat) - 1
                        bits.append((raw, cat))
    scans.append(sos(all_sc, 0, 0, 0, dal) + pack(bits))
    for lvl in range(dal - 1, -1, -1):
        bits = []
        for mcu in range(mcux * mcuy):
            mx, my = mcu % mcux, mcu // mcux
            for ci, (cid, hs, vs) in enumerate(comps):
                for by in range(vs):
                    for bx in range(hs):
                        dc = coef_fn(
                            ci, my * vs + by, mx * hs + bx
                        ).get(0, 0)
                        bits.append(((dc >> lvl) & 1, 1))
        scans.append(sos(all_sc, 0, 0, lvl + 1, lvl) + pack(bits))

    # ---- AC scans (single-component) ----
    def ac_first(ci, ss, se, al) -> list:
        out: list[tuple[int, int]] = []
        eobrun = 0

        def flush():
            nonlocal eobrun
            if eobrun == 0:
                return
            nb = eobrun.bit_length() - 1
            out.append(ac_enc[nb << 4])
            if nb:
                out.append((eobrun & ((1 << nb) - 1), nb))
            eobrun = 0

        bpl, nrow, cw, ch = geom[ci]
        for by in range(ch):
            for bx in range(cw):
                zz = coef_fn(ci, by, bx)
                r = 0
                for k in range(ss, se + 1):
                    t = zz.get(k, 0)
                    mag = abs(t) >> al
                    if mag == 0:
                        r += 1
                        continue
                    flush()
                    while r > 15:
                        out.append(ac_enc[0xF0])
                        r -= 16
                    size = mag.bit_length()
                    out.append(ac_enc[(r << 4) | size])
                    v = mag if t >= 0 else -mag
                    raw = v if v >= 0 else v + (1 << size) - 1
                    out.append((raw & ((1 << size) - 1), size))
                    r = 0
                if r > 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush()
        flush()
        return out

    def ac_refine(ci, ss, se, al) -> list:
        out: list[tuple[int, int]] = []
        eobrun = 0
        pending: list[int] = []  # correction bits riding the EOB run

        def flush():
            nonlocal eobrun, pending
            if eobrun > 0:
                nb = eobrun.bit_length() - 1
                out.append(ac_enc[nb << 4])
                if nb:
                    out.append((eobrun & ((1 << nb) - 1), nb))
                eobrun = 0
            for bit in pending:
                out.append((bit, 1))
            pending = []

        bpl, nrow, cw, ch = geom[ci]
        for by in range(ch):
            for bx in range(cw):
                zz = coef_fn(ci, by, bx)
                absv = {
                    k: abs(zz.get(k, 0)) >> al for k in range(ss, se + 1)
                }
                eob = ss - 1  # last newly-significant position
                for k in range(ss, se + 1):
                    if absv[k] == 1:
                        eob = k
                r = 0
                br: list[int] = []
                for k in range(ss, se + 1):
                    a = absv[k]
                    if a == 0:
                        r += 1
                        continue
                    while r > 15 and k <= eob:
                        flush()
                        out.append(ac_enc[0xF0])
                        r -= 16
                        for bit in br:
                            out.append((bit, 1))
                        br = []
                    if a > 1:
                        br.append(a & 1)
                        continue
                    flush()
                    out.append(ac_enc[(r << 4) | 1])
                    out.append((1 if zz.get(k, 0) >= 0 else 0, 1))
                    for bit in br:
                        out.append((bit, 1))
                    br = []
                    r = 0
                if r > 0 or br:
                    eobrun += 1
                    pending.extend(br)
                    if eobrun == 0x7FFF:
                        flush()
        flush()
        return out

    for ci, (cid, hs, vs) in enumerate(comps):
        for ss, se in bands:
            scans.append(
                sos([(cid, 0, 0)], ss, se, 0, aal)
                + pack(ac_first(ci, ss, se, aal))
            )
    for ci, (cid, hs, vs) in enumerate(comps):
        for ss, se in bands:
            for lvl in range(aal - 1, -1, -1):
                scans.append(
                    sos([(cid, 0, 0)], ss, se, lvl + 1, lvl)
                    + pack(ac_refine(ci, ss, se, lvl))
                )

    nc = len(comps)
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes([8] * 64))
    sofc = b"".join(
        bytes([cid, (hs << 4) | vs, 0]) for cid, hs, vs in comps
    )
    out += seg(0xC2, struct.pack(">BHHB", 8, h, w, nc) + sofc)
    out += seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_STD_DC_BITS) + bytes(_JPEG_STD_DC_VALS)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_syms),
    )
    for s in scans:
        out += s
    out += b"\xff\xd9"
    return bytes(out)


def _prog_fixture_coeffs(doc_id: int, blocks_w: int):
    """Block coefficient formula for the mm_decode_jpeg_prog_pixels
    fixtures: the baseline YCbCr formula (zigzag 0/10/14/39) with the
    AC levels ZEROED on blocks where (doc_id + i) % 5 < 2 — runs of
    empty-band blocks force real EOBRUN accumulation across blocks in
    both AC scan kinds.  Shared by the encoder and the oracle SQL."""

    def fn(ci: int, by: int, bx: int) -> dict:
        i = by * blocks_w + bx
        zz = {0: ((doc_id * 7 + i * 5 + ci * 11) % 160) - 80}
        if (doc_id + i) % 5 >= 2:
            zz[10] = ((doc_id + i * 3 + ci) % 31) - 15
            zz[14] = ((doc_id * 3 + i + ci * 5) % 31) - 15
            zz[39] = ((doc_id + i + ci) % 25) - 12
        return zz

    return fn


def jpeg_encode_progressive_pixels(
    doc_id: int, blocks_w: int, blocks_h: int
) -> bytes:
    """Deterministic 3-component (YCbCr 4:4:4) PROGRESSIVE fixture: the
    closed-form coefficient formula of :func:`jpeg_encode_ycbcr_blocks`
    (with EOB-gap blocks, see :func:`_prog_fixture_coeffs`) delivered
    as the classic 14-scan script — interleaved DC first (Al=1) + DC
    refinement, then per component AC first scans over bands 1-20 and
    21-63 at Al=1 followed by their refinement scans.  Exercises DPCM
    at reduced precision, DC refinement bits, spectral-selection band
    split across the zz 10/14 vs zz 39 levels, EOBRUN runs, ZRL, newly
    significant coefficients and correction bits."""
    return jpeg_encode_progressive(
        blocks_w * 8,
        blocks_h * 8,
        [(1, 1, 1), (2, 1, 1), (3, 1, 1)],
        _prog_fixture_coeffs(doc_id, blocks_w),
        dal=1,
        aal=1,
    )


# ---------------------------------------------------------------------------
# G.711 companded WAV decode (mu-law fmt 7 / A-law fmt 6): the telephony
# codecs every call-center / voice corpus carries.  Expansion is pure
# integer arithmetic (ITU-T G.711, public): mu-law sample =
# (((m << 3) + 132) << e) - 132 toward the sign; A-law (after the 0x55
# toggle) = (m*16 + 8) for segment 0 else (m*16 + 264) << (seg-1),
# positive when bit 0x80 is SET (the A-law sign convention inverts
# mu-law's) — all SQL-expressible, so the oracle recomputes the exact
# PCM16 sums from the fixture byte formula without decoding anything.
# ---------------------------------------------------------------------------


def _g711_tables():
    """256-entry expansion tables (mu-law, A-law) -> int16 numpy."""
    import numpy as np

    ulaw = np.empty(256, dtype=np.int64)
    for v in range(256):
        u = ~v & 0xFF
        e = (u >> 4) & 7
        m = u & 0x0F
        t = ((m << 3) + 0x84) << e
        ulaw[v] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    alaw = np.empty(256, dtype=np.int64)
    for v in range(256):
        a = v ^ 0x55
        seg = (a & 0x70) >> 4
        m = a & 0x0F
        if seg == 0:
            t = (m << 4) + 8
        else:
            t = ((m << 4) + 0x108) << (seg - 1)
        alaw[v] = t if (a & 0x80) else -t
    return ulaw, alaw


def _wav_decode_g711(b: bytes):
    """RIFF/WAVE G.711 (fmt tag 7 = mu-law, 6 = A-law, 8-bit) ->
    (sample_rate, n_channels, n_samples, codec, stats) or None
    (quarantine).  ``stats`` is the same exact-integer 4-tuple contract
    as :func:`_wav_decode_pcm16` over the EXPANDED int16 stream; the
    walker shares the RIFF rules (word-aligned chunks, declared-size
    check) and skips the non-PCM ``fact`` chunk like any other unknown.
    """
    import numpy as np

    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    if int.from_bytes(b[4:8], "little") + 8 > len(b):
        return None
    pos = 12
    fmt = None
    data = None
    try:
        while pos + 8 <= len(b):
            cid = b[pos : pos + 4]
            sz = int.from_bytes(b[pos + 4 : pos + 8], "little")
            body = b[pos + 8 : pos + 8 + sz]
            if len(body) != sz:
                return None
            if cid == b"fmt ":
                if sz < 16:
                    return None
                audio_fmt = int.from_bytes(body[0:2], "little")
                n_ch = int.from_bytes(body[2:4], "little")
                rate = int.from_bytes(body[4:8], "little")
                bits = int.from_bytes(body[14:16], "little")
                if audio_fmt not in (6, 7) or bits != 8 or n_ch == 0:
                    return None
                fmt = (rate, n_ch, audio_fmt)
            elif cid == b"data":
                data = body
            pos += 8 + sz + (sz & 1)
        if fmt is None or data is None:
            return None
        rate, n_ch, audio_fmt = fmt
        ulaw, alaw = _g711_tables()
        table = ulaw if audio_fmt == 7 else alaw
        s = table[np.frombuffer(data, dtype=np.uint8)]
        n = int(s.size)
        if n % n_ch:
            return None
        return (
            rate,
            n_ch,
            n,
            "ulaw" if audio_fmt == 7 else "alaw",
            (
                int(s.sum()),
                int(((np.arange(n, dtype=np.int64) + 1) * s).sum()),
                int(np.abs(s).max()) if n else 0,
                int((s * s).sum()),
            ),
        )
    except (IndexError, ValueError):
        return None


def wav_encode_g711(doc_id: int, n_samples: int, law: str) -> bytes:
    """Deterministic mono G.711 WAV fixture: companded byte i is
    ``(doc_id * 13 + i * 7) % 256``; ``law`` picks mu-law (fmt 7) or
    A-law (fmt 6).  Carries the spec-required ``fact`` chunk (the
    decoder must skip it) and the odd-sized junk chunk exercising the
    RIFF pad byte."""
    import struct

    tag = 7 if law == "ulaw" else 6
    samples = bytes(
        (doc_id * 13 + i * 7) % 256 for i in range(n_samples)
    )
    junk = b"note" + struct.pack("<I", 3) + b"odd" + b"\x00"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, tag, 1, 8000, 8000, 1, 8)
    fact = b"fact" + struct.pack("<II", 4, n_samples)
    data = b"data" + struct.pack("<I", len(samples)) + samples
    if len(samples) & 1:
        data += b"\x00"
    body = b"WAVE" + junk + fmt + fact + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# ICO container decode: the favicon format every web crawl collects.
# An ICO is a tiny directory (ICONDIR: reserved/type/count, then 16-byte
# ICONDIRENTRYs with per-image size + offset) over embedded images that
# are either full PNG streams (the modern form) or raw DIBs.  The walk
# validates the directory against the payload and decodes PNG entries
# with the SAME _png_decode_pixels kernel (incl. Adam7); DIB entries
# quarantine per-entry (decoded = false) — the container contract is
# that one bad entry never hides its siblings.
# ---------------------------------------------------------------------------


def _ico_decode_entries(b: bytes):
    """ICO bytes -> list of (icon_idx, width, height, channels,
    (ch_sums...) or None) per directory entry, or None when the
    container itself is malformed (quarantine)."""
    import numpy as np

    if len(b) < 6:
        return None
    if int.from_bytes(b[0:2], "little") != 0:
        return None
    if int.from_bytes(b[2:4], "little") != 1:
        return None
    count = int.from_bytes(b[4:6], "little")
    if count == 0 or 6 + 16 * count > len(b):
        return None
    out = []
    for j in range(count):
        e = b[6 + 16 * j : 6 + 16 * (j + 1)]
        size = int.from_bytes(e[8:12], "little")
        off = int.from_bytes(e[12:16], "little")
        if off + size > len(b):
            return None  # directory points past the payload
        img = b[off : off + size]
        dec = _png_decode_pixels(img) if img[:8] == _PNG_SIG else None
        if dec is None:
            out.append((j, None, None, None, None))
            continue
        w, h, ch, arr = dec
        sums = tuple(
            int(arr[:, :, c].astype(np.int64).sum()) for c in range(ch)
        )
        out.append((j, w, h, ch, sums))
    return out


def ico_encode_png_entries(doc_id: int, n_entries: int) -> bytes:
    """Deterministic ICO fixture: entry ``j`` is a full PNG stream from
    :func:`png_encode_rgb` with doc key ``doc_id + j`` and dimensions
    ``(4 + (doc_id + j) % 5, 3 + (doc_id + j) % 4)`` — so the oracle
    reuses the PNG gate's closed-form channel sums per entry.  Even
    doc_ids interlace every second entry (the Adam7 path inside a
    container)."""
    import struct

    blobs = []
    for j in range(n_entries):
        k = doc_id + j
        blobs.append(
            png_encode_rgb(
                k, 4 + k % 5, 3 + k % 4,
                interlace=(doc_id % 2 == 0 and j % 2 == 1),
            )
        )
    header = struct.pack("<HHH", 0, 1, n_entries)
    off = 6 + 16 * n_entries
    dir_ = bytearray()
    for j, blob in enumerate(blobs):
        k = doc_id + j
        dir_ += struct.pack(
            "<BBBBHHII",
            (4 + k % 5) % 256, (3 + k % 4) % 256, 0, 0, 1, 32,
            len(blob), off,
        )
        off += len(blob)
    return header + bytes(dir_) + b"".join(blobs)


# ---------------------------------------------------------------------------
# ZIP archive walk (PKWARE APPNOTE, public): locate the End-of-Central-
# Directory record, walk the central directory, and decode each entry —
# STORED passes through, DEFLATE inflates RAW (zlib wbits=-15) bounded
# by the declared uncompressed size (the decompression-bomb fence the
# PNG path uses), then the CRC-32 and size claims are VERIFIED, not
# trusted.  The corpus-ingestion shape: web archives and dataset dumps
# arrive zipped; a pipeline wants per-entry stats + integrity flags
# without trusting the directory.
# ---------------------------------------------------------------------------

#: Max declared uncompressed size the ZIP walk will inflate (policy).
_ZIP_ENTRY_CAP = 64 * 1024 * 1024


def _zip_entries(b: bytes):
    """ZIP bytes -> list of (entry_idx, name, method, n_bytes,
    byte_sum, crc_ok) per central-directory entry, or None (quarantine:
    no/invalid EOCD, truncated directory, bad signatures, overlong
    declared size, or inflate failure)."""
    import struct
    import zlib

    eocd = b.rfind(b"PK\x05\x06", max(0, len(b) - 65557))
    if eocd < 0 or eocd + 22 > len(b):
        return None
    (n_total, cd_size, cd_off) = struct.unpack(
        "<HI I", b[eocd + 10 : eocd + 20]
    )
    n_here = int.from_bytes(b[eocd + 8 : eocd + 10], "little")
    if n_here != n_total or cd_off + cd_size > eocd:
        return None
    out = []
    pos = cd_off
    for idx in range(n_total):
        if b[pos : pos + 4] != b"PK\x01\x02" or pos + 46 > len(b):
            return None
        method = int.from_bytes(b[pos + 10 : pos + 12], "little")
        crc = int.from_bytes(b[pos + 16 : pos + 20], "little")
        csize = int.from_bytes(b[pos + 20 : pos + 24], "little")
        usize = int.from_bytes(b[pos + 24 : pos + 28], "little")
        nlen = int.from_bytes(b[pos + 28 : pos + 30], "little")
        elen = int.from_bytes(b[pos + 30 : pos + 32], "little")
        clen = int.from_bytes(b[pos + 32 : pos + 34], "little")
        lho = int.from_bytes(b[pos + 42 : pos + 46], "little")
        name = b[pos + 46 : pos + 46 + nlen].decode("utf-8", "replace")
        pos += 46 + nlen + elen + clen
        if usize > _ZIP_ENTRY_CAP:
            return None  # decompression-bomb fence (policy)
        # local header: re-read name length / extra length (they may
        # differ from the central copy) to find the data start
        if b[lho : lho + 4] != b"PK\x03\x04" or lho + 30 > len(b):
            return None
        lnlen = int.from_bytes(b[lho + 26 : lho + 28], "little")
        lelen = int.from_bytes(b[lho + 28 : lho + 30], "little")
        dstart = lho + 30 + lnlen + lelen
        data = b[dstart : dstart + csize]
        if len(data) != csize:
            return None
        if method == 0:
            raw = data
        elif method == 8:
            try:
                dec = zlib.decompressobj(-15)
                raw = dec.decompress(data, usize + 1)
            except zlib.error:
                return None
        else:
            out.append((idx, name, method, None, None, None))
            continue
        ok = len(raw) == usize and (zlib.crc32(raw) & 0xFFFFFFFF) == crc
        out.append((idx, name, method, len(raw), sum(raw), ok))
    return out if out else None


def zip_encode(doc_id: int, n_entries: int) -> bytes:
    """Deterministic ZIP fixture: entry ``j`` is ``f{j}.txt`` with
    ``20 + (doc_id + j) % 31`` bytes, byte i = ``(doc_id*11 + j*5 +
    i*3) % 256`` — entry 0 STORED, the rest DEFLATEd raw; when
    ``n_entries > 2`` entry 2's recorded CRC is deliberately CORRUPTED
    (both copies) so the integrity verdict is pinned FALSE."""
    import struct
    import zlib

    locals_ = bytearray()
    cd = bytearray()
    offsets = []
    for j in range(n_entries):
        k = doc_id + j
        raw = bytes(
            (doc_id * 11 + j * 5 + i * 3) % 256
            for i in range(20 + k % 31)
        )
        name = f"f{j}.txt".encode()
        crc = zlib.crc32(raw) & 0xFFFFFFFF
        if j == 2:
            crc ^= 0xDEADBEEF  # deliberate integrity break
        if j == 0:
            method, data = 0, raw
        else:
            method = 8
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = co.compress(raw) + co.flush()
        offsets.append(len(locals_))
        locals_ += (
            b"PK\x03\x04"
            + struct.pack(
                "<HHHHHIIIHH", 20, 0, method, 0, 0, crc,
                len(data), len(raw), len(name), 0,
            )
            + name + data
        )
    for j in range(n_entries):
        k = doc_id + j
        raw_len = 20 + k % 31
        name = f"f{j}.txt".encode()
        lho = offsets[j]
        # re-derive the sizes/crc from the local header we just wrote
        (_v, _f, method, _mt, _md, crc, csize, usize, _nl, _el) = (
            struct.unpack(
                "<HHHHHIIIHH", bytes(locals_[lho + 4 : lho + 30])
            )
        )
        cd += (
            b"PK\x01\x02"
            + struct.pack(
                "<HHHHHHIIIHHHHHII", 20, 20, 0, method, 0, 0, crc,
                csize, usize, len(name), 0, 0, 0, 0, 0, lho,
            )
            + name
        )
        assert usize == raw_len
    eocd = b"PK\x05\x06" + struct.pack(
        "<HHHHIIH", 0, 0, n_entries, n_entries, len(cd), len(locals_), 0
    )
    return bytes(locals_) + bytes(cd) + eocd


# ---------------------------------------------------------------------------
# IMA ADPCM (DVI4) WAV — the classic 4-bit telephony/game codec (WAV
# format tag 0x11): each block opens with a (predictor int16, step
# index uint8, reserved) header whose predictor IS output sample 0,
# followed by 4-bit nibbles advancing the published step-size state
# machine (IMA ADPCM reference algorithm, low nibble first).
# ---------------------------------------------------------------------------

_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_block_samples(pred: int, idx: int, nibbles) -> list[int]:
    """Decode one IMA block: seed sample + one sample per nibble via the
    reference step-size recursion (diff = step/8 + step/4*b0 + step/2*b1
    + step*b2, sign from b3; both state variables clamped)."""
    out = [pred]
    for v in nibbles:
        step = _IMA_STEPS[idx]
        diff = step >> 3
        if v & 1:
            diff += step >> 2
        if v & 2:
            diff += step >> 1
        if v & 4:
            diff += step
        pred = pred - diff if v & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + _IMA_INDEX[v & 7]))
        out.append(pred)
    return out


def wav_encode_adpcm(doc_id: int, spb: int, n_blocks: int) -> bytes:
    """Deterministic mono IMA-ADPCM WAV fixture: block ``b`` seeds
    predictor ``((doc_id*97 + b*501) % 4096) - 2048`` and step index
    ``(doc_id + b*17) % 89``; the nibble for in-block sample ``i``
    (1-based) is ``(doc_id*7 + b*11 + i*5) % 16``, packed low nibble
    first.  Carries the fact chunk and the odd-sized junk chunk like
    the sibling G.711 fixture."""
    import struct

    nib_bytes = (spb - 1 + 1) // 2
    block_align = 4 + nib_bytes
    blocks = bytearray()
    for b in range(n_blocks):
        pred0 = ((doc_id * 97 + b * 501) % 4096) - 2048
        idx0 = (doc_id + b * 17) % 89
        blocks += struct.pack("<hBB", pred0, idx0, 0)
        nibs = [
            (doc_id * 7 + b * 11 + i * 5) % 16 for i in range(1, spb)
        ]
        if len(nibs) & 1:
            nibs.append(0)  # pad nibble, unreachable past samples/block
        for j in range(0, len(nibs), 2):
            blocks.append(nibs[j] | (nibs[j + 1] << 4))
    junk = b"note" + struct.pack("<I", 3) + b"odd" + b"\x00"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHHHH",
        20, 0x11, 1, 8000,
        (8000 * block_align + spb - 1) // spb,
        block_align, 4, 2, spb,
    )
    fact = b"fact" + struct.pack("<II", 4, spb * n_blocks)
    data = b"data" + struct.pack("<I", len(blocks)) + bytes(blocks)
    if len(blocks) & 1:
        data += b"\x00"
    body = b"WAVE" + junk + fmt + fact + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _wav_decode_adpcm(b: bytes):
    """RIFF/WAVE IMA ADPCM (fmt tag 0x11, 4-bit) -> (sample_rate,
    n_channels, n_samples, stats) or None (quarantine).  The fmt
    extension's samples-per-block bounds decode (pad nibbles are never
    emitted); data must be whole blocks of nBlockAlign.  ``stats`` is
    the exact-integer 4-tuple contract of :func:`_wav_decode_pcm16`."""
    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    if int.from_bytes(b[4:8], "little") + 8 > len(b):
        return None
    pos = 12
    fmt = None
    data = None
    try:
        while pos + 8 <= len(b):
            cid = b[pos : pos + 4]
            sz = int.from_bytes(b[pos + 4 : pos + 8], "little")
            body = b[pos + 8 : pos + 8 + sz]
            if len(body) != sz:
                return None
            if cid == b"fmt ":
                if sz < 20:
                    return None
                audio_fmt = int.from_bytes(body[0:2], "little")
                n_ch = int.from_bytes(body[2:4], "little")
                rate = int.from_bytes(body[4:8], "little")
                block_align = int.from_bytes(body[12:14], "little")
                bits = int.from_bytes(body[14:16], "little")
                spb = int.from_bytes(body[18:20], "little")
                if audio_fmt != 0x11 or bits != 4 or n_ch != 1:
                    return None
                if spb < 1 or block_align != 4 + (spb - 1 + 1) // 2:
                    return None
                fmt = (rate, n_ch, block_align, spb)
            elif cid == b"data":
                data = body
            pos += 8 + sz + (sz & 1)
        if fmt is None or data is None:
            return None
        rate, n_ch, block_align, spb = fmt
        if len(data) == 0 or len(data) % block_align:
            return None
        samples: list[int] = []
        for off in range(0, len(data), block_align):
            blk = data[off : off + block_align]
            pred = int.from_bytes(blk[0:2], "little", signed=True)
            idx = blk[2]
            if idx > 88:
                return None
            nibs = []
            for byte in blk[4:]:
                nibs.append(byte & 0xF)
                nibs.append(byte >> 4)
            samples.extend(_ima_block_samples(pred, idx, nibs[: spb - 1]))
        n = len(samples)
        ssum = sum(samples)
        swt = sum((i + 1) * s for i, s in enumerate(samples))
        peak = max(abs(s) for s in samples) if n else 0
        energy = sum(s * s for s in samples)
        return (rate, n_ch, n, (ssum, swt, peak, energy))
    except (IndexError, ValueError):
        return None


# ---------------------------------------------------------------------------
# POSIX ustar TAR — the corpus-ingestion archive walk next to ZIP/WARC:
# fixed 512-byte headers, octal size fields, checksum over the header
# with the chksum field blanked, content padded to block size, two zero
# blocks at the end.
# ---------------------------------------------------------------------------


def _tar_octal(v: int, width: int) -> bytes:
    return (f"%0{width - 1}o" % v).encode() + b"\x00"


def tar_encode(doc_id: int, n_members: int) -> bytes:
    """Deterministic ustar fixture: member ``j`` is
    ``d{doc_id:04d}/f{j}.bin`` with ``40 + (doc_id*7 + j*13) % 200``
    bytes, byte i = ``(doc_id*11 + j*3 + i*5) % 256``."""
    out = bytearray()
    for j in range(n_members):
        name = f"d{doc_id:04d}/f{j}.bin".encode()
        size = 40 + (doc_id * 7 + j * 13) % 200
        content = bytes(
            (doc_id * 11 + j * 3 + i * 5) % 256 for i in range(size)
        )
        hdr = bytearray(512)
        hdr[0 : len(name)] = name
        hdr[100:108] = _tar_octal(0o644, 8)
        hdr[108:116] = _tar_octal(0, 8)
        hdr[116:124] = _tar_octal(0, 8)
        hdr[124:136] = _tar_octal(size, 12)
        hdr[136:148] = _tar_octal(0, 12)
        hdr[148:156] = b" " * 8
        hdr[156] = ord("0")
        hdr[257:263] = b"ustar\x00"
        hdr[263:265] = b"00"
        chk = sum(hdr)
        hdr[148:155] = (b"%06o" % chk) + b"\x00"
        hdr[155] = 0x20
        out += hdr + content
        pad = (-size) % 512
        out += b"\x00" * pad
    out += b"\x00" * 1024
    return bytes(out)


def _tar_members(b: bytes):
    """ustar walk -> list of (name, size, byte_sum, weighted_sum,
    checksum_ok) or None (quarantine: truncated mid-member, bad magic,
    unparsable size).  Stops at the first all-zero block; a missing
    terminator after a clean member list is tolerated (GNU tar does)."""
    members = []
    pos = 0
    while pos + 512 <= len(b):
        hdr = b[pos : pos + 512]
        if hdr == b"\x00" * 512:
            return members
        if hdr[257:262] != b"ustar":
            return None
        try:
            size = int(hdr[124:136].split(b"\x00")[0].strip() or b"0", 8)
            declared = int(
                hdr[148:156].replace(b"\x00", b" ").strip() or b"0", 8
            )
        except ValueError:
            return None
        blanked = bytearray(hdr)
        blanked[148:156] = b" " * 8
        chk_ok = sum(blanked) == declared
        name = hdr[0:100].split(b"\x00")[0].decode("utf-8", "replace")
        content = b[pos + 512 : pos + 512 + size]
        if len(content) != size:
            return None
        members.append(
            (
                name,
                size,
                sum(content),
                sum((i + 1) * v for i, v in enumerate(content)),
                chk_ok,
            )
        )
        pos += 512 + size + ((-size) % 512)
    return members if pos == len(b) else None


# ---------------------------------------------------------------------------
# Baseline TIFF (both byte orders, uncompressed, strip-based) and the
# JPEG/EXIF APP1 metadata walk that reuses the same IFD parser — the
# scanned-document / camera-capture formats of multimodal corpora.
# ---------------------------------------------------------------------------


def _ifd_pack(entries, endian: str, ifd_off: int) -> bytes:
    """Serialize one TIFF IFD at ``ifd_off``: entries are (tag, type,
    values) with type 2=ASCII, 3=SHORT, 4=LONG, 5=RATIONAL (value pairs
    flattened); payloads over 4 bytes go to an overflow area after the
    entry table.  Returns the IFD bytes (entry table + next-IFD 0 +
    overflow)."""
    import struct

    sizes = {2: 1, 3: 2, 4: 4, 5: 4}
    fmts = {3: "H", 4: "I", 5: "I"}
    n = len(entries)
    overflow_base = ifd_off + 2 + 12 * n + 4
    table = struct.pack(endian + "H", n)
    overflow = b""
    for tag, typ, values in sorted(entries):
        if typ == 2:
            payload = values + b"\x00"
            count = len(payload)
        else:
            # RATIONAL values arrive flattened as (num, den) pairs; the
            # IFD count field is in RATIONALs, not LONGs
            count = len(values) // 2 if typ == 5 else len(values)
            payload = b"".join(
                struct.pack(endian + fmts[typ], v) for v in values
            )
        if len(payload) <= 4:
            val = payload + b"\x00" * (4 - len(payload))
        else:
            val = struct.pack(endian + "I", overflow_base + len(overflow))
            overflow += payload
        table += struct.pack(endian + "HHI", tag, typ, count) + val
    return table + struct.pack(endian + "I", 0) + overflow


def _ifd_parse(b: bytes, base: int, endian: str):
    """Parse one IFD at ``base + offset-stored-at-base+4`` convention's
    caller-supplied absolute position: returns {tag: list-of-values}
    (RATIONAL as (num, den) tuples, ASCII as bytes) or None."""
    import struct

    try:
        off = struct.unpack_from(endian + "I", b, base + 4)[0]
        pos = base + off
        n = struct.unpack_from(endian + "H", b, pos)[0]
        pos += 2
        out = {}
        for _ in range(n):
            tag, typ, count = struct.unpack_from(endian + "HHI", b, pos)
            val_field = pos + 8
            size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}.get(typ)
            if size is None:
                return None
            total = size * count
            if total <= 4:
                data_pos = val_field
            else:
                data_pos = base + struct.unpack_from(
                    endian + "I", b, val_field
                )[0]
            if typ == 2:
                raw = b[data_pos : data_pos + count]
                out[tag] = raw.split(b"\x00")[0]
            elif typ == 5:
                out[tag] = [
                    struct.unpack_from(endian + "II", b, data_pos + 8 * i)
                    for i in range(count)
                ]
            else:
                fmt = {1: "B", 3: "H", 4: "I"}[typ]
                out[tag] = [
                    struct.unpack_from(
                        endian + fmt, b, data_pos + size * i
                    )[0]
                    for i in range(count)
                ]
            pos += 12
        return out
    except (struct.error, IndexError):
        return None


def tiff_encode(doc_id: int, w: int, h: int) -> bytes:
    """Deterministic baseline TIFF fixture: even docs grayscale
    (photometric 1, pixel = ``(doc_id*29 + p*7) % 256``), odd docs RGB
    (photometric 2, channel = ``(doc_id*31 + p*3 + ch) % 256``);
    ``doc_id % 4 < 2`` writes little-endian (II), else big-endian (MM);
    RowsPerStrip=2 yields a multi-strip layout with LONG offset/count
    arrays."""
    import struct

    little = doc_id % 4 < 2
    endian = "<" if little else ">"
    gray = doc_id % 2 == 0
    spp = 1 if gray else 3
    rows_per_strip = 2
    n_strips = (h + rows_per_strip - 1) // rows_per_strip
    strips = []
    for s in range(n_strips):
        rows = range(
            s * rows_per_strip, min((s + 1) * rows_per_strip, h)
        )
        data = bytearray()
        for y in rows:
            for x in range(w):
                p = y * w + x
                if gray:
                    data.append((doc_id * 29 + p * 7) % 256)
                else:
                    for ch in range(3):
                        data.append((doc_id * 31 + p * 3 + ch) % 256)
        strips.append(bytes(data))

    entries = [
        (256, 4, [w]),
        (257, 4, [h]),
        (258, 3, [8] * spp),
        (259, 3, [1]),
        (262, 3, [1 if gray else 2]),
        (277, 3, [spp]),
        (278, 3, [rows_per_strip]),
    ]
    # two passes: sizes of the offset arrays depend only on n_strips
    probe = entries + [(273, 4, [0] * n_strips), (279, 4, [0] * n_strips)]
    ifd_size = len(_ifd_pack(probe, endian, 8))
    data_base = 8 + ifd_size
    offsets = []
    pos = data_base
    for s in strips:
        offsets.append(pos)
        pos += len(s)
    final = entries + [
        (273, 4, offsets),
        (279, 4, [len(s) for s in strips]),
    ]
    hdr = (b"II" if little else b"MM") + struct.pack(endian + "HI", 42, 8)
    return hdr + _ifd_pack(final, endian, 8) + b"".join(strips)


def _tiff_decode(b: bytes):
    """Baseline TIFF -> (width, height, channels, n_strips, c0_sum,
    c1_sum, c2_sum, weighted) or None (quarantine).  Both byte orders;
    only compression 1 (none), 8-bit samples; strips concatenate to
    top-down rasters; ``weighted`` is sum over pixels of
    (p+1) * (sum of that pixel's channels) — the row-order pin."""
    if len(b) < 8:
        return None
    if b[0:2] == b"II":
        endian = "<"
    elif b[0:2] == b"MM":
        endian = ">"
    else:
        return None
    import struct

    if struct.unpack_from(endian + "H", b, 2)[0] != 42:
        return None
    tags = _ifd_parse(b, 0, endian)
    if tags is None:
        return None
    try:
        w = tags[256][0]
        h = tags[257][0]
        spp = tags.get(277, [1])[0]
        if tags.get(259, [1])[0] != 1:
            return None
        if any(v != 8 for v in tags.get(258, [8])):
            return None
        offs = tags[273]
        counts = tags[279]
        if len(offs) != len(counts):
            return None
        raster = bytearray()
        for o, c in zip(offs, counts):
            chunk = b[o : o + c]
            if len(chunk) != c:
                return None
            raster += chunk
        if len(raster) != w * h * spp:
            return None
        sums = [0, 0, 0]
        weighted = 0
        for p in range(w * h):
            tot = 0
            for ch in range(spp):
                v = raster[p * spp + ch]
                sums[ch] += v
                tot += v
            weighted += (p + 1) * tot
        return (
            w, h, spp, len(offs),
            sums[0],
            sums[1] if spp > 1 else None,
            sums[2] if spp > 2 else None,
            weighted,
        )
    except (KeyError, IndexError):
        return None


def jpeg_exif_encode(doc_id: int) -> bytes:
    """Minimal JPEG wrapper with a REAL EXIF APP1 segment: SOI, APP1
    ('Exif\\0\\0' + TIFF IFD with Make/Orientation/XResolution), a
    baseline SOF0 carrying the frame dimensions, EOI.  Byte order
    alternates (doc_id % 4 < 2 -> II).  Orientation = 1 + doc_id % 8,
    Make = 'cam{doc_id % 10}', XResolution = (72 + doc_id % 30) /
    (1 + doc_id % 3)."""
    import struct

    little = doc_id % 4 < 2
    endian = "<" if little else ">"
    w = 8 + doc_id % 40
    h = 6 + doc_id % 30
    entries = [
        (271, 2, f"cam{doc_id % 10}".encode()),
        (274, 3, [1 + doc_id % 8]),
        (282, 5, [72 + doc_id % 30, 1 + doc_id % 3]),
    ]
    tiff = (
        (b"II" if little else b"MM")
        + struct.pack(endian + "HI", 42, 8)
        + _ifd_pack(entries, endian, 8)
    )
    app1_body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(app1_body) + 2) + app1_body
    sof0 = b"\xff\xc0" + struct.pack(
        ">HBHHB", 11, 8, h, w, 1
    ) + b"\x01\x11\x00"
    return b"\xff\xd8" + app1 + sof0 + b"\xff\xd9"


def _exif_meta(b: bytes):
    """JPEG segment walk -> (sof_width, sof_height, byte_order, make,
    orientation, xres_num, xres_den) from the APP1 EXIF IFD, or None.
    Reads metadata WITHOUT touching entropy-coded data — the cheap
    pass an image pipeline runs before deciding to decode pixels."""
    import struct

    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        return None
    pos = 2
    sof = None
    exif = None
    try:
        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                return None
            marker = b[pos + 1]
            if marker == 0xD9:
                break
            seg_len = struct.unpack_from(">H", b, pos + 2)[0]
            body = b[pos + 4 : pos + 2 + seg_len]
            if len(body) != seg_len - 2:
                return None
            if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
                tiff = body[6:]
                if tiff[0:2] == b"II":
                    endian, order = "<", "II"
                elif tiff[0:2] == b"MM":
                    endian, order = ">", "MM"
                else:
                    return None
                tags = _ifd_parse(tiff, 0, endian)
                if tags is None:
                    return None
                xres = tags.get(282, [(None, None)])[0]
                exif = (
                    order,
                    tags.get(271, b"").decode("ascii", "replace"),
                    tags.get(274, [None])[0],
                    xres[0],
                    xres[1],
                )
            elif marker in (0xC0, 0xC1, 0xC2):
                _prec, hh, ww = struct.unpack_from(">BHH", b, pos + 4)
                sof = (ww, hh)
            pos += 2 + seg_len
        if sof is None or exif is None:
            return None
        return sof + exif
    except (struct.error, IndexError):
        return None


# ---------------------------------------------------------------------------
# Netpbm (P2/P3 ASCII, P5/P6 binary) and QOI (the 2021 lossless image
# format, qoiformat.org public spec) — the remaining raster formats of
# a scraped multimodal corpus.
# ---------------------------------------------------------------------------


def pnm_encode(doc_id: int, w: int, h: int) -> bytes:
    """Deterministic Netpbm fixture: ``doc_id % 4`` picks P2 (ASCII
    gray) / P3 (ASCII RGB) / P5 (binary gray) / P6 (binary RGB); gray
    pixels ``(doc_id*29 + p*7) % 256``, RGB channels
    ``(doc_id*31 + p*3 + ch) % 256``; headers carry a comment line and
    mixed whitespace — the tokenizer hazards of real NetPBM files."""
    variant = doc_id % 4
    magic = ["P2", "P3", "P5", "P6"][variant]
    gray = variant in (0, 2)
    vals = []
    for p in range(w * h):
        if gray:
            vals.append((doc_id * 29 + p * 7) % 256)
        else:
            vals.extend(
                (doc_id * 31 + p * 3 + ch) % 256 for ch in range(3)
            )
    header = (
        f"{magic}\n# fixture {doc_id}\n{w} {h}\n255".encode()
    )
    if variant < 2:
        body = b"\n" + " ".join(str(v) for v in vals).encode() + b"\n"
    else:
        body = b"\n" + bytes(vals)
    return header + body


def _pnm_decode(b: bytes):
    """Netpbm -> (fmt, width, height, channels, c0, c1, c2, weighted)
    or None.  ASCII variants tokenize on any whitespace with
    ``#``-comment lines; binary variants read exactly one whitespace
    byte after maxval then raw samples.  Only maxval 255."""
    try:
        if len(b) < 2 or b[0:1] != b"P" or b[1:2] not in b"2356":
            return None
        fmt = b[0:2].decode()
        gray = fmt in ("P2", "P5")
        binary = fmt in ("P5", "P6")
        # tokenize the header: magic, width, height, maxval
        pos = 2
        fields = []
        while len(fields) < 3:
            while pos < len(b) and b[pos : pos + 1].isspace():
                pos += 1
            if pos < len(b) and b[pos : pos + 1] == b"#":
                while pos < len(b) and b[pos] != 0x0A:
                    pos += 1
                continue
            start = pos
            while pos < len(b) and not b[pos : pos + 1].isspace():
                pos += 1
            if start == pos:
                return None
            fields.append(int(b[start:pos]))
        w, h, maxval = fields
        if maxval != 255 or w <= 0 or h <= 0:
            return None
        n_vals = w * h * (1 if gray else 3)
        if binary:
            pos += 1  # exactly one whitespace byte after maxval
            raw = b[pos : pos + n_vals]
            if len(raw) != n_vals:
                return None
            vals = list(raw)
        else:
            toks = b[pos:].split()
            if len(toks) < n_vals:
                return None
            vals = [int(t) for t in toks[:n_vals]]
            if any(v < 0 or v > 255 for v in vals):
                return None
        sums = [0, 0, 0]
        weighted = 0
        spp = 1 if gray else 3
        for p in range(w * h):
            tot = 0
            for ch in range(spp):
                v = vals[p * spp + ch]
                sums[ch] += v
                tot += v
            weighted += (p + 1) * tot
        return (
            fmt, w, h, spp,
            sums[0],
            sums[1] if spp > 1 else None,
            sums[2] if spp > 2 else None,
            weighted,
        )
    except (ValueError, IndexError):
        return None


def _qoi_hash(r: int, g: int, b: int, a: int) -> int:
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def qoi_encode(doc_id: int, w: int, h: int) -> bytes:
    """Deterministic QOI fixture over the RGB formula family
    (``(doc_id*31 + p*3 + ch) % 256`` with runs injected: pixels where
    ``p % 11 in (4, 5)`` repeat their predecessor, exercising
    QOI_OP_RUN; the formula's small channel deltas exercise DIFF/LUMA;
    revisited values hit INDEX).  Real greedy spec encoder: RUN, then
    INDEX, then DIFF, then LUMA, else RGB; alpha fixed 255."""
    import struct

    out = bytearray(b"qoif" + struct.pack(">IIBB", w, h, 3, 0))
    index = [(0, 0, 0, 0)] * 64
    prev = (0, 0, 0, 255)
    run = 0
    px = []
    for p in range(w * h):
        if p % 11 in (4, 5) and p > 0:
            px.append(px[-1])
        else:
            px.append(
                tuple((doc_id * 31 + p * 3 + ch) % 256 for ch in range(3))
                + (255,)
            )
    for cur in px:
        if cur == prev:
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        hidx = _qoi_hash(*cur)
        if index[hidx] == cur:
            out.append(hidx)
        else:
            index[hidx] = cur
            dr = (cur[0] - prev[0] + 128) % 256 - 128
            dg = (cur[1] - prev[1] + 128) % 256 - 128
            db = (cur[2] - prev[2] + 128) % 256 - 128
            if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                out.append(
                    0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2)
                )
            elif (
                -32 <= dg <= 31
                and -8 <= dr - dg <= 7
                and -8 <= db - dg <= 7
            ):
                out.append(0x80 | (dg + 32))
                out.append(((dr - dg + 8) << 4) | (db - dg + 8))
            else:
                out += bytes((0xFE, cur[0], cur[1], cur[2]))
        prev = cur
    if run:
        out.append(0xC0 | (run - 1))
    out += b"\x00" * 7 + b"\x01"
    return bytes(out)


def _qoi_decode(b: bytes):
    """QOI -> (width, height, channels, r_sum, g_sum, b_sum, weighted)
    or None.  Full spec decode (RGB/RGBA/INDEX/DIFF/LUMA/RUN, the
    running 64-slot index, the 8-byte end marker); pixel count must
    match the header exactly."""
    import struct

    if len(b) < 22 or b[0:4] != b"qoif":
        return None
    try:
        w, h, channels, _cs = struct.unpack_from(">IIBB", b, 4)
        if w <= 0 or h <= 0 or channels not in (3, 4):
            return None
        if b[-8:] != b"\x00" * 7 + b"\x01":
            return None
        index = [(0, 0, 0, 0)] * 64
        px = (0, 0, 0, 255)
        n = w * h
        pos = 14
        end = len(b) - 8
        rs = gs = bs = weighted = 0
        p = 0
        while p < n:
            if pos >= end:
                return None
            byte = b[pos]
            pos += 1
            if byte == 0xFE:
                px = (b[pos], b[pos + 1], b[pos + 2], px[3])
                pos += 3
            elif byte == 0xFF:
                px = (b[pos], b[pos + 1], b[pos + 2], b[pos + 3])
                pos += 4
            elif byte >> 6 == 0:
                px = index[byte]
            elif byte >> 6 == 1:
                dr = ((byte >> 4) & 3) - 2
                dg = ((byte >> 2) & 3) - 2
                db = (byte & 3) - 2
                px = (
                    (px[0] + dr) % 256, (px[1] + dg) % 256,
                    (px[2] + db) % 256, px[3],
                )
            elif byte >> 6 == 2:
                dg = (byte & 0x3F) - 32
                b2 = b[pos]
                pos += 1
                dr = dg + ((b2 >> 4) & 0xF) - 8
                db = dg + (b2 & 0xF) - 8
                px = (
                    (px[0] + dr) % 256, (px[1] + dg) % 256,
                    (px[2] + db) % 256, px[3],
                )
            else:  # RUN
                run = (byte & 0x3F) + 1
                for _ in range(run):
                    if p >= n:
                        return None
                    rs += px[0]
                    gs += px[1]
                    bs += px[2]
                    weighted += (p + 1) * (px[0] + px[1] + px[2])
                    p += 1
                continue
            index[_qoi_hash(*px)] = px
            rs += px[0]
            gs += px[1]
            bs += px[2]
            weighted += (p + 1) * (px[0] + px[1] + px[2])
            p += 1
        if pos != end:
            return None
        return (w, h, channels, rs, gs, bs, weighted)
    except (IndexError, ValueError, struct.error):
        return None


# ---------------------------------------------------------------------------
# ISO BMFF / MP4 box walk — container-level video metadata (ISO/IEC
# 14496-12 box grammar, public spec): the duration/track/size pass a
# video corpus runs BEFORE any codec work, and the one video layer that
# needs no codec libraries.  Codec-level frame decode remains the
# declared stub (no codecs in this environment).
# ---------------------------------------------------------------------------


def _box(tag: bytes, body: bytes, largesize: bool = False) -> bytes:
    import struct

    if largesize:
        return (
            struct.pack(">I", 1) + tag
            + struct.pack(">Q", 16 + len(body)) + body
        )
    return struct.pack(">I", 8 + len(body)) + tag + body


def mp4_encode(doc_id: int) -> bytes:
    """Deterministic minimal MP4: ftyp(isom, [isom, mp42]) + moov(mvhd
    timescale 1000, duration ``5000 + doc_id*37 % 100000``; one video
    trak, plus an audio trak for odd docs) + free + mdat with
    ``100 + doc_id % 50`` bytes ``(doc_id*13 + i*7) % 256``; every
    third doc writes mdat with the 64-bit largesize convention."""
    import struct

    duration = 5000 + (doc_id * 37) % 100000
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isommp42")
    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00"                 # version/flags
        + struct.pack(">II", 0, 0)           # ctime mtime
        + struct.pack(">II", 1000, duration)
        + struct.pack(">I", 0x00010000)      # rate
        + struct.pack(">H", 0x0100)          # volume
        + b"\x00" * 10                       # reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                      0x40000000)            # identity matrix
        + b"\x00" * 24                       # predefined
        + struct.pack(">I", 3),              # next track id
    )

    def trak(track_id: int) -> bytes:
        tkhd = _box(
            b"tkhd",
            b"\x00\x00\x00\x07"
            + struct.pack(">II", 0, 0)
            + struct.pack(">I", track_id)
            + b"\x00" * 4
            + struct.pack(">I", duration)
            + b"\x00" * 60,
        )
        return _box(b"trak", tkhd)

    traks = trak(1)
    if doc_id % 2 == 1:
        traks += trak(2)
    moov = _box(b"moov", mvhd + traks)
    free = _box(b"free", b"junk" * 3)
    n = 100 + doc_id % 50
    payload = bytes((doc_id * 13 + i * 7) % 256 for i in range(n))
    mdat = _box(b"mdat", payload, largesize=doc_id % 3 == 1)
    return ftyp + moov + free + mdat


def _mp4_walk(b: bytes):
    """ISO BMFF walk -> (brand, timescale, duration, n_tracks,
    mdat_bytes, mdat_sum) or None (quarantine).  Handles the 64-bit
    largesize and size-0 (to end of file) conventions; descends only
    into the container boxes that matter (moov/trak)."""
    import struct

    CONTAINERS = {b"moov", b"trak"}
    brand = None
    timescale = None
    duration = None
    n_tracks = 0
    mdat_bytes = None
    mdat_sum = None

    def walk(pos: int, end: int) -> bool:
        nonlocal brand, timescale, duration, n_tracks
        nonlocal mdat_bytes, mdat_sum
        while pos < end:
            if pos + 8 > end:
                return False
            size = struct.unpack_from(">I", b, pos)[0]
            tag = b[pos + 4 : pos + 8]
            hdr = 8
            if size == 1:
                if pos + 16 > end:
                    return False
                size = struct.unpack_from(">Q", b, pos + 8)[0]
                hdr = 16
            elif size == 0:
                size = end - pos
            if size < hdr or pos + size > end:
                return False
            body_start, body_end = pos + hdr, pos + size
            if tag == b"ftyp":
                if body_end - body_start < 8:
                    return False
                brand = b[body_start : body_start + 4].decode(
                    "ascii", "replace"
                )
            elif tag == b"mvhd":
                ver = b[body_start]
                off = body_start + 4 + (16 if ver == 1 else 8)
                if ver == 1:
                    timescale, = struct.unpack_from(">I", b, off)
                    duration, = struct.unpack_from(">Q", b, off + 4)
                else:
                    timescale, duration = struct.unpack_from(
                        ">II", b, off
                    )
            elif tag == b"tkhd":
                n_tracks += 1
            elif tag == b"mdat":
                payload = b[body_start:body_end]
                mdat_bytes = len(payload)
                mdat_sum = sum(payload)
            elif tag in CONTAINERS:
                if not walk(body_start, body_end):
                    return False
            pos += size
        return True

    if not walk(0, len(b)):
        return None
    if brand is None or timescale is None or mdat_bytes is None:
        return None
    return (brand, timescale, duration, n_tracks, mdat_bytes, mdat_sum)


# ---------------------------------------------------------------------------
# Truevision TGA — uncompressed (type 2) and RLE (type 10) truecolor
# plus the origin-bit row order, the fourth classic bitmap family.
# ---------------------------------------------------------------------------


def tga_encode(doc_id: int, w: int, h: int) -> bytes:
    """Deterministic TGA fixture: pixel p (TOP-DOWN raster) has
    channels ``(doc_id*31 + e*3 + ch) % 256`` with the QOI fixture's
    run injection (``e = p - (1 if p%11==4 else 2 if p%11==5 else 0)``);
    odd docs use RLE (type 10), even uncompressed (type 2);
    ``doc_id % 4 < 2`` stores BOTTOM-UP (origin bit clear) — the row
    flip every hand-rolled reader gets wrong.  24bpp BGR."""
    import struct

    rle = doc_id % 2 == 1
    top_down = doc_id % 4 >= 2
    px = []
    for p in range(w * h):
        e = p - (1 if p % 11 == 4 else 2 if p % 11 == 5 else 0)
        px.append(
            tuple((doc_id * 31 + e * 3 + ch) % 256 for ch in range(3))
        )
    rows = [px[y * w : (y + 1) * w] for y in range(h)]
    if not top_down:
        rows = rows[::-1]
    stored = [c for row in rows for c in row]
    hdr = struct.pack(
        "<BBBHHBHHHHBB",
        0, 0, 10 if rle else 2, 0, 0, 0, 0, 0, w, h, 24,
        0x20 if top_down else 0x00,
    )
    body = bytearray()
    if not rle:
        for r, g, b in stored:
            body += bytes((b, g, r))
    else:
        i = 0
        n = len(stored)
        while i < n:
            j = i
            while j + 1 < n and stored[j + 1] == stored[i] and j - i < 127:
                j += 1
            if j > i:  # run of (j - i + 1) identical pixels
                r, g, b = stored[i]
                body += bytes((0x80 | (j - i), b, g, r))
                i = j + 1
            else:  # raw literals until the next run begins
                k = i
                while (
                    k + 1 < n
                    and stored[k + 1] != stored[k]
                    and k - i < 127
                ):
                    k += 1
                body += bytes((k - i,))
                for r, g, b in stored[i : k + 1]:
                    body += bytes((b, g, r))
                i = k + 1
    return hdr + bytes(body)


def _tga_decode(b: bytes):
    """TGA types 2/10, 24bpp -> (width, height, rle, r_sum, g_sum,
    b_sum, weighted) in TOP-DOWN raster order, or None."""
    import struct

    if len(b) < 18:
        return None
    (id_len, cmap, itype, _co, _cl, _ce, _xo, _yo, w, h, bpp,
     desc) = struct.unpack_from("<BBBHHBHHHHBB", b, 0)
    if cmap != 0 or itype not in (2, 10) or bpp != 24:
        return None
    if w <= 0 or h <= 0:
        return None
    pos = 18 + id_len
    n = w * h
    stored = []
    try:
        if itype == 2:
            raw = b[pos : pos + n * 3]
            if len(raw) != n * 3:
                return None
            stored = [
                (raw[i * 3 + 2], raw[i * 3 + 1], raw[i * 3])
                for i in range(n)
            ]
        else:
            while len(stored) < n:
                hdrb = b[pos]
                pos += 1
                cnt = (hdrb & 0x7F) + 1
                if hdrb & 0x80:
                    bl, g, r = b[pos], b[pos + 1], b[pos + 2]
                    pos += 3
                    stored.extend([(r, g, bl)] * cnt)
                else:
                    for _ in range(cnt):
                        bl, g, r = b[pos], b[pos + 1], b[pos + 2]
                        pos += 3
                        stored.append((r, g, bl))
            if len(stored) != n:
                return None
    except IndexError:
        return None
    rows = [stored[y * w : (y + 1) * w] for y in range(h)]
    if not (desc & 0x20):  # bottom-up storage -> flip to top-down
        rows = rows[::-1]
    flat = [c for row in rows for c in row]
    rs = sum(c[0] for c in flat)
    gs = sum(c[1] for c in flat)
    bs = sum(c[2] for c in flat)
    wt = sum((p + 1) * sum(c) for p, c in enumerate(flat))
    return (w, h, itype == 10, rs, gs, bs, wt)
