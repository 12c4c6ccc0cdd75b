"""Multimodal columns: image/audio/video as opaque `binary` + typed
metadata (driver brief).

Round 4: the codec plane is REAL end-to-end with zero codec libraries —
every byte that comes out of these operators is computed from the actual
container bytes, never from a hash of them:

- images: genuine PNG files (8-bit grayscale, vertical-gradient rows
  encoded with Sub/Up scanline filters, single stored-block zlib
  stream). Dims come from the vectorized IHDR header parse; PIXELS come
  from a full PNG decode — zlib inflate + bpp-aware inverse scanline
  filtering (all five filter types; grayscale, RGB, palette,
  gray+alpha and RGBA color types as of round 5) — implemented on
  numpy (`decode_png`).
  `resize_images` does a real nearest-neighbor resample of those pixels.
  Round 5 adds baseline JPEG: a genuine Huffman+DCT codec pair
  (`encode_jpeg_gray`/`decode_jpeg` — entropy
  coding, byte stuffing, restart markers, interleaved-MCU color with
  4:4:4/4:2:2/4:2:0 chroma subsampling and the JFIF BT.601 transform,
  dequantize, vectorized IDCT — plus full PROGRESSIVE decode: spectral
  selection, successive approximation, EOB runs, refinement bits; the
  color and progressive encoders are test counterparts, kept in
  tests/jpeg_encoders.py) with a planted 8-row-band
  fixture whose all-ones quantization makes the roundtrip EXACT
  (`jpeg_bytes`; oracle mm_decode_jpeg), closing the last stubbed
  decode path; the remaining declines are 12-bit precision, arithmetic
  coding and hierarchical mode.
- audio: genuine RIFF/WAVE containers; duration is parsed from the
  `fmt ` byte-rate and `data` chunk size (`sniff_wav_duration_ms`).
- video: genuine ISO-BMFF (MP4) containers; duration is parsed from the
  `moov/mvhd` timescale+duration box walk (`sniff_mp4_duration_ms`),
  and `sample_video_frames` demuxes real per-frame records out of the
  `mdat` box by computed offset.

The planted fixture keeps CLOSED FORMS of doc_id for every derived
quantity (dims, byte lengths, durations, pixel means), so DuckDB oracles
verify the real parse/decode paths against ground truth the engine never
sees (catalog entries mm_*).

At 100 TB the binary payloads dominate I/O: metadata extraction reads
container HEADERS only (decode_pixels=False default — column pruning
keeps payload bytes out of scans that don't touch them), and pixel
decode fans out via mapInPandas with bounded Arrow batches, filtered to
image rows before any byte is inflated."""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# planted media geometry/durations: closed forms of doc_id so DuckDB
# oracles can verify the engine's header PARSING and pixel DECODE against
# known ground truth (mirrored in catalog.py SQL)
IMG_W = "64 + doc_id % 192"            # [64, 255]
IMG_H = "64 + (doc_id * 7) % 192"      # [64, 255]
IMG_FILL = "doc_id % 251"              # top-row pixel value; row r adds r (mod 256)
WAV_BYTE_RATE = 1000                   # 1 kHz * 8-bit mono -> 1 byte/ms
WAV_DATA_BYTES = "1000 + (doc_id * 13) % 60000"   # == duration_ms
MP4_TIMESCALE = 600                    # the conventional MP4 movie timescale
MP4_DUR_UNITS = "600 + (doc_id * 17) % 36000"     # 1s .. 61s
FRAME_CADENCE_MS = 5000                # planted mdat frame-record cadence
FRAME_RECORD_BYTES = 16                # one demuxable record per frame


def png_bytes(width: int, height: int, fill: int) -> bytes:
    """A real, spec-valid PNG: 8-bit grayscale, one IDAT whose zlib stream
    is a single STORED block (level-0), so the total byte length has the
    closed form 68 + (width+1)*height for raw <= 65535 — which lets a SQL
    oracle predict n_bytes without running zlib.

    Pixel plant: a VERTICAL GRADIENT — row r is the constant value
    (fill + r) % 256 — encoded with real scanline filters (row 0: Sub,
    rows 1..h-1: Up), so decode_png must actually invert the filter chain
    to recover the gradient; a decoder that ignored filter bytes would
    read back garbage. Same raw length as filter-0 encoding, so the
    stored-block length formula is unchanged."""
    row0 = b"\x01" + bytes([fill % 256]) + b"\x00" * (width - 1)   # Sub: [fill,0,0,...]
    up_row = b"\x02" + b"\x01" * width                             # Up:  +1 per row
    raw = row0 + up_row * (height - 1)
    if len(raw) > 65535:  # single stored block bound
        raise ValueError("png_bytes: raw scanline data exceeds one stored block")

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    z = (
        b"\x78\x01"  # CMF/FLG
        + b"\x01"    # BFINAL=1, BTYPE=00 (stored)
        + struct.pack("<H", len(raw))
        + struct.pack("<H", len(raw) ^ 0xFFFF)
        + raw
        + struct.pack(">I", zlib.adler32(raw) & 0xFFFFFFFF)
    )
    return PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", z) + chunk(b"IEND", b"")


def wav_bytes(data_len: int) -> bytes:
    """A real RIFF/WAVE container: canonical 44-byte header (PCM, mono,
    8-bit, 1 kHz => byte_rate 1000 => duration_ms == data_len) followed
    by a planted ramp payload. RIFF requires word alignment: an
    odd-length data chunk carries a pad byte NOT counted in the chunk's
    size field but included in the enclosing RIFF size — the sniffer
    already advances 8 + ln + (ln & 1), and a strict external parser
    (or any chunk appended after data) needs the pad to be really
    there. n_bytes closed form: 44 + data_len + (data_len % 2)."""
    data = (np.arange(data_len, dtype=np.uint32) % 256).astype(np.uint8).tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, WAV_BYTE_RATE, WAV_BYTE_RATE, 1, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", data_len) + data \
        + (b"\x00" if data_len % 2 else b"")
    return b"RIFF" + struct.pack("<I", len(body)) + body


def mp4_bytes(doc_id: int, dur_units: int) -> bytes:
    """A real ISO-BMFF (MP4) container: ftyp + moov(mvhd v0 with planted
    timescale/duration) + mdat holding one 16-byte frame record per
    FRAME_CADENCE_MS of duration (record j = little-endian (doc_id, j) —
    demuxable ground truth for sample_video_frames).

    n_bytes closed form: 144 + 16 * (duration_ms // 5000 + 1) where
    duration_ms = dur_units * 1000 // 600."""
    ftyp = struct.pack(">I", 20) + b"ftypisom" + struct.pack(">I", 0) + b"isom"
    mvhd = (
        struct.pack(">I", 108) + b"mvhd"
        + b"\x00\x00\x00\x00"                       # version 0 + flags
        + struct.pack(">II", 0, 0)                   # ctime/mtime
        + struct.pack(">II", MP4_TIMESCALE, dur_units)
        + struct.pack(">I", 0x00010000)              # rate 1.0
        + struct.pack(">H", 0x0100) + b"\x00\x00"    # volume + reserved
        + b"\x00" * 8                                # reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24                               # pre_defined
        + struct.pack(">I", 2)                       # next_track_ID
    )
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    dur_ms = dur_units * 1000 // MP4_TIMESCALE
    n_frames = dur_ms // FRAME_CADENCE_MS + 1
    records = b"".join(
        struct.pack("<QQ", doc_id & 0xFFFFFFFFFFFFFFFF, j) for j in range(n_frames)
    )
    mdat = struct.pack(">I", 8 + len(records)) + b"mdat" + records
    return ftyp + moov + mdat


def _be32(m: np.ndarray, off: int) -> np.ndarray:
    return (
        (m[:, off].astype(np.int64) << 24)
        | (m[:, off + 1].astype(np.int64) << 16)
        | (m[:, off + 2].astype(np.int64) << 8)
        | m[:, off + 3].astype(np.int64)
    )


def sniff_jpeg_dims(b: bytes) -> tuple[int, int] | None:
    """JPEG dims from the SOF marker segment (no decode): walk the marker
    stream until a start-of-frame (FFC0-FFCF except DHT/JPG/DAC), whose
    payload is [precision u8, height u16be, width u16be, ...]."""
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        return None
    i = 2
    # reading h/w needs bytes b[i+5 : i+9], so i + 9 <= len(b) suffices —
    # a strict < would drop an SOF whose dims end exactly at the buffer end
    while i + 9 <= len(b):
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h = int.from_bytes(b[i + 5 : i + 7], "big")
            w = int.from_bytes(b[i + 7 : i + 9], "big")
            return (w, h)
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:  # no payload
            i += 2
            continue
        i += 2 + int.from_bytes(b[i + 2 : i + 4], "big")
    return None


_HEAD = 24  # PNG sig (8) + IHDR len/tag (8) + width/height (8)


def sniff_image_dims(payloads) -> tuple[np.ndarray, np.ndarray]:
    """(width, height) per payload, -1 where unknown. The PNG path is
    vectorized: one bytes-join builds an (n, 24) uint8 header matrix and
    the signature test + IHDR big-endian reads run as numpy column ops —
    no per-row Python on the (dominant) PNG share. Non-PNG rows fall back
    to the per-file JPEG marker walk."""
    blobs = [bytes(p) for p in payloads]
    n = len(blobs)
    if n == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    heads = np.frombuffer(
        b"".join(b[:_HEAD].ljust(_HEAD, b"\0") for b in blobs), dtype=np.uint8
    ).reshape(n, _HEAD)
    sig = np.frombuffer(PNG_SIG + b"\0\0\0\rIHDR", dtype=np.uint8)  # sig + IHDR len/tag
    lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=n)
    # a blob shorter than the 24-byte header was zero-PADDED above — its
    # dim columns are padding, not data, so it can never count as PNG
    is_png = (heads[:, :16] == sig).all(axis=1) & (lens >= _HEAD)
    w = np.where(is_png, _be32(heads, 16), -1)
    h = np.where(is_png, _be32(heads, 20), -1)
    # PNG spec bounds dims to [1, 2^31 - 1]; a corrupt header outside that
    # must degrade to unknown (-1), not overflow the Int32 output or emit
    # a zero-area image downstream
    bad = (w < 1) | (h < 1) | (w >= 1 << 31) | (h >= 1 << 31)
    w = np.where(bad, -1, w)
    h = np.where(bad, -1, h)
    for i in np.nonzero(~is_png)[0]:  # rare fallback path
        dims = sniff_jpeg_dims(blobs[i])
        if dims is not None:
            w[i], h[i] = dims
    return w, h


# Adam7 pass lattice: (x_start, y_start, x_step, y_step) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: np.ndarray, h: int, w: int, bpp: int) -> np.ndarray:
    """Invert PNG scanline filters over an (h, w*bpp+1) byte grid (spec
    §6; the left neighbour sits bpp bytes back). Returns (h, w*bpp)
    uint8. None/Up vectorize per row, Sub is a per-channel cumsum;
    Average/Paeth run per byte."""
    stride = w * bpp
    raw = raw.reshape(h, stride + 1)
    ftypes, rows = raw[:, 0], raw[:, 1:].astype(np.int64)
    out = np.zeros((h, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        f, row = int(ftypes[r]), rows[r]
        if f == 0:      # None
            rec = row
        elif f == 1:    # Sub: per-channel prefix sum mod 256
            rec = np.cumsum(row.reshape(w, bpp), axis=0).reshape(stride) & 0xFF
        elif f == 2:    # Up
            rec = (row + prev) & 0xFF
        elif f == 3:    # Average (left-dependent: per-byte)
            rec = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                rec[x] = (row[x] + (a + prev[x]) // 2) & 0xFF
        elif f == 4:    # Paeth (left-dependent: per-byte)
            rec = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                bb = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + bb - c
                pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else c)
                rec[x] = (row[x] + pred) & 0xFF
        else:
            raise ValueError(f"decode_png: bad filter type {f}")
        out[r] = rec
        prev = rec
    return out.astype(np.uint8)


def decode_png(b: bytes) -> np.ndarray:
    """REAL PNG pixel decode with no codec library: chunk walk -> IDAT
    concat -> zlib inflate -> inverse scanline filtering (bpp-aware),
    returning (h, w) uint8 for grayscale and (h, w, 3) for color. Scope:
    8-bit, all five color types — grayscale (0), RGB (2), palette (3,
    PLTE lookup), gray+alpha (4) and RGBA (6) — both non-interlaced and
    Adam7-interlaced (seven independently-filtered sub-images scattered
    back by the spec lattice); the alpha channel is dropped after
    unfiltering (the pixel operators consume opaque sample planes);
    16-bit samples unfilter at their true 2-byte pixel stride and reduce
    to the high byte (the standard 8-bit reduction — the operators
    consume uint8 planes).

    Filter inversion (PNG spec §6): None and Up are vectorized per row;
    Sub is a per-channel prefix sum mod 256 (reshape to (w, bpp), cumsum
    along x — the left neighbour sits bpp bytes back); Average and Paeth
    carry a left-neighbour dependency so they run per-byte — correct
    first, and absent from the fixture's hot path (pytest covers them
    via an independent forward-filter encoder for every color type)."""
    if b[:8] != PNG_SIG:
        raise ValueError("decode_png: not a PNG")
    i, w = 8, None
    idat = []
    plte = None
    while i + 8 <= len(b):
        ln = int.from_bytes(b[i : i + 4], "big")
        tag = b[i + 4 : i + 8]
        data = b[i + 8 : i + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, ilace = struct.unpack(">IIBBBBB", data)
            if depth not in (8, 16) or comp != 0 or filt != 0 or ilace not in (0, 1):
                raise ValueError("decode_png: only 8/16-bit, filter method 0")
            if ctype not in (0, 2, 3, 4, 6) or (depth == 16 and ctype == 3):
                raise ValueError(f"decode_png: bad color type {ctype}")
            if w == 0 or h == 0 or w >= 1 << 31 or h >= 1 << 31:
                raise ValueError("decode_png: dims out of spec range")
        elif tag == b"PLTE":
            if ln % 3:
                raise ValueError("decode_png: bad PLTE length")
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
        i += 12 + ln
    if w is None or not idat:
        raise ValueError("decode_png: missing IHDR/IDAT")
    # filter bpp is in BYTES: 16-bit samples double it (PNG spec §6 —
    # the left neighbour sits one whole pixel back)
    bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype] * (depth // 8)
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    if ilace == 0:
        if raw.size != h * (w * bpp + 1):
            raise ValueError("decode_png: scanline size mismatch")
        px = _png_unfilter(raw, h, w, bpp).reshape(h, w, bpp)
    else:
        # Adam7: seven independently-filtered sub-images, scattered back
        # by the spec's fixed offset/stride lattice; empty passes carry
        # no bytes at all (not even filter bytes)
        px = np.zeros((h, w, bpp), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            n = ph * (pw * bpp + 1)
            chunk_ = raw[off : off + n]
            if chunk_.size != n:
                raise ValueError("decode_png: interlaced scanline size mismatch")
            off += n
            sub = _png_unfilter(chunk_, ph, pw, bpp).reshape(ph, pw, bpp)
            px[y0::dy, x0::dx] = sub
        if off != raw.size:
            raise ValueError("decode_png: trailing interlaced data")
    if depth == 16:
        # 16-bit samples are big-endian: the HIGH byte is the standard
        # 8-bit reduction (what thumbnailers keep); the pixel operators
        # consume uint8 planes
        px = px.reshape(h, w, bpp // 2, 2)[:, :, :, 0]
    if ctype == 0:
        return px[:, :, 0]
    if ctype == 2:
        return px
    if ctype == 3:
        if plte is None:
            raise ValueError("decode_png: palette image without PLTE")
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= plte.shape[0]:
            raise ValueError("decode_png: palette index out of range")
        return plte[idx]
    if ctype == 4:
        return px[:, :, 0]  # drop alpha
    return px[:, :, :3]     # RGBA: drop alpha


# the full set of exceptions a corrupt-but-PNG-signed payload can raise
# inside decode_png: ValueError (explicit guards, reshape mismatch),
# zlib.error (truncated/garbage IDAT), struct.error (short IHDR). The
# degrade-to-NULL contract must catch ALL of them — zlib.error and
# struct.error are NOT ValueError subclasses, and an uncaught one fails
# the task (and with it the job) on a single bad row.
_DECODE_ERRORS = (ValueError, zlib.error, struct.error)


def try_decode_png(b: bytes) -> np.ndarray | None:
    """decode_png with the row-local degradation contract: any decode
    failure — wrong container, unsupported shape, truncated or corrupt
    bytes — returns None instead of raising."""
    try:
        return decode_png(b)
    except _DECODE_ERRORS:
        return None


# ---------------------------------------------------------------------------
# Baseline JPEG codec (round 5 — closes the last stubbed data path):
# a REAL Huffman + DCT decode with no codec library, mirroring the PNG
# approach. Scope: baseline/extended sequential (SOF0/SOF1), 8-bit,
# grayscale AND 3-component YCbCr color (4:4:4/4:2:2/4:2:0 chroma
# subsampling, replication upsample, JFIF BT.601 transform), restart
# markers, and PROGRESSIVE streams (spectral selection + successive
# approximation, EOB runs, refinement correction bits — round 5);
# 12-bit precision / arithmetic coding / hierarchical mode raise
# (degrade-to-NULL via try_decode_image).
# The fixture encoder plants 8-row constant bands so
# the all-ones quantization table makes the roundtrip EXACT (a constant
# block's only nonzero coefficient is the integer DC = 8*(v-128)), giving
# SQL oracles a closed-form pixel ground truth through a genuine
# entropy-decode + IDCT path.

_JPG_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]  # 12 cat codes, len 4
_JPG_DC_VALS = list(range(12))
# AC: EOB at 2 bits; ZRL, the progressive EOBn symbols (r<<4, r=1..14)
# and every (run 0-15, size 1-10) symbol at 9 bits. Kraft 2^-2 +
# 175*2^-9 < 1 and canonical assignment never reaches the all-ones
# code, so the table is spec-valid; the decoder reads whatever DHT
# declares, so nothing depends on these being the Annex K tables.
_JPG_AC_VALS = (
    [0x00, 0xF0]
    + [r << 4 for r in range(1, 15)]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_JPG_AC_BITS = [0, 1, 0, 0, 0, 0, 0, 0, len(_JPG_AC_VALS) - 1, 0, 0, 0, 0, 0, 0, 0]


def _zigzag_rc() -> list[tuple[int, int]]:
    """The JPEG zigzag scan as (row, col) pairs: diagonals of constant
    r+c, odd diagonals walked row-increasing (top-right -> bottom-left),
    even ones row-decreasing (pinned by test_jpeg_decode's literal
    prefix check)."""
    out = []
    for s in range(15):
        rows = [r for r in range(8) if 0 <= s - r < 8]
        out += [(r, s - r) for r in (rows if s % 2 else rows[::-1])]
    return out


_ZIGZAG = _zigzag_rc()
# orthonormal DCT-II basis: A[u, x] = c(u)/2 * cos((2x+1) u pi / 16);
# coeffs = A @ X @ A.T, pixels = A.T @ C @ A
_DCT_A = np.array(
    [
        [
            (np.sqrt(0.125) if u == 0 else 0.5) * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """JPEG canonical Huffman assignment: value -> (code, length)."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    """MSB-first bit accumulator with JPEG 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            self.put(0xFF, 8 - self.nbits)  # pad with 1-bits per spec
        return bytes(self.out)


def _dc_category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _pad_plane(px: np.ndarray, bh: int, bw_: int) -> np.ndarray:
    """Pad a sample plane to a (bh x bw_)-block grid by replicating the
    last row/column — the standard encoder edge treatment."""
    h, w = px.shape
    out = np.zeros((bh * 8, bw_ * 8), dtype=np.float64)
    out[:h, :w] = px
    out[h:, :w] = px[h - 1 :, :]
    out[:, w:] = out[:, w - 1 : w]
    return out


def _emit_block(
    bw: _BitWriter, padded: np.ndarray, by: int, bx: int, pred: int, dc_codes, ac_codes
) -> int:
    """Forward-DCT one 8x8 block (all-ones quantization), Huffman-emit
    DC diff + AC runs, return the new DC predictor."""
    block = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
    q = np.rint(_DCT_A @ block @ _DCT_A.T).astype(np.int64)
    zz = [int(q[r, c]) for r, c in _ZIGZAG]
    diff = zz[0] - pred
    s = _dc_category(diff)
    code, ln = dc_codes[s]
    bw.put(code, ln)
    if s:
        bw.put(diff if diff >= 0 else diff - 1 + (1 << s), s)
    run = 0
    for v in zz[1:]:
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        s = _dc_category(v)
        if s > 10:
            raise ValueError("jpeg encode: AC coefficient too large")
        code, ln = ac_codes[(run << 4) | s]
        bw.put(code, ln)
        bw.put(v if v >= 0 else v - 1 + (1 << s), s)
        run = 0
    if run:
        code, ln = ac_codes[0x00]  # EOB
        bw.put(code, ln)
    return zz[0]


def _jpeg_headers(h: int, w: int, comp_specs: list[tuple[int, int]], restart: int) -> bytes:
    """SOI + DQT(all-ones, id 0) + SOF0 + DHT (the minimal tables, ids
    0) + optional DRI + SOS for `comp_specs` = [(sampling_h, sampling_v),
    ...] with component ids 1..n, every component on quant/huff table 0."""

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    nc = len(comp_specs)
    sof_comps = b"".join(
        bytes([ci + 1, (sh << 4) | sv, 0]) for ci, (sh, sv) in enumerate(comp_specs)
    )
    sos_comps = b"".join(bytes([ci + 1, 0x00]) for ci in range(nc))
    return (
        b"\xff\xd8"
        + seg(0xDB, b"\x00" + bytes(64 * [1]))
        + seg(0xC0, struct.pack(">BHHB", 8, h, w, nc) + sof_comps)
        + seg(
            0xC4,
            b"\x00" + bytes(_JPG_DC_BITS) + bytes(_JPG_DC_VALS)
            + b"\x10" + bytes(_JPG_AC_BITS) + bytes(_JPG_AC_VALS),
        )
        + (seg(0xDD, struct.pack(">H", restart)) if restart else b"")
        + seg(0xDA, bytes([nc]) + sos_comps + bytes([0, 63, 0]))
    )


def encode_jpeg_gray(px: np.ndarray, restart_interval: int = 0) -> bytes:
    """General baseline grayscale JPEG encoder (all-ones quantization
    table — the fixture's lossless-for-constant-blocks configuration;
    general pixel content roundtrips within DCT float rounding, i.e.
    +/-1 gray level). Edge blocks replicate the last row/column, the
    standard encoder padding. restart_interval > 0 emits DRI + RSTn
    markers every N MCUs (exercises the decoder's resync path)."""
    h, w = px.shape
    if not (1 <= h <= 65535 and 1 <= w <= 65535):
        raise ValueError("encode_jpeg_gray: dims out of range")
    h8, w8 = (h + 7) // 8, (w + 7) // 8
    padded = _pad_plane(px, h8, w8)
    dc_codes = _canonical_codes(_JPG_DC_BITS, _JPG_DC_VALS)
    ac_codes = _canonical_codes(_JPG_AC_BITS, _JPG_AC_VALS)

    bw = _BitWriter()
    segments = []
    prev_dc, mcu, rst = 0, 0, 0
    for by in range(h8):
        for bx in range(w8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                segments.append(bw.flush())
                segments.append(bytes([0xFF, 0xD0 + rst]))
                rst = (rst + 1) % 8
                bw = _BitWriter()
                prev_dc = 0
            prev_dc = _emit_block(bw, padded, by, bx, prev_dc, dc_codes, ac_codes)
            mcu += 1
    segments.append(bw.flush())
    return (
        _jpeg_headers(h, w, [(1, 1)], restart_interval)
        + b"".join(segments)
        + b"\xff\xd9"
    )


def jpeg_bytes(width: int, height: int, fill: int) -> bytes:
    """Fixture JPEG: 8-row constant bands — row r has value
    (fill + 8*(r//8)) % 256 — so every 8x8 block is constant and the
    all-ones quantization makes decode EXACT (closed-form oracle:
    catalog mm_decode_jpeg). The container is a genuine baseline JFIF
    stream: real Huffman tables, real entropy coding, real IDCT on the
    way back."""
    rows = (np.full(width, 1, dtype=np.int64) * 0)[None, :] + (
        (fill + 8 * (np.arange(height, dtype=np.int64)[:, None] // 8)) % 256
    )
    return encode_jpeg_gray(rows.astype(np.uint8))


class _BitReader:
    """MSB-first reader over JPEG entropy bytes. Handles 0xFF00 stuffing
    and surfaces RSTn markers to the caller via align_to_marker()."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.buf
        if self.pos >= len(b):
            raise ValueError("decode_jpeg: entropy stream truncated")
        byte = b[self.pos]
        if byte == 0xFF:
            nxt = b[self.pos + 1] if self.pos + 1 < len(b) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                # restart marker mid-read: only legal at MCU boundaries,
                # which align_to_marker consumes — hitting one here means
                # the stream lied about MCU counts
                raise ValueError("decode_jpeg: unexpected RST marker")
            else:
                raise ValueError("decode_jpeg: unexpected marker in scan")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v

    def align_to_marker(self) -> None:
        """Consume the byte-aligned RSTn marker between restart intervals."""
        self.acc, self.nbits = 0, 0
        b = self.buf
        while self.pos + 1 < len(b) and not (
            b[self.pos] == 0xFF and 0xD0 <= b[self.pos + 1] <= 0xD7
        ):
            self.pos += 1
        if self.pos + 1 >= len(b):
            raise ValueError("decode_jpeg: missing RST marker")
        self.pos += 2

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code, ln = 0, 0
        while ln < 16:
            code = (code << 1) | self.bits(1)
            ln += 1
            v = table.get((ln, code))
            if v is not None:
                return v
        raise ValueError("decode_jpeg: invalid Huffman code")


def _extend(v: int, s: int) -> int:
    """JPEG EXTEND: map the s low bits back to the signed coefficient."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(b: bytes) -> np.ndarray:
    """REAL JPEG pixel decode with no codec library — sequential AND
    progressive: marker walk -> DQT/DHT/SOF/DRI/SOS parse -> Huffman
    entropy decode per scan (byte unstuffing, restart resync,
    interleaved MCUs; progressive spectral selection + successive
    approximation with EOB-run and refinement-bit semantics per
    T.81 §G.2) -> dequantize -> de-zigzag -> one vectorized IDCT matmul
    per component -> level shift, returning an (h, w) uint8 matrix for
    grayscale or an (h, w, 3) RGB matrix for 3-component YCbCr (JFIF
    full-range BT.601 conversion; chroma subsampling — 4:4:4 / 4:2:2 /
    4:2:0 and any integer-divisor factors — upsampled by replication).
    Out of scope, raising rather than mis-decoding (degrades to NULL
    rows through try_decode_image; dims still real via the SOF
    sniffer): 12-bit precision, arithmetic coding, hierarchical mode.
    Reference delegates pixel decode to its docling/PIL stack; this is
    that capability rebuilt on numpy for the sandbox."""
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        raise ValueError("decode_jpeg: not a JPEG")
    i = 2
    qts: dict[int, np.ndarray] = {}
    hts: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    progressive = False
    dri = 0
    comps: list[dict] = []
    mcux = mcuy = max_h = max_v = 0

    def init_frame() -> None:
        nonlocal mcux, mcuy, max_h, max_v
        fh, fw = frame
        max_h = max(c["h"] for c in comps)
        max_v = max(c["v"] for c in comps)
        for c in comps:
            if not (1 <= c["h"] <= 4 and 1 <= c["v"] <= 4):
                raise ValueError("decode_jpeg: sampling factor out of range")
            if max_h % c["h"] or max_v % c["v"]:
                # replication upsampling needs integer ratios (true of
                # every real-world sampling: 4:4:4, 4:2:2, 4:2:0, 4:1:1)
                raise ValueError("decode_jpeg: non-integer sampling ratio")
        mcux = (fw + 8 * max_h - 1) // (8 * max_h)
        mcuy = (fh + 8 * max_v - 1) // (8 * max_v)
        for c in comps:
            c["bw"] = mcux * c["h"]   # interleaved (padded) block grid
            c["bh"] = mcuy * c["v"]
            # TRUE component block dims (non-interleaved scans use these,
            # not the interleaved padding — the classic progressive trap)
            c["nbx"] = (fw * c["h"] + 8 * max_h - 1) // (8 * max_h)
            c["nby"] = (fh * c["v"] + 8 * max_v - 1) // (8 * max_v)
            c["coef"] = np.zeros((c["bh"] * c["bw"], 64), dtype=np.int64)

    def decode_scan(scan_comps: list[dict], tabs, at: int, ss: int, se: int,
                    ah: int, al: int) -> int:
        """Entropy-decode one scan starting at byte `at`; returns the
        byte offset just past the scan's entropy data. scan_comps in
        scan order; tabs[cid] = (dc_id, ac_id)."""
        br = _BitReader(b, at)
        for c in scan_comps:
            c["pred"] = 0
        eobrun = 0
        interleaved = len(scan_comps) > 1

        def units() -> list[list[tuple[dict, int]]]:
            """Restart units: each inner list is one MCU (interleaved)
            or one block (non-interleaved) as (comp, coef_index)."""
            out = []
            if interleaved:
                for mcu in range(mcuy * mcux):
                    myi, mxi = divmod(mcu, mcux)
                    blocks = []
                    for c in scan_comps:
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                n = (myi * c["v"] + by) * c["bw"] + (mxi * c["h"] + bx)
                                blocks.append((c, n))
                    out.append(blocks)
            else:
                c = scan_comps[0]
                for by in range(c["nby"]):
                    for bx in range(c["nbx"]):
                        out.append([(c, by * c["bw"] + bx)])
            return out

        def dc_first(c: dict, row: np.ndarray) -> None:
            s = br.huff(c["dct"])
            diff = _extend(br.bits(s), s) if s else 0
            c["pred"] += diff
            row[0] = c["pred"] << al

        def dc_refine(row: np.ndarray) -> None:
            if br.bits(1):
                row[0] |= 1 << al

        def ac_first(c: dict, row: np.ndarray) -> None:
            nonlocal eobrun
            if eobrun > 0:
                eobrun -= 1
                return
            k = ss
            while k <= se:
                rs = br.huff(c["act"])
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r < 15:   # EOBn: run of (1<<r)-1+bits more EOB blocks
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.bits(r)
                        return
                    k += 16      # ZRL
                    continue
                k += r
                if k > se:
                    raise ValueError("decode_jpeg: AC index overflow")
                row[k] = _extend(br.bits(s), s) << al
                k += 1

        p1 = 1 << al
        m1 = -1 << al

        def refine_nonzero(row: np.ndarray, k: int) -> None:
            if br.bits(1) and (row[k] & p1) == 0:
                row[k] += p1 if row[k] > 0 else m1

        def ac_refine(c: dict, row: np.ndarray) -> None:
            """T.81 §G.1.2.3 AC successive-approximation refinement:
            correction bits interleave with newly-significant +-1<<al
            placements; EOB runs carry correction bits for the whole
            remaining band."""
            nonlocal eobrun
            if eobrun > 0:
                eobrun -= 1
                for k in range(ss, se + 1):
                    if row[k]:
                        refine_nonzero(row, k)
                return
            k = ss
            while k <= se:
                rs = br.huff(c["act"])
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r < 15:
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.bits(r)
                        while k <= se:
                            if row[k]:
                                refine_nonzero(row, k)
                            k += 1
                        return
                    val = 0      # ZRL: pass 16 zero-history positions
                else:
                    if s != 1:
                        raise ValueError("decode_jpeg: bad AC refinement size")
                    val = p1 if br.bits(1) else m1
                while k <= se:
                    if row[k]:
                        refine_nonzero(row, k)
                    else:
                        if r == 0:
                            if val:
                                row[k] = val
                            k += 1
                            break
                        r -= 1
                    k += 1

        us = units()
        for n, unit in enumerate(us):
            if dri and n and n % dri == 0:
                br.align_to_marker()
                for c in scan_comps:
                    c["pred"] = 0
                eobrun = 0
            for c, idx in unit:
                row = c["coef"][idx]
                if not progressive:
                    # sequential: DC + full AC band in one pass
                    dc_first(c, row)
                    k = 1
                    while k <= 63:
                        rs = br.huff(c["act"])
                        if rs == 0x00:
                            break
                        if rs == 0xF0:
                            k += 16
                            continue
                        r, s = rs >> 4, rs & 0x0F
                        k += r
                        if k > 63 or s == 0:
                            raise ValueError("decode_jpeg: AC index overflow")
                        row[k] = _extend(br.bits(s), s)
                        k += 1
                elif ss == 0:
                    dc_first(c, row) if ah == 0 else dc_refine(row)
                else:
                    ac_first(c, row) if ah == 0 else ac_refine(c, row)
        # skip pad bits / trailing RST, land on the next marker
        j = br.pos
        while j + 1 < len(b) and not (
            b[j] == 0xFF and b[j + 1] != 0x00 and not (0xD0 <= b[j + 1] <= 0xD7)
        ):
            j += 1
        return j

    while i + 2 <= len(b):
        if b[i] != 0xFF:
            raise ValueError("decode_jpeg: marker desync")
        m = b[i + 1]
        if m == 0xFF:  # fill byte
            i += 1
            continue
        if m == 0xD9:  # EOI
            break
        if m in (0x01,) or 0xD0 <= m <= 0xD8:
            i += 2
            continue
        if i + 4 > len(b):
            raise ValueError("decode_jpeg: truncated marker")
        ln = int.from_bytes(b[i + 2 : i + 4], "big")
        data = b[i + 4 : i + 2 + ln]
        if len(data) != ln - 2:
            raise ValueError("decode_jpeg: truncated segment")
        if m == 0xDB:  # DQT (possibly several tables per segment)
            j = 0
            while j < len(data):
                prec, tid = data[j] >> 4, data[j] & 0x0F
                j += 1
                n = 64 * (2 if prec else 1)
                raw = data[j : j + n]
                if len(raw) != n:
                    raise ValueError("decode_jpeg: short DQT")
                vals = (
                    np.frombuffer(raw, dtype=">u2").astype(np.int64)
                    if prec
                    else np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
                )
                qts[tid] = vals
                j += n
        elif m == 0xC4:  # DHT (possibly several tables; redefinable per scan)
            j = 0
            while j + 17 <= len(data):
                cls, tid = data[j] >> 4, data[j] & 0x0F
                bits = list(data[j + 1 : j + 17])
                nv = sum(bits)
                vals = list(data[j + 17 : j + 17 + nv])
                if len(vals) != nv:
                    raise ValueError("decode_jpeg: short DHT")
                dec: dict[tuple[int, int], int] = {}
                code, k = 0, 0
                for L in range(1, 17):
                    for _ in range(bits[L - 1]):
                        dec[(L, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                hts[(cls, tid)] = dec
                j += 17 + nv
        elif m in (0xC0, 0xC1, 0xC2):  # sequential / progressive frames
            progressive = m == 0xC2
            prec, fh, fw, nc = struct.unpack(">BHHB", data[:6])
            if prec != 8:
                raise ValueError("decode_jpeg: only 8-bit precision")
            if nc not in (1, 3):
                raise ValueError("decode_jpeg: only grayscale or 3-component YCbCr")
            comps = []
            for c in range(nc):
                cid, samp, qid = data[6 + 3 * c], data[7 + 3 * c], data[8 + 3 * c]
                comps.append({"cid": cid, "h": samp >> 4, "v": samp & 0x0F, "qid": qid})
            frame = (fh, fw)
            init_frame()
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("decode_jpeg: unsupported frame type")
        elif m == 0xDD:
            dri = int.from_bytes(data[:2], "big")
        elif m == 0xDA:  # SOS — decode this scan's entropy data inline
            if frame is None:
                raise ValueError("decode_jpeg: SOS before SOF")
            ns = data[0]
            tabs: dict[int, tuple[int, int]] = {}
            order: list[int] = []
            for c in range(ns):
                cid, tt = data[1 + 2 * c], data[2 + 2 * c]
                tabs[cid] = (tt >> 4, tt & 0x0F)
                order.append(cid)
            ss, se = data[1 + 2 * ns], data[2 + 2 * ns]
            ahl = data[3 + 2 * ns]
            ah, al = ahl >> 4, ahl & 0x0F
            if not progressive and (ss, se, ah, al) != (0, 63, 0, 0):
                raise ValueError("decode_jpeg: banded scan in sequential frame")
            if progressive:
                # T.81 §G.1: a DC scan is exactly (0, 0); AC bands live
                # in 1..63; refinement steps one bit at a time. Anything
                # else would mis-decode silently — refuse instead.
                if not ((ss == 0 and se == 0) or (1 <= ss <= se <= 63)):
                    raise ValueError("decode_jpeg: bad spectral selection")
                if ah not in (0, al + 1) or al > 13:
                    raise ValueError("decode_jpeg: bad successive approximation")
            by_cid = {c["cid"]: c for c in comps}
            scan_comps = []
            for cid in order:
                c = by_cid.get(cid)
                if c is None:
                    raise ValueError("decode_jpeg: scan names unknown component")
                c["dct"] = hts.get((0, tabs[cid][0]))
                c["act"] = hts.get((1, tabs[cid][1]))
                # DC-only scans need no AC table and vice versa
                if (ss == 0 and ah == 0 and c["dct"] is None) or (
                    (not progressive or ss > 0) and c["act"] is None
                ):
                    raise ValueError("decode_jpeg: missing DHT tables")
                scan_comps.append(c)
            if progressive and ss > 0 and len(scan_comps) != 1:
                raise ValueError("decode_jpeg: progressive AC scans are per-component")
            if not progressive and len(scan_comps) != len(comps):
                raise ValueError(
                    "decode_jpeg: only one interleaved scan over all components"
                )
            i = decode_scan(scan_comps, tabs, i + 2 + ln, ss, se, ah, al)
            continue
        i += 2 + ln
    if frame is None:
        raise ValueError("decode_jpeg: missing SOF/SOS")
    fh, fw = frame
    if fh < 1 or fw < 1:
        raise ValueError("decode_jpeg: dims out of range")
    for c in comps:
        c["qtab"] = qts.get(c["qid"])
        if c["qtab"] is None:
            raise ValueError("decode_jpeg: missing DQT table")
        if "coef" not in c:
            raise ValueError("decode_jpeg: no scan decoded")

    def plane_of(c: dict) -> np.ndarray:
        # dequantize (zigzag domain), de-zigzag, one IDCT matmul for the
        # component's whole block grid, then replication-upsample to the
        # frame grid and crop
        coeffs = c["coef"] * c["qtab"][None, :]
        blocks = np.zeros((coeffs.shape[0], 8, 8), dtype=np.float64)
        for z, (r, cc) in enumerate(_ZIGZAG):
            blocks[:, r, cc] = coeffs[:, z]
        px = np.einsum("ur,nuv,vc->nrc", _DCT_A, blocks, _DCT_A) + 128.0
        px = np.clip(np.rint(px), 0, 255)
        plane = (
            px.reshape(c["bh"], c["bw"], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(c["bh"] * 8, c["bw"] * 8)
        )
        ry, rx = max_v // c["v"], max_h // c["h"]
        if ry > 1 or rx > 1:
            plane = plane.repeat(ry, axis=0).repeat(rx, axis=1)
        return plane[:fh, :fw]

    if len(comps) == 1:
        return plane_of(comps[0]).astype(np.uint8)
    y, cb, cr = (plane_of(c) for c in comps)
    # JFIF full-range BT.601 inverse transform
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    bl = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, bl], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def try_decode_jpeg(b: bytes) -> np.ndarray | None:
    """decode_jpeg with the row-local degradation contract."""
    try:
        return decode_jpeg(b)
    except (_DECODE_ERRORS + (IndexError,)):
        return None


def try_decode_image(b: bytes) -> np.ndarray | None:
    """Container dispatch for the pixel-decode operators: PNG first (the
    dominant fixture share), then baseline JPEG (grayscale or color);
    None when neither decoder can handle the bytes (12-bit or
    arithmetic-coded JPEG, odd bit depth, truncated payloads) — the
    callers' degrade-to-NULL contract."""
    if b[:8] == PNG_SIG:
        return try_decode_png(b)
    if b[:2] == b"\xff\xd8":
        return try_decode_jpeg(b)
    return None


def _payload_bytes(payloads: pd.Series) -> list[bytes]:
    """Per-row payload bytes with NULL degraded to b'' — a NULL payload
    row must parse to 'unknown everything', not TypeError the task."""
    return [b"" if p is None else bytes(p) for p in payloads]


def sniff_wav_duration_ms(b: bytes) -> int | None:
    """WAV duration from container headers (no audio decode): RIFF/WAVE
    signature check, then a chunk walk reading `fmt `.byte_rate and the
    `data` chunk size — duration_ms = data_size * 1000 // byte_rate."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i, byte_rate, data_size = 12, None, None
    while i + 8 <= len(b):
        tag = b[i : i + 4]
        ln = int.from_bytes(b[i + 4 : i + 8], "little")
        if tag == b"fmt " and ln >= 16 and i + 20 <= len(b):
            byte_rate = int.from_bytes(b[i + 16 : i + 20], "little")
        elif tag == b"data":
            data_size = ln
        i += 8 + ln + (ln & 1)  # chunks are word-aligned
    if not byte_rate or data_size is None:
        return None
    return data_size * 1000 // byte_rate


def wav_pcm_samples(b: bytes) -> tuple[int, np.ndarray, int, int] | None:
    """REAL audio decode one tier past the duration sniff: return
    (byte_rate, levels, bias, bits) where levels is the `data` chunk decoded
    as PCM sample values (int64) and bias is the silence level —
    8-bit PCM is UNSIGNED with bias 128 (the fixture format and the
    classic telephony archival shape), 16-bit PCM is SIGNED
    little-endian with bias 0 (the dominant real-world format).
    Multi-channel streams decode as the interleaved sample stream.
    None when the container/format can't be decoded — same chunk walk
    as sniff_wav_duration_ms, plus a `fmt ` check that the stream
    really is PCM (tag 1). A data chunk whose declared size overruns
    the buffer is truncated to the real bytes (row-local degradation,
    not an abort); a trailing odd byte on a 16-bit stream is dropped."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i, byte_rate, bits, fmt_tag = 12, None, None, None
    data_off = data_len = None
    while i + 8 <= len(b):
        tag = b[i : i + 4]
        ln = int.from_bytes(b[i + 4 : i + 8], "little")
        if tag == b"fmt " and ln >= 16 and i + 24 <= len(b):
            fmt_tag = int.from_bytes(b[i + 8 : i + 10], "little")
            byte_rate = int.from_bytes(b[i + 16 : i + 20], "little")
            bits = int.from_bytes(b[i + 22 : i + 24], "little")
        elif tag == b"data":
            data_off, data_len = i + 8, ln
        i += 8 + ln + (ln & 1)
    if fmt_tag != 1 or bits not in (8, 16) or not byte_rate or data_off is None:
        return None
    raw = b[data_off : data_off + data_len]
    if bits == 8:
        return byte_rate, np.frombuffer(raw, dtype=np.uint8).astype(np.int64), 128, 8
    raw = raw[: len(raw) - (len(raw) % 2)]
    return byte_rate, np.frombuffer(raw, dtype="<i2").astype(np.int64), 0, 16


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        # nullable: a payload wav_pcm_samples can't decode (non-PCM,
        # not 8/16-bit, corrupt, empty data chunk) emits ONE row with NULL
        # features — the doc stays visible downstream (same degradation
        # rule as images)
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("mean_level", T.DoubleType(), True),
        T.StructField("rms_amplitude", T.DoubleType(), True),
        T.StructField("peak_amplitude", T.LongType(), True),
    ]
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio feature extraction over mapInPandas (the audio twin of
    resize_images): decode the WAV data chunk as 8-bit unsigned or 16-bit
    signed PCM (wav_pcm_samples) and compute the features a speech-data
    curation pass gates on — sample count, duration, DC level (mean of
    raw sample levels), RMS amplitude around the format's bias (128 for
    8-bit, 0 for 16-bit), and peak absolute amplitude. All sums are exact
    int64 (order-free by construction); the two emitted doubles are EXACT —
    one correctly-rounded division (and sqrt) of exact integers, so the
    oracle (mm_audio_features: a generate_series ramp rebuilt with the
    identical SUM/divide/sqrt expression) must bit-match with no
    round-4 quantization at all.

    Scale shape: filter-before-decode (only audio rows ship payload
    bytes into Arrow), one mapInPandas pass, no exchange — the same
    embarrassingly-parallel profile as the pixel decoders."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = _payload_bytes(pdf["payload"])
            ns_l, dur_l, mean_l, rms_l, peak_l = [], [], [], [], []
            for b in blobs:
                got = wav_pcm_samples(b)
                if got is None or got[1].size == 0:
                    ns_l.append(None); dur_l.append(None); mean_l.append(None)
                    rms_l.append(None); peak_l.append(None)
                    continue
                byte_rate, s, bias, bits = got
                n = int(s.size)
                amp = s - bias
                ns_l.append(n)
                dur_l.append(n * (bits // 8) * 1000 // byte_rate)
                mean_l.append(float(int(s.sum()) / n))
                rms_l.append(float(np.sqrt(int((amp * amp).sum()) / n)))
                peak_l.append(int(np.abs(amp).max()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_samples": pd.array(ns_l, dtype="Int64"),
                    "duration_ms": pd.array(dur_l, dtype="Int64"),
                    "mean_level": pd.array(mean_l, dtype="Float64"),
                    "rms_amplitude": pd.array(rms_l, dtype="Float64"),
                    "peak_amplitude": pd.array(peak_l, dtype="Int64"),
                }
            )

    return media.filter(F.col("media_type") == "audio").mapInPandas(
        run, schema=AUDIO_FEATURES_SCHEMA
    )


def sniff_mp4_duration_ms(b: bytes) -> int | None:
    """MP4 duration from container headers (no video decode): top-level
    ISO-BMFF box walk to `moov`, inner walk to `mvhd` (version 0 or 1),
    duration_ms = duration * 1000 // timescale."""
    def walk(lo: int, hi: int):
        i = lo
        while i + 8 <= hi:
            ln = int.from_bytes(b[i : i + 4], "big")
            tag = b[i + 4 : i + 8]
            if ln < 8 or i + ln > hi:
                return
            yield tag, i + 8, i + ln
            i += ln

    for tag, lo, hi in walk(0, len(b)):
        if tag != b"moov":
            continue
        for t2, l2, h2 in walk(lo, hi):
            # length guards: a truncated mvhd (body shorter than the
            # version's fixed layout) degrades to None like every other
            # corrupt-container shape — never an IndexError / short-slice
            # misread that would fail the task on one bad row
            if t2 != b"mvhd" or h2 - l2 < 20:
                continue
            ver = b[l2]
            if ver == 0:
                ts = int.from_bytes(b[l2 + 12 : l2 + 16], "big")
                dur = int.from_bytes(b[l2 + 16 : l2 + 20], "big")
            else:
                if h2 - l2 < 32:
                    continue
                ts = int.from_bytes(b[l2 + 20 : l2 + 24], "big")
                dur = int.from_bytes(b[l2 + 24 : l2 + 32], "big")
            return dur * 1000 // ts if ts else None
    return None


def mp4_mdat_records(b: bytes, record_bytes: int = FRAME_RECORD_BYTES) -> list[bytes]:
    """Demux the mdat payload into fixed-size frame records (the fixture's
    sample table in miniature — real byte extraction at computed offsets,
    the same walk a production demuxer does over stbl sample offsets)."""
    i = 0
    while i + 8 <= len(b):
        ln = int.from_bytes(b[i : i + 4], "big")
        tag = b[i + 4 : i + 8]
        if tag == b"mdat" and ln >= 8:
            payload = b[i + 8 : i + ln]
            return [
                payload[j : j + record_bytes]
                for j in range(0, len(payload) - record_bytes + 1, record_bytes)
            ]
        if ln < 8:
            break
        i += ln
    return []


MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("mean_pixel", T.DoubleType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


@F.pandas_udf(T.BinaryType())
def _media_payload(doc_id: pd.Series, media_type: pd.Series) -> pd.Series:
    """Fixture payload builder: every media type gets a REAL container —
    image: PNG with planted gradient (IMG_W/IMG_H/IMG_FILL closed forms),
    audio: RIFF/WAVE with planted data size (WAV_DATA_BYTES closed form),
    video: ISO-BMFF with planted mvhd duration (MP4_DUR_UNITS closed form)
    and demuxable mdat frame records. Takes only (doc_id, media_type) —
    shipping the corpus text column through the Arrow pipe for a payload
    that never reads it would be pure transfer cost."""
    out = []
    for d, m in zip(doc_id, media_type):
        d = int(d)
        if m == "image":
            out.append(png_bytes(64 + d % 192, 64 + (d * 7) % 192, d % 251))
        elif m == "audio":
            out.append(wav_bytes(1000 + (d * 13) % 60000))
        else:
            out.append(mp4_bytes(d, 600 + (d * 17) % 36000))
    return pd.Series(out)


def as_media_table(docs: DataFrame) -> DataFrame:
    """Model the documents table as a media table: media_type derived from
    doc_id; payloads are real PNG / WAV / MP4 container bytes."""
    mt = F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.col("doc_id") % 3 + 1).cast("int"))
    return docs.select(
        "doc_id",
        mt.alias("media_type"),
        _media_payload(F.col("doc_id"), mt).alias("payload"),
    )


@F.pandas_udf(T.BinaryType())
def _jpeg_payload(doc_id: pd.Series) -> pd.Series:
    """Fixture JPEG payloads: same planted geometry as the PNG share
    (IMG_W/IMG_H/IMG_FILL) but 8-row constant bands (see jpeg_bytes) so
    the baseline-JPEG decode path has its own closed-form ground truth."""
    return pd.Series(
        [
            jpeg_bytes(64 + int(d) % 192, 64 + (int(d) * 7) % 192, int(d) % 251)
            for d in doc_id
        ]
    )


def as_jpeg_media_table(docs: DataFrame) -> DataFrame:
    """Image-only media table with baseline-JPEG payloads — the fixture
    for the JPEG entropy-decode + IDCT path (catalog mm_decode_jpeg).
    Kept separate from as_media_table so the PNG-plane oracles' byte/
    pixel closed forms stay untouched."""
    return docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.lit("image").alias("media_type"),
        _jpeg_payload(F.col("doc_id")).alias("payload"),
    )


def extract_media_metadata(
    media: DataFrame, with_features: bool = False, decode_pixels: bool = False
) -> DataFrame:
    """Metadata via mapInPandas (Arrow-batched), all REAL parses: image
    width/height from container headers (PNG IHDR vectorized over the
    batch, JPEG SOF fallback), audio duration from WAV fmt/data chunks,
    video duration from the MP4 mvhd box walk. decode_pixels=True
    additionally inflates image payloads and reports the true pixel mean
    (decode_png) — off by default so the metadata pass stays header-only
    at scale. Pixel decode dispatches by container (PNG inflate+filter
    inversion, JPEG Huffman+IDCT incl. color and progressive — both
    real, no codec lib); an undecodable payload (12-bit or
    arithmetic-coded JPEG, odd bit depth, truncated bytes) degrades to
    NULL pixel-derived fields row-locally — dims still come from the
    sniffer, and one bad payload never fails the job."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            blobs = _payload_bytes(pdf["payload"])
            is_img = (pdf["media_type"] == "image").to_numpy()
            w = np.full(n, -1, dtype=np.int64)
            h = np.full(n, -1, dtype=np.int64)
            if is_img.any():
                w[is_img], h[is_img] = sniff_image_dims(
                    [blobs[i] for i in np.nonzero(is_img)[0]]
                )
            dur = []
            for im, mt, b in zip(is_img, pdf["media_type"], blobs):
                if im:
                    dur.append(None)
                elif mt == "audio":
                    dur.append(sniff_wav_duration_ms(b))
                else:
                    dur.append(sniff_mp4_duration_ms(b))
            # decode each image at most ONCE per row even when both the
            # pixel mean and the band features consume it — the inflate +
            # filter inversion is the dominant cost of this path at scale
            px_cache: dict[int, np.ndarray] = {}
            if decode_pixels or with_features:
                for i in np.nonzero(is_img)[0]:
                    # undecodable image (12-bit/arithmetic JPEG — dims
                    # still real via the SOF sniffer above — odd bit
                    # depth, truncated or corrupt bytes): degrade THIS
                    # row's pixel-derived fields to NULL instead of
                    # failing the task; mirrors the sniffer's -1 -> NULL
                    px = try_decode_image(blobs[int(i)])
                    if px is not None:
                        px_cache[int(i)] = px
            mean_px = [None] * n
            if decode_pixels:
                for i, px in px_cache.items():
                    # exact double, no rounding: the pixel sum is integer-
                    # exact in float64 and the single division is correctly
                    # rounded, so this bit-matches the oracle's AVG over the
                    # planted per-row values (sum*w/(h*w) == sum/h exactly)
                    mean_px[i] = float(px.mean())
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "media_type": pdf["media_type"],
                    "n_bytes": pd.array([len(b) for b in blobs], dtype="int64"),
                    "width": pd.array([int(x) if x >= 0 else None for x in w], dtype="Int32"),
                    "height": pd.array([int(x) if x >= 0 else None for x in h], dtype="Int32"),
                    "duration_ms": pd.array(dur, dtype="Int64"),
                    # nullable Float64 (not float64): None must reach Spark
                    # as NULL, not NaN, for non-image rows
                    "mean_pixel": pd.array(mean_px, dtype="Float64"),
                }
            )
            if with_features:
                # mean/variance per 8 horizontal bands of the REAL pixels —
                # a stand-in vision tower whose inputs are decoded bytes
                feats = []
                for i in range(n):
                    if is_img[i] and i in px_cache:
                        px = px_cache[i].astype(np.float32)
                        bands = np.array_split(px, 8, axis=0)
                        feats.append(np.array([b.mean() / 255.0 for b in bands], dtype="float32"))
                    else:
                        feats.append(None)
                out["feature"] = feats
            else:
                out["feature"] = None
            yield out

    return media.mapInPandas(run, schema=MEDIA_META_SCHEMA)


def media_meta_sql_equivalent(docs: DataFrame) -> DataFrame:
    """The SQL-expressible projection of the metadata extraction — the
    planted ground truth the parsing path must reproduce: image dims are
    the IMG_W/IMG_H closed forms, n_bytes the per-container length
    formulas (PNG stored-block 68+(w+1)*h, WAV 44+data+pad where pad is
    the RIFF word-alignment byte for odd data, MP4 144+16*frames),
    durations the WAV/MP4 plants."""
    mt = F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.col("doc_id") % 3 + 1).cast("int"))
    w = F.expr(IMG_W).cast("int")
    h = F.expr(IMG_H).cast("int")
    wav_data = F.expr(WAV_DATA_BYTES).cast("long")
    mp4_ms = (F.expr(MP4_DUR_UNITS).cast("long") * 1000 / MP4_TIMESCALE).cast("long")
    n_frames = (mp4_ms / FRAME_CADENCE_MS).cast("long") + 1
    return docs.select(
        "doc_id",
        mt.alias("media_type"),
        F.when(mt == "image", (F.lit(68) + (w + 1).cast("long") * h).cast("long"))
        .when(mt == "audio", F.lit(44) + wav_data + wav_data % 2)
        .otherwise(F.lit(144) + F.lit(FRAME_RECORD_BYTES) * n_frames)
        .alias("n_bytes"),
        F.when(mt == "image", w).alias("width"),
        F.when(mt == "image", h).alias("height"),
        F.when(mt == "audio", wav_data)
        .when(mt == "video", mp4_ms)
        .alias("duration_ms"),
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        # nullable: a payload neither decoder handles (12-bit or
        # arithmetic-coded JPEG, odd bit depth, truncated bytes)
        # degrades that ROW to NULL outputs — never fails the task/job
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("out_width", T.IntegerType(), True),
        T.StructField("out_height", T.IntegerType(), True),
        T.StructField("out_bytes", T.LongType(), True),
        T.StructField("thumb_mean", T.DoubleType(), True),
        T.StructField("thumbnail", T.BinaryType(), True),
    ]
)


def resize_images(media: DataFrame, target_w: int = 64) -> DataFrame:
    """REAL image resize (driver brief): decode the PNG pixels
    (decode_png: inflate + inverse scanline filters), nearest-neighbor
    resample to scale-to-width preserving aspect (out_h = h*target_w//w,
    source index floor(i*src/out)), emit the resampled pixels replicated
    to 3 channels as the thumbnail payload plus their exact mean
    (thumb_mean — the decode-path value a SQL oracle predicts from the
    planted gradient). mapInPandas batch shape, filter-before-decode
    (only image rows ever inflate), and the typed output schema are the
    engine surface. Decode dispatches by container (PNG or JPEG incl.
    color and progressive); a payload neither decoder handles (12-bit
    or arithmetic-coded JPEG — whose DIMS the SOF walk still sniffs —
    odd bit depth, truncated bytes) degrades that row to NULL resize
    outputs, mirroring
    the sniffer's own -1 -> NULL rule: a single undecodable image in a
    billion-row media table must cost one NULL row, not the job."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = _payload_bytes(pdf["payload"])
            ws, hs = sniff_image_dims(blobs)
            w_l, h_l, ow_l, oh_l, ob_l, tm_l, th_l = [], [], [], [], [], [], []
            for b, sw, sh in zip(blobs, ws, hs):
                px = try_decode_image(b)
                if px is None:
                    # sniffed dims may still be real (e.g. progressive
                    # JPEG via the SOF walk) when neither decoder helps
                    sw, sh = int(sw), int(sh)
                    w_l.append(sw if sw >= 0 else None)
                    h_l.append(sh if sh >= 0 else None)
                    ow_l.append(None); oh_l.append(None); ob_l.append(None)
                    tm_l.append(None); th_l.append(None)
                    continue
                # dims come from the DECODED matrix, not the sniffer: for
                # a non-spec PNG (e.g. IHDR not first) the decoder can
                # succeed where the header sniff fails, and the resample
                # must follow the pixels actually decoded
                h, w = (int(d) for d in px.shape[:2])
                ow = min(target_w, w)
                oh = max(1, h * ow // w)
                iy = (np.arange(oh, dtype=np.int64) * h) // oh
                ix = (np.arange(ow, dtype=np.int64) * w) // ow
                out = px[iy][:, ix]
                # grayscale decode replicates to 3 channels; a color
                # (h, w, 3) decode (baseline color JPEG) is already RGB
                thumb = out if out.ndim == 3 else np.repeat(out[:, :, None], 3, axis=2)
                w_l.append(w); h_l.append(h); ow_l.append(ow); oh_l.append(oh)
                ob_l.append(int(thumb.size))
                tm_l.append(float(out.mean()))  # exact double (see mean_pixel note)
                th_l.append(thumb.tobytes())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": pd.array(w_l, dtype="Int32"),
                    "height": pd.array(h_l, dtype="Int32"),
                    "out_width": pd.array(ow_l, dtype="Int32"),
                    "out_height": pd.array(oh_l, dtype="Int32"),
                    "out_bytes": pd.array(ob_l, dtype="Int64"),
                    "thumb_mean": pd.array(tm_l, dtype="Float64"),
                    "thumbnail": th_l,
                }
            )

    return media.filter(F.col("media_type") == "image").mapInPandas(run, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        # nullable: a video whose moov/mvhd cannot be parsed emits ONE
        # row with NULL frame fields — the doc must stay visible to
        # downstream joins/reconciliation, not silently vanish (the same
        # degradation rule as the image operators' NULL rows)
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def sample_video_frames(media: DataFrame, every_ms: int = FRAME_CADENCE_MS) -> DataFrame:
    """REAL frame sampling (driver brief): one row in -> N frame rows out
    (floor(duration/every_ms)+1 frames at 0, every_ms, ...). Duration is
    the parsed mvhd value; frame BYTES are demuxed out of the container's
    mdat box — each sampled timestamp maps to the nearest planted
    FRAME_CADENCE_MS record by computed offset (mp4_mdat_records), the
    offset walk a production stbl demux does. The 1->N fan-out INSIDE
    mapInPandas (output batches larger than input batches) is the engine
    concern. A video whose duration cannot be parsed emits one row with
    NULL frame_idx/ts_ms/frame (see FRAME_SCHEMA note)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], _payload_bytes(pdf["payload"])):
                dur = sniff_mp4_duration_ms(p)
                if dur is None:
                    # unparseable moov/mvhd: ONE NULL-frame row, so the doc
                    # stays countable downstream instead of vanishing
                    ids.append(int(doc_id))
                    idxs.append(None)
                    tss.append(None)
                    frames.append(None)
                    continue
                records = mp4_mdat_records(p)
                n = dur // every_ms + 1
                for i in range(n):
                    ts = i * every_ms
                    rec = min(ts // FRAME_CADENCE_MS, len(records) - 1)
                    ids.append(int(doc_id))
                    idxs.append(i)
                    tss.append(ts)
                    frames.append(records[rec] if records else b"")
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="Int32"),
                    "ts_ms": pd.array(tss, dtype="Int64"),
                    "frame": frames,
                }
            )

    return media.filter(F.col("media_type") == "video").mapInPandas(run, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# image-caption pair mining (interleaved spans -> (media, caption) rows)

CAPTION_MAX_DIST = 2  # span steps; shared verbatim with the SQL oracle


def caption_pairs(
    spans_table: DataFrame, max_dist: int = CAPTION_MAX_DIST
) -> DataFrame:
    """Media-caption PAIR MINING over the interleaved spans table
    (doc_id, spans: array<struct<kind,text,media_ref,offset>>) — the step
    that turns an extraction corpus into (image, caption) training pairs
    (the alt-text/figure-caption harvest of image-text pretraining sets,
    done on the document's own span sequence).

    Rule, per MEDIA span (media_ref != ''): its caption is the NEAREST
    span with kind='caption' in READING ORDER — distance measured in
    offset steps on the span's source-order field, NOT array position
    (20% of fixture docs store spans shuffled; the kernel's reading-order
    contract is offset, extract.py sorts the same way). Ties break toward
    the FOLLOWING caption (HTML <figcaption> follows its <img>; PDF
    figure captions sit under the figure). A caption farther than
    max_dist spans leaves the media unpaired (caption_* NULL) — prose
    three blocks away is not a label. A caption between two media spans
    may serve both; each media row pairs independently, and collapsing
    shared captions is the consumer's policy choice.

    Scale shape: one explode, then two frame-bounded window passes
    partitioned by doc_id (parallel across docs — never a global sort)
    computing the last/first caption struct around each span; nearest /
    tie / distance-gate arithmetic is row-local and media rows stream out
    as a filter. ONE hash exchange on doc_id total; non-caption span text
    is projected away before the exchange, so only (doc_id, pos, idx,
    media_ref, caption struct) rows cross it. Offset ties are broken by
    array position (idx) so the pairing is deterministic for any input
    (see the window comment below)."""
    ex = (
        spans_table.select("doc_id", F.posexplode("spans").alias("idx", "s"))
        .select(
            "doc_id",
            "idx",
            F.col("s.kind").alias("kind"),
            # only caption text survives the projection; everything else
            # crosses the exchange as NULL
            F.when(F.col("s.kind") == "caption", F.col("s.text")).alias("cap_text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("pos"),
        )
    )
    cap = F.when(
        F.col("kind") == "caption",
        F.struct(F.col("pos").alias("p"), F.col("cap_text").alias("t")),
    )
    # order by (pos, idx): offset is the reading-order key; the ARRAY
    # POSITION breaks offset ties deterministically — with pos alone, a
    # caption sharing an offset with a media span would land inside or
    # outside the preceding/following frame depending on physical shuffle
    # order, making the output nondeterministic across runs
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos", "idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("doc_id")
        .orderBy("pos", "idx")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    enriched = ex.select(
        "doc_id",
        "media_ref",
        "pos",
        F.last(cap, ignorenulls=True).over(w_prev).alias("pv"),
        F.first(cap, ignorenulls=True).over(w_next).alias("nx"),
    ).filter(F.col("media_ref") != "")
    d_prev = F.col("pos") - F.col("pv.p")
    d_next = F.col("nx.p") - F.col("pos")
    take_next = F.col("nx").isNotNull() & (F.col("pv").isNull() | (d_next <= d_prev))
    chosen = F.when(take_next, F.col("nx")).otherwise(F.col("pv"))
    dist = F.when(take_next, d_next).otherwise(d_prev)
    ok = chosen.isNotNull() & (dist <= max_dist)
    return enriched.select(
        "doc_id",
        F.col("pos").cast("int").alias("media_pos"),
        "media_ref",
        F.when(ok, chosen["t"]).alias("caption_text"),
        F.when(ok, chosen["p"]).cast("int").alias("caption_pos"),
        F.when(
            ok, F.when(take_next, F.lit("after")).otherwise(F.lit("before"))
        ).alias("rel"),
        F.when(ok, dist).cast("int").alias("dist"),
    )
