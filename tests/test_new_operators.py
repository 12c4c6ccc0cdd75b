"""Unit checks for the round-1 widening: T2/T4 window semantics, set ops,
X15/X16 scalar parity quirks, A4 guards, S1-S3 ingest plumbing, and the
TPC-H-shaped additions (pinned-tie top-k)."""

import os

from pyspark.sql import functions as F

from docling_nlp_api_spark.operators import analytics as A
from docling_nlp_api_spark.operators import nlp as N
from docling_nlp_api_spark.operators import relational as R
from docling_nlp_api_spark.operators import scalars as X


def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_sliding_window_overlap(spark, sf_dir):
    """Every event inside the day lands in exactly 4 overlapping 1h/15min
    windows, so sum(cnt) ~= 4 * events-of-day (edges excluded)."""
    out = A.sliding_window_rate(events(spark, sf_dir)).agg(F.sum("cnt")).collect()[0][0]
    day_events = (
        events(spark, sf_dir)
        .filter(F.date_format("ts", "yyyy-MM-dd") == "2024-01-15")
        .count()
    )
    # >= because windows starting 23:xx reach into the 16th; <= 4x + edge
    assert 3 * day_events <= out <= 4 * day_events + 3 * day_events // 10


def test_late_data_watermark_totals(spark, sf_dir):
    e = events(spark, sf_dir)
    out = A.late_data_watermark(e)
    tot = out.agg(F.sum(F.col("kept") + F.col("dropped"))).collect()[0][0]
    assert tot == e.count()
    # watermark = max ts per user minus 3 days over a 30-day stream: most rows drop
    kept = out.agg(F.sum("kept")).collect()[0][0]
    assert 0 < kept < tot


def test_set_ops_algebra(spark, sf_dir):
    rows = {r["op"]: r["n"] for r in A.set_ops_weeks(events(spark, sf_dir)).collect()}
    assert set(rows) == {"union", "intersect", "except"}
    # |w1 ∪ w2| = |w1 \ w2| + |w1 ∩ w2| + |w2 \ w1| >= each part
    assert rows["union"] >= rows["intersect"] + rows["except"]


def test_aes_roundtrip_exact(spark, sf_dir):
    out = X.aes_roundtrip(docs(spark, sf_dir).limit(50))
    rows = out.collect()
    assert all(r["roundtrip_ok"] for r in rows)
    assert all(r["ct_len"] % 16 == 0 for r in rows)


def test_page_concat_trailing_space(spark):
    df = spark.createDataFrame([(1, "  a   b c ")], ["doc_id", "text"])
    row = N.page_concat(df).collect()[0]
    # reference semantics: items joined with single spaces + trailing space
    assert row["page_text_len"] == len("a b c ")


def test_doc_range_rollup_guards(spark, sf_dir):
    out = N.doc_range_rollup(docs(spark, sf_dir))
    for r in out.collect():
        assert 0.0 <= r["success_rate"] <= 100.0
        assert r["total_words"] > 0


def test_topk_ties_pinned(spark, sf_dir):
    a = R.shipping_priority(spark, sf_dir).collect()
    b = R.shipping_priority(spark, sf_dir).collect()
    assert a == b and len(a) == 10


def test_binaryfile_ingest(spark, sf_dir):
    from docling_nlp_api_spark.sources import binaryfile_ingest

    out = binaryfile_ingest(spark, f"{sf_dir}/*.parquet").collect()
    n_files = len([f for f in os.listdir(sf_dir) if f.endswith(".parquet")])
    assert len(out) == n_files
    # .parquet is not on the reference allow-list -> quarantined, not dropped
    assert all(not r["accepted"] for r in out)
    assert all(r["stored_name"].startswith(r["content_md5"][:8] + "_") for r in out)


def test_connected_components_chain_and_clique(spark):
    """Dedup resolution CC: a 4-node chain (worst case for min-label
    propagation — labels must walk the diameter), a 3-clique, and an
    isolated pair; canonical = min id per component, singletons absent."""
    from docling_nlp_api_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(7, 5), (5, 9), (9, 3),      # chain: component min 3
         (20, 21), (21, 22), (20, 22),  # clique: min 20
         (41, 40)],                     # pair: min 40
        ["doc_a", "doc_b"],
    )
    got = {r["doc_id"]: (r["canonical_id"], r["is_canonical"])
           for r in connected_components(pairs).collect()}
    assert got == {
        3: (3, True), 5: (3, False), 7: (3, False), 9: (3, False),
        20: (20, True), 21: (20, False), 22: (20, False),
        40: (40, True), 41: (40, False),
    }


def test_connected_components_adversarial_chain(spark):
    """A 1,200-node chain — diameter far beyond the old one-hop
    propagation radius (r2 returned partially-converged labels silently
    past max_iter; ADVICE r2 medium). Pointer jumping must converge it in
    O(log d) ~ 11 rounds << max_iter=25 and label every node with the
    chain head; convergence is also asserted implicitly: non-convergence
    now raises."""
    from docling_nlp_api_spark.operators.dedup import connected_components

    n = 1200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    ).repartition(8)
    rows = connected_components(pairs).collect()
    assert len(rows) == n
    assert all(r["canonical_id"] == 0 for r in rows)
    assert sum(r["is_canonical"] for r in rows) == 1


def test_png_header_sniffing():
    """Image metadata is a real container-header parse: png_bytes emits a
    spec-valid PNG whose IHDR the vectorized sniffer reads back, and the
    stored-block length formula 68 + (w+1)*h holds exactly."""
    from docling_nlp_api_spark.operators.multimodal import png_bytes, sniff_image_dims

    dims = [(64, 255), (255, 64), (100, 137), (1, 1)]
    payloads = [png_bytes(w, h, 7) for w, h in dims]
    assert [len(p) for p in payloads] == [68 + (w + 1) * h for w, h in dims]
    w, h = sniff_image_dims(payloads + [b"not a png at all"])
    assert list(zip(w[:4], h[:4])) == dims
    assert (w[4], h[4]) == (-1, -1)
    # zlib must be able to inflate the stored stream back to scanlines
    import zlib

    p = payloads[2]
    idat = p[p.index(b"IDAT") + 4 :]
    assert len(zlib.decompress(idat[: len(p) - 20 - p.index(b"IDAT")])) == 101 * 137


def test_png_decode_all_filter_types():
    """decode_png inverts every scanline filter type. The encoder here is
    INDEPENDENT of the decoder: it applies the PNG spec's FORWARD filters
    (§6) per-pixel to random images, so a decode bug can't cancel out.
    Also pins the fixture plant: png_bytes(w,h,fill) decodes to the
    vertical gradient row r == (fill + r) % 256."""
    import struct
    import zlib

    import numpy as np

    from docling_nlp_api_spark.operators.multimodal import PNG_SIG, decode_png, png_bytes

    def encode(px: np.ndarray, ftype: int) -> bytes:
        h, w = px.shape
        p = px.astype(int)
        raw = bytearray()
        for r in range(h):
            raw.append(ftype)
            for x in range(w):
                a = p[r, x - 1] if x else 0            # left
                b = p[r - 1, x] if r else 0            # up
                c = p[r - 1, x - 1] if (r and x) else 0  # up-left
                if ftype == 0:
                    f = p[r, x]
                elif ftype == 1:
                    f = p[r, x] - a
                elif ftype == 2:
                    f = p[r, x] - b
                elif ftype == 3:
                    f = p[r, x] - (a + b) // 2
                else:  # Paeth
                    q = a + b - c
                    pa, pb, pc = abs(q - a), abs(q - b), abs(q - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    f = p[r, x] - pred
                raw.append(f % 256)
            # also vary filters per row on type 4 runs (mixed-filter file)
        def chunk(tag, data):
            return struct.pack(">I", len(data)) + tag + data + struct.pack(
                ">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(bytes(raw))) \
            + chunk(b"IEND", b"")

    rs = np.random.RandomState(7)
    for ftype in range(5):
        px = rs.randint(0, 256, size=(13, 17)).astype(np.uint8)
        assert (decode_png(encode(px, ftype)) == px).all(), f"filter {ftype}"
    # fixture plant: gradient recovered through the Sub/Up filter chain
    got = decode_png(png_bytes(20, 300 % 256, 123))
    exp = np.add.outer((123 + np.arange(300 % 256)) % 256, np.zeros(20, dtype=int)) % 256
    assert (got == exp).all()


def test_png_decode_color_types():
    """Round-5 color PNG scope: RGB / palette / gray+alpha / RGBA decode
    through bpp-aware inverse filtering. The forward-filter encoder here
    is independent of the decoder and works per BYTE with the left
    neighbour bpp bytes back (spec §6), exercising every filter type on
    every color type."""
    import struct
    import zlib

    import numpy as np

    from docling_nlp_api_spark.operators.multimodal import PNG_SIG, decode_png

    def encode(samples: np.ndarray, ctype: int, plte: bytes = b"") -> bytes:
        h, w, bpp = samples.shape
        p = samples.astype(int)
        raw = bytearray()
        flat = p.reshape(h, w * bpp)
        for r in range(h):
            ftype = r % 5  # cycle every filter type through the image
            raw.append(ftype)
            for x in range(w * bpp):
                a = flat[r, x - bpp] if x >= bpp else 0
                b_ = flat[r - 1, x] if r else 0
                c = flat[r - 1, x - bpp] if (r and x >= bpp) else 0
                v = flat[r, x]
                if ftype == 0:
                    f = v
                elif ftype == 1:
                    f = v - a
                elif ftype == 2:
                    f = v - b_
                elif ftype == 3:
                    f = v - (a + b_) // 2
                else:
                    q = a + b_ - c
                    pa, pb, pc = abs(q - a), abs(q - b_), abs(q - c)
                    pred = a if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c)
                    f = v - pred
                raw.append(f % 256)

        def chunk(tag, data):
            return struct.pack(">I", len(data)) + tag + data + struct.pack(
                ">I", zlib.crc32(tag + data) & 0xFFFFFFFF)

        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        body = chunk(b"IHDR", ihdr)
        if plte:
            body += chunk(b"PLTE", plte)
        return PNG_SIG + body + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")

    rs = np.random.RandomState(11)
    h, w = 11, 9

    rgb = rs.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
    assert (decode_png(encode(rgb, 2)) == rgb).all()

    rgba = rs.randint(0, 256, size=(h, w, 4)).astype(np.uint8)
    assert (decode_png(encode(rgba, 6)) == rgba[:, :, :3]).all()  # alpha dropped

    ga = rs.randint(0, 256, size=(h, w, 2)).astype(np.uint8)
    assert (decode_png(encode(ga, 4)) == ga[:, :, 0]).all()

    palette = rs.randint(0, 256, size=(16, 3)).astype(np.uint8)
    idx = rs.randint(0, 16, size=(h, w, 1)).astype(np.uint8)
    got = decode_png(encode(idx, 3, plte=palette.tobytes()))
    assert (got == palette[idx[:, :, 0]]).all()

    # palette index out of range / missing PLTE must refuse, not wrap
    import pytest as _pytest

    bad_idx = np.full((4, 4, 1), 200, dtype=np.uint8)
    with _pytest.raises(ValueError):
        decode_png(encode(bad_idx, 3, plte=palette.tobytes()))
    with _pytest.raises(ValueError):
        decode_png(encode(idx, 3))


def test_png_decode_16bit_high_byte_reduction():
    """16-bit PNGs unfilter at their true 2-byte pixel stride (Sub/Up
    left neighbour one whole pixel back) and reduce to the high byte —
    the standard 8-bit reduction the pixel operators consume."""
    import struct
    import zlib

    import numpy as np

    from docling_nlp_api_spark.operators.multimodal import PNG_SIG, decode_png

    def encode16(samples16, ctype):
        h, w, nch = samples16.shape
        arr = np.frombuffer(
            samples16.astype(">u2").tobytes(), dtype=np.uint8
        ).reshape(h, w * nch * 2).astype(int)
        bpp = nch * 2
        raw = bytearray()
        prev = np.zeros(w * nch * 2, dtype=int)
        for r in range(h):
            ft = 2 if r else 1  # Sub on row 0, Up after — bpp-aware paths
            raw.append(ft)
            row = arr[r]
            if ft == 1:
                out = []
                for x in range(len(row)):
                    a = row[x - bpp] if x >= bpp else 0
                    out.append((row[x] - a) % 256)
                raw += bytes(out)
            else:
                raw += bytes(((row - prev) % 256).astype(np.uint8))
            prev = row

        def chunk(tag, data):
            return struct.pack(">I", len(data)) + tag + data + struct.pack(
                ">I", zlib.crc32(tag + data) & 0xFFFFFFFF)

        ihdr = struct.pack(">IIBBBBB", w, h, 16, ctype, 0, 0, 0)
        return PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(bytes(raw))) \
            + chunk(b"IEND", b"")

    rs = np.random.RandomState(5)
    g16 = rs.randint(0, 65536, (11, 9, 1)).astype(np.uint16)
    assert (decode_png(encode16(g16, 0)) == (g16[:, :, 0] >> 8).astype(np.uint8)).all()
    rgb16 = rs.randint(0, 65536, (7, 12, 3)).astype(np.uint16)
    assert (decode_png(encode16(rgb16, 2)) == (rgb16 >> 8).astype(np.uint8)).all()


def test_png_decode_adam7_interlaced():
    """Adam7-interlaced PNGs decode exactly: seven independently
    filtered sub-images scattered by the spec lattice, degenerate
    shapes (some passes empty) included. The forward encoder is
    independent of the decoder and cycles every filter type."""
    import struct
    import zlib

    import numpy as np

    from docling_nlp_api_spark.operators.multimodal import _ADAM7, PNG_SIG, decode_png

    def encode_adam7(px, ctype):
        h, w, bpp = px.shape
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            ph, pw = sub.shape[:2]
            if ph == 0 or pw == 0:
                continue
            flat = sub.reshape(ph, pw * bpp).astype(int)
            for r in range(ph):
                ft = r % 5
                raw.append(ft)
                for x in range(pw * bpp):
                    a = flat[r, x - bpp] if x >= bpp else 0
                    b_ = flat[r - 1, x] if r else 0
                    c = flat[r - 1, x - bpp] if (r and x >= bpp) else 0
                    v = flat[r, x]
                    if ft == 0:
                        f = v
                    elif ft == 1:
                        f = v - a
                    elif ft == 2:
                        f = v - b_
                    elif ft == 3:
                        f = v - (a + b_) // 2
                    else:
                        q = a + b_ - c
                        pa, pb, pc = abs(q - a), abs(q - b_), abs(q - c)
                        pred = a if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c)
                        f = v - pred
                    raw.append(f % 256)

        def chunk(tag, data):
            return struct.pack(">I", len(data)) + tag + data + struct.pack(
                ">I", zlib.crc32(tag + data) & 0xFFFFFFFF)

        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 1)  # interlace = 1
        return PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(bytes(raw))) \
            + chunk(b"IEND", b"")

    rs = np.random.RandomState(3)
    for hh, ww in [(13, 17), (8, 8), (1, 1), (3, 20), (33, 2)]:
        g = rs.randint(0, 256, (hh, ww, 1)).astype(np.uint8)
        assert (decode_png(encode_adam7(g, 0)) == g[:, :, 0]).all()
        rgb = rs.randint(0, 256, (hh, ww, 3)).astype(np.uint8)
        assert (decode_png(encode_adam7(rgb, 2)) == rgb).all()


def test_audio_feature_extraction(spark):
    """extract_audio_features decodes the WAV data chunk as real 8-bit
    PCM: ramp ground truth for mean/RMS/peak, NULL degradation for
    non-PCM and truncated payloads, image/video rows filtered out before
    any byte ships into Arrow."""
    import struct

    import numpy as np
    import pandas as pd

    from docling_nlp_api_spark.operators.multimodal import (
        extract_audio_features,
        wav_bytes,
        wav_pcm_samples,
    )

    n = 5000
    good = wav_bytes(n)
    br, samples, bias, bits = wav_pcm_samples(good)
    assert (br, bias, bits) == (1000, 128, 8) and samples.size == n
    assert (samples == (np.arange(n) % 256)).all()

    # non-PCM fmt tag must refuse (row-local None, not garbage)
    bad = bytearray(good)
    struct.pack_into("<H", bad, 20, 3)  # fmt tag -> IEEE float
    assert wav_pcm_samples(bytes(bad)) is None
    # declared data size overrunning the buffer truncates to real bytes
    trunc = good[: 44 + 100]
    _, ts, _, _ = wav_pcm_samples(trunc)
    assert ts.size == 100

    # 16-bit signed PCM (the dominant real-world format): hand-built
    # canonical header, signed ramp payload incl. negatives
    vals16 = (np.arange(400, dtype=np.int64) * 97 % 65536) - 32768
    data16 = vals16.astype("<i2").tobytes()
    fmt16 = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    body16 = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt16)) + fmt16
              + b"data" + struct.pack("<I", len(data16)) + data16)
    wav16 = b"RIFF" + struct.pack("<I", len(body16)) + body16
    br16, s16, bias16, bits16 = wav_pcm_samples(wav16)
    assert (br16, bias16, bits16) == (32000, 0, 16)
    assert (s16 == vals16).all()

    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "media_type": ["audio", "audio", "image"],
                "payload": [good, bytes(bad), b"\x89PNGxxxx"],
            }
        )
    )
    media16 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [9], "media_type": ["audio"], "payload": [wav16]})
    )
    (r16,) = extract_audio_features(media16).collect()
    assert r16["n_samples"] == 400
    assert r16["duration_ms"] == 400 * 2 * 1000 // 32000  # 25 ms
    assert r16["mean_level"] == float(int(vals16.sum()) / 400)
    assert r16["peak_amplitude"] == int(np.abs(vals16).max())

    rows = {r["doc_id"]: r for r in extract_audio_features(media).collect()}
    assert set(rows) == {1, 2}  # image row filtered before decode
    r1 = rows[1]
    amp = samples.astype(np.int64) - 128
    assert r1["n_samples"] == n and r1["duration_ms"] == n
    assert r1["mean_level"] == float(int(samples.astype(np.int64).sum()) / n)
    assert r1["rms_amplitude"] == float(np.sqrt(int((amp * amp).sum()) / n))
    assert r1["peak_amplitude"] == 128
    assert rows[2]["n_samples"] is None and rows[2]["rms_amplitude"] is None


def test_wav_mp4_duration_and_demux():
    """Audio/video durations are REAL container-header parses: WAV fmt
    byte_rate + data size, MP4 moov/mvhd timescale + duration (v0 and
    v1); mdat demux returns the planted per-frame records."""
    import struct

    from docling_nlp_api_spark.operators.multimodal import (
        mp4_bytes,
        mp4_mdat_records,
        sniff_mp4_duration_ms,
        sniff_wav_duration_ms,
        wav_bytes,
    )

    for d in (1000, 31337, 60999):
        b = wav_bytes(d)
        assert len(b) == 44 + d + d % 2  # RIFF pad byte for odd data
        # RIFF size field covers the pad; data size field does not
        import struct as _struct
        assert _struct.unpack("<I", b[4:8])[0] == len(b) - 8
        assert sniff_wav_duration_ms(b) == d  # byte_rate 1000 -> ms == bytes
    assert sniff_wav_duration_ms(b"RIFFxxxxNOPE") is None
    assert sniff_wav_duration_ms(b"short") is None

    for doc_id, units in ((12, 600), (77, 12345), (5, 36599)):
        ms = units * 1000 // 600
        b = mp4_bytes(doc_id, units)
        assert len(b) == 144 + 16 * (ms // 5000 + 1)
        assert sniff_mp4_duration_ms(b) == ms
        recs = mp4_mdat_records(b)
        assert len(recs) == ms // 5000 + 1
        assert recs == [struct.pack("<QQ", doc_id, j) for j in range(len(recs))]
    # mvhd version 1 (64-bit times): hand-built box
    mvhd1 = (
        struct.pack(">I", 120) + b"mvhd" + b"\x01\x00\x00\x00"
        + b"\x00" * 16                      # ctime/mtime (u64 each)
        + struct.pack(">I", 1000)           # timescale
        + struct.pack(">Q", 90000)          # duration (u64)
        + b"\x00" * 80
    )
    moov = struct.pack(">I", 8 + len(mvhd1)) + b"moov" + mvhd1
    assert sniff_mp4_duration_ms(moov) == 90000
    assert sniff_mp4_duration_ms(b"\x00\x00\x00\x08free") is None
    # truncated mvhd bodies degrade to None, never IndexError: an 8-byte
    # mvhd header ending exactly at the buffer edge, and a version-1 box
    # whose body stops short of the 64-bit layout
    empty_mvhd = b"\x00\x00\x00\x10moov" + b"\x00\x00\x00\x08mvhd"
    assert sniff_mp4_duration_ms(empty_mvhd) is None
    short_v1 = struct.pack(">I", 28) + b"mvhd" + b"\x01\x00\x00\x00" + b"\x00" * 16
    assert sniff_mp4_duration_ms(
        struct.pack(">I", 8 + len(short_v1)) + b"moov" + short_v1
    ) is None


def test_frame_bytes_are_demuxed_mdat_records(spark, sf_dir):
    """sample_video_frames emits REAL bytes sliced from the container's
    mdat box: frame i of doc d is the planted record (d, i)."""
    import struct

    from docling_nlp_api_spark.operators.multimodal import as_media_table, sample_video_frames

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    media = as_media_table(docs)
    rows = sample_video_frames(media).collect()
    assert rows
    for r in rows:
        assert bytes(r["frame"]) == struct.pack("<QQ", r["doc_id"], r["frame_idx"])


def test_jpeg_sof_sniffing():
    """JPEG dims via the SOF marker walk (no fixture JPEGs; the sniffer is
    the engine surface for real-world payloads): SOI + APP0 + DQT + SOF0."""
    import struct

    from docling_nlp_api_spark.operators.multimodal import sniff_jpeg_dims

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    jpg = (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xDB, b"\x00" + bytes(64))
        + seg(0xC0, b"\x08" + struct.pack(">HH", 480, 640) + b"\x03" + bytes(9))
    )
    assert sniff_jpeg_dims(jpg) == (640, 480)
    assert sniff_jpeg_dims(b"\x89PNG\r\n\x1a\n") is None
    assert sniff_jpeg_dims(b"\xff\xd8\x00bad") is None


def test_resize_images_plumbing(spark, sf_dir):
    """Resize: only image rows decode; thumbnail byte length equals
    out_width*out_height*3; aspect preserved via integer scale; output
    deterministic across runs."""
    from docling_nlp_api_spark.operators.multimodal import as_media_table, resize_images

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    media = as_media_table(docs)
    out = resize_images(media, target_w=64).collect()
    n_images = media.filter("media_type = 'image'").count()
    assert len(out) == n_images > 0
    for r in out:
        assert r["out_width"] == min(64, r["width"])
        assert r["out_height"] == max(1, r["height"] * r["out_width"] // r["width"])
        assert len(r["thumbnail"]) == r["out_bytes"] == r["out_width"] * r["out_height"] * 3
    again = resize_images(media, target_w=64).collect()
    assert sorted(bytes(r["thumbnail"]) for r in again) == sorted(bytes(r["thumbnail"]) for r in out)


def test_sample_video_frames_fanout(spark, sf_dir):
    """Frame sampling: one video row fans out to floor(dur/every)+1 frame
    rows at 0, every, 2*every, ...; non-video rows contribute nothing."""
    from docling_nlp_api_spark.operators.multimodal import (
        as_media_table,
        extract_media_metadata,
        sample_video_frames,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    media = as_media_table(docs)
    frames = sample_video_frames(media, every_ms=5000)
    got = {}
    for r in frames.collect():
        got.setdefault(r["doc_id"], []).append((r["frame_idx"], r["ts_ms"], bytes(r["frame"])))
    durs = {
        r["doc_id"]: r["duration_ms"]
        for r in extract_media_metadata(media).collect()
        if r["media_type"] == "video"
    }
    assert set(got) == set(durs) and len(durs) > 0
    for doc_id, fr in got.items():
        fr.sort()
        assert len(fr) == durs[doc_id] // 5000 + 1
        assert [f[1] for f in fr] == [i * 5000 for i in range(len(fr))]
        assert len({f[2] for f in fr}) == len(fr)  # distinct frame payloads


def test_ivf_kmeans_recovers_planted_clusters(spark):
    """The learned quantizer must recover PLANTED structure: 4 well-
    separated centroids + small deterministic noise -> recall@1 == 1.0
    with nprobe=1. (The fixture embeddings table is near-random — within-
    label cosine 0.0016 vs 0.0003 across — so recall there is a property
    of the data, not the quantizer; the exact-oracle entry
    ann_ivf_kmeans_topk pins fit+assign+probe arithmetic on it instead.)"""
    import hashlib

    from docling_nlp_api_spark.operators.similarity import (
        ivf_kmeans_topk_df,
        kmeans_fit,
    )

    def noise(i, d):
        return (int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:4], 16) % 100) / 1000.0

    centers = [[0.0] * 64 for _ in range(4)]
    for c in range(4):
        for d in range(16):
            centers[c][16 * c + d] = 5.0
    rows = []
    for i in range(200):
        c = i % 4
        rows.append((i, c, [float(centers[c][d] + noise(i, d)) for d in range(64)]))
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")

    got = ivf_kmeans_topk_df(emb, k=1, n_clusters=4, iters=2, query_mod=50).collect()
    assert len(got) == 4
    # true nearest neighbor shares the planted cluster; with separated
    # centroids the probed cluster IS the planted one -> exact agreement
    for r in got:
        assert r["cand_id"] % 4 == r["query_id"] % 4

    assert kmeans_fit(emb, n_clusters=4, iters=2) == kmeans_fit(emb, n_clusters=4, iters=2)


def test_ivf_nprobe2_recovers_boundary_recall(spark):
    """nprobe>1 exists for BOUNDARY queries: a query assigned to cluster
    A whose true nearest neighbor lands in cluster B is unreachable at
    nprobe=1 (the shard equi-join never sees it) and exact at nprobe=2.

    Planted geometry: two orthogonal centroids cA, cB; corpus points are
    pure cA / pure cB except one boundary pair v(0.55)=0.55*cA+0.45*cB
    (the query, argmin-assigned to A) and v(0.45) (its true NN by cosine
    0.980 vs 0.774 to any pure-A point, argmin-assigned to B).
    recall@1 vs brute force: nprobe=1 -> 1/2 queries, nprobe=2 -> 2/2."""
    from docling_nlp_api_spark.operators.similarity import ivf_kmeans_topk_df

    def mix(alpha):
        v = [0.0] * 64
        for d in range(16):
            v[d] = alpha * 5.0
        for d in range(16, 32):
            v[d] = (1.0 - alpha) * 5.0
        return v

    rows = []
    for i in range(40):  # interleaved so kmeans init (vec_id 0, 1) seeds both clusters
        rows.append((i, i % 2, [float(x) for x in mix(1.0 if i % 2 == 0 else 0.0)]))
    rows.append((100, 0, [float(x) for x in mix(0.55)]))  # boundary query -> cluster A
    rows.append((101, 1, [float(x) for x in mix(0.45)]))  # its true NN   -> cluster B
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")

    def top1(nprobe):
        out = ivf_kmeans_topk_df(
            emb, k=1, n_clusters=2, iters=2, query_mod=100, nprobe=nprobe
        ).collect()
        return {r["query_id"]: r["cand_id"] for r in out}

    n1, n2 = top1(1), top1(2)
    truth = {0: 2, 100: 101}  # brute-force NN (cos ties for q0 pinned by cand_id)
    assert n1[0] == truth[0] and n2[0] == truth[0]  # in-cluster query: both exact
    assert n1[100] != 101  # nprobe=1 cannot see across the boundary
    assert n2 == truth  # nprobe=2 restores recall@1 = 1.0


def test_minhash_k32_family_and_banding_consistency(spark, sf_dir):
    """Production-scale minhash parameters flow end-to-end (VERDICT r2 #5):
    k=32 perms / 16 bands x 2 rows through the SAME code path as the
    6-perm oracle family. Pins: (a) the extended universal-hash family is
    deterministic, keeps the 6 pinned oracle constants as a prefix, and
    respects the no-overflow bounds; (b) k=32 signatures extend the k=6
    signatures (prefix property -> oracles stay valid); (c) every band
    bucket is exactly md5(mh_{rb}:...:mh_{rb+r-1}) recomputed from the
    signature row; (d) every planted near-dup pair collides in >= 1 band."""
    import hashlib

    from docling_nlp_api_spark.operators.dedup import (
        MH_A, MH_B, MH_P, PLANT_OFFSET, band_bucket, mh_constants,
        minhash_signatures, with_planted_dups,
    )

    a, b = mh_constants(32)
    assert a[:6] == MH_A and b[:6] == MH_B
    assert (a, b) == mh_constants(32)
    assert all(x % 2 == 1 and 0 < x < 2**31 for x in a[6:])
    assert all(0 <= x < MH_P for x in b)
    assert len(set(zip(a, b))) == 32

    docs = with_planted_dups(
        spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    )
    sig6 = {r["doc_id"]: r for r in minhash_signatures(docs, k=6).collect()}
    sig32 = {r["doc_id"]: r for r in minhash_signatures(docs, k=32).collect()}
    assert set(sig6) == set(sig32)
    for d, r6 in sig6.items():
        assert [r6[f"mh{i}"] for i in range(6)] == [sig32[d][f"mh{i}"] for i in range(6)]

    bands, rows = 16, 2
    sigdf = minhash_signatures(docs, k=bands * rows)
    bucketed = sigdf.select(
        "doc_id", *[band_bucket(bb, rows).alias(f"bucket{bb}") for bb in range(bands)]
    ).collect()
    sigs = {r["doc_id"]: r for r in sigdf.collect()}
    for r in bucketed[:10]:
        s = sigs[r["doc_id"]]
        for bb in range(bands):
            raw = ":".join(str(s[f"mh{rows*bb + rr}"]) for rr in range(rows))
            assert r[f"bucket{bb}"] == hashlib.md5(raw.encode()).hexdigest()

    by_doc = {r["doc_id"]: [r[f"bucket{bb}"] for bb in range(bands)] for r in bucketed}
    planted = [(d, d + PLANT_OFFSET) for d in by_doc if d + PLANT_OFFSET in by_doc]
    assert len(planted) >= 10
    for src, dup in planted:
        assert any(x == y for x, y in zip(by_doc[src], by_doc[dup])), (src, dup)


def test_sampling_split_stability_and_mix_consistency(spark, sf_dir):
    """Sampling plane invariants (round-3 training-mix ops): (a) the
    split assignment is a pure function of doc_id — identical under any
    repartitioning; (b) mixed_corpus and mix_summary agree exactly on
    what is kept; (c) unigram_logprob on a hand-computable corpus."""
    from docling_nlp_api_spark.operators.sampling import (
        mix_summary, mixed_corpus, unigram_logprob, with_split,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    s1 = {r["doc_id"]: r["split"] for r in with_split(docs.repartition(7)).collect()}
    s2 = {r["doc_id"]: r["split"] for r in with_split(docs.repartition(3)).collect()}
    assert s1 == s2 and len(s1) == 300
    assert set(s1.values()) == {"train", "val", "test"}

    kept = mixed_corpus(docs).groupBy("lang").count().collect()
    kept_by_lang = {r["lang"]: r["count"] for r in kept}
    summ = {r["lang"]: (r["n_kept"], r["n_total"]) for r in mix_summary(docs).collect()}
    for lang, (n_kept, n_total) in summ.items():
        assert kept_by_lang.get(lang, 0) == n_kept, lang
        assert 0 <= n_kept <= n_total

    tiny = spark.createDataFrame(
        [(1, "a a b"), (2, "b")], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["n_tokens"], r["mean_nll"]) for r in unigram_logprob(tiny).collect()}
    # freqs: a=2, b=2, total=4 -> every token p=0.5 -> mean_nll = ln 2
    assert got == {1: (3, 0.6931), 2: (1, 0.6931)}


def test_contamination_planted(spark):
    """Decontamination scores planted ground truth: a verbatim copy of a
    benchmark doc scores 1.0, a doc sharing a half-overlapping window
    scores in (0,1), unique text scores 0.0; benchmark docs themselves
    are excluded from the scored output. Plan check: the benchmark side
    must reach the corpus via a broadcast hash join (the per-shingle
    membership probe), not a shuffle join."""
    from docling_nlp_api_spark.operators.dedup import contamination_scores

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, bench_text),                                   # 0 % 97 == 0 -> benchmark
        (1, bench_text),                                   # verbatim copy -> 1.0
        (2, "alpha beta gamma delta nuovo xenon omicron pixel"),  # partial overlap
        (3, "one two three four five six seven eight"),    # disjoint -> 0.0
        (4, "xy zz"),                                      # < 3 tokens -> no shingles, absent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = contamination_scores(df)
    got = {r["doc_id"]: (r["n_shingles"], r["n_hit"], r["contamination"]) for r in out.collect()}
    assert set(got) == {1, 2, 3}
    assert got[1] == (6, 6, 1.0)
    assert got[2][0] == 6 and 0 < got[2][1] < 6 and 0 < got[2][2] < 1
    assert got[3] == (6, 0, 0.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_repetition_signals_planted(spark):
    """Gopher-style repetition signals on hand-computable docs: a
    fully-repeated doc maxes every signal, an all-distinct doc zeroes the
    dup fractions, a tokenless doc yields NULL guards."""
    from docling_nlp_api_spark.operators.textquality import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "aaa aaa aaa aaa"),          # 4x same token
            (2, "one two three four"),       # all distinct
            (3, "xy zz"),                    # no >=3-letter tokens
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_signals(df).collect()}
    assert got[1] == {
        "doc_id": 1, "n_tokens": 4, "top_word_count": 4, "top_word_frac": 1.0,
        "dup_2gram_frac": round((3 - 1) / 3, 4), "dup_3gram_frac": 0.5,
    }
    assert got[2] == {
        "doc_id": 2, "n_tokens": 4, "top_word_count": 1, "top_word_frac": 0.25,
        "dup_2gram_frac": 0.0, "dup_3gram_frac": 0.0,
    }
    assert got[3] == {
        "doc_id": 3, "n_tokens": 0, "top_word_count": None, "top_word_frac": None,
        "dup_2gram_frac": None, "dup_3gram_frac": None,
    }


def test_pii_planted(spark):
    """PII detection + redaction on hand-written rows: counts per type,
    combined flag, and the exact redacted strings."""
    from docling_nlp_api_spark.operators.pii import pii_signals, redact

    df = spark.createDataFrame(
        [
            (1, "reach me at bob.smith+x@corp.io or 192.168.1.1"),
            (2, "call +12345678901 today"),
            (3, "no pii here"),
        ],
        "doc_id long, text string",
    )
    sig = {r["doc_id"]: r.asDict() for r in pii_signals(df).collect()}
    assert sig[1] == {"doc_id": 1, "n_emails": 1, "n_ipv4": 1, "n_phones": 0, "has_pii": 1}
    assert sig[2] == {"doc_id": 2, "n_emails": 0, "n_ipv4": 0, "n_phones": 1, "has_pii": 1}
    assert sig[3] == {"doc_id": 3, "n_emails": 0, "n_ipv4": 0, "n_phones": 0, "has_pii": 0}

    red = {r["doc_id"]: r["text_redacted"] for r in redact(df).collect()}
    assert red[1] == "reach me at [EMAIL] or [IP]"
    assert red[2] == "call [PHONE] today"
    assert red[3] == "no pii here"


def test_segment_boilerplate_planted(spark):
    """CCNet-style segment dedup: a 10-token segment shared by three docs
    is boilerplate everywhere; unique tails survive into clean_hash; a doc
    that is ALL boilerplate gets a NULL clean_hash."""
    import hashlib

    from docling_nlp_api_spark.operators.dedup import segment_boilerplate

    shared = "alpha bravo charl delta echoo foxtr golfy hotel india julie"
    tail1 = "kilo lima mikee novem oscar"
    tail2 = "papa quebe romeo sierr tango"
    solo = "unifo victo whisk exray yanke zuluu alphaz bravoz charlz deltaz"
    df = spark.createDataFrame(
        [
            (1, f"{shared} {tail1}"),
            (2, f"{shared} {tail2}"),
            (3, solo),
            (4, shared),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in segment_boilerplate(df).collect()}
    h = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert got[1] == {
        "doc_id": 1, "n_segments": 2, "n_boilerplate": 1,
        "boilerplate_frac": 0.5, "clean_hash": h(tail1),
    }
    assert got[2]["n_boilerplate"] == 1 and got[2]["clean_hash"] == h(tail2)
    assert got[3] == {
        "doc_id": 3, "n_segments": 1, "n_boilerplate": 0,
        "boilerplate_frac": 0.0, "clean_hash": h(solo),
    }
    assert got[4] == {
        "doc_id": 4, "n_segments": 1, "n_boilerplate": 1,
        "boilerplate_frac": 1.0, "clean_hash": None,
    }


def test_temperature_weights_planted(spark):
    """alpha=0.5 temperature weights on a 4:1 split: exact sqrt arithmetic
    (4 en + 1 de -> qsum 3, weights 2/3 and 1/3)."""
    from docling_nlp_api_spark.operators.sampling import temperature_weights

    df = spark.createDataFrame(
        [(i, "en" if i < 4 else "de", "x") for i in range(5)],
        "doc_id long, lang string, text string",
    )
    got = {r["lang"]: r.asDict() for r in temperature_weights(df).collect()}
    assert got["en"] == {"lang": "en", "n_docs": 4, "p_share": 0.8, "temp_weight": round(2 / 3, 6)}
    assert got["de"] == {"lang": "de", "n_docs": 1, "p_share": 0.2, "temp_weight": round(1 / 3, 6)}


def test_length_percentile_trim_planted(spark):
    """Exact percentile trim on lengths 1..10 (one doc each) at
    (20, 80): keep iff cum_incl > 2 and cum_excl < 8 -> lengths 3..8."""
    from docling_nlp_api_spark.operators.sampling import length_percentile_trim

    df = spark.createDataFrame(
        [(i, "x" * i, i) for i in range(1, 11)],
        "doc_id long, text string, n_chars long",
    )
    kept = sorted(r["n_chars"] for r in length_percentile_trim(df, 20, 80).collect())
    assert kept == [3, 4, 5, 6, 7, 8]


def test_temperature_resample_planted(spark):
    """4 en + 1 de: n_min=1 -> en keeps at floor(10000*sqrt(1/4)) = 5000
    bps, de at 10000 bps (everything). Kept counts verified against the
    md5 bucket computed by hand."""
    import hashlib

    from docling_nlp_api_spark.operators.sampling import TEMP_SALT, temperature_resample

    df = spark.createDataFrame(
        [(i, "en" if i < 4 else "de", "x") for i in range(5)],
        "doc_id long, lang string, text string",
    )
    bkt = lambda i: int(hashlib.md5(f"{TEMP_SALT}{i}".encode()).hexdigest()[:4], 16) % 10000
    en_kept = sum(1 for i in range(4) if bkt(i) < 5000)
    got = {r["lang"]: r.asDict() for r in temperature_resample(df).collect()}
    assert got["en"] == {
        "lang": "en", "n_total": 4, "n_kept": en_kept, "keep_bps": 5000,
        "realized_rate": round(en_kept / 4, 4),
    }
    assert got["de"] == {
        "lang": "de", "n_total": 1, "n_kept": 1, "keep_bps": 10000, "realized_rate": 1.0,
    }


def test_pack_sequences_planted(spark):
    """Concat-and-chunk with one shard, max 5 tokens: docs of 3/4/2
    tokens start at offsets 0/3/7 -> sequences 0/0/1, offsets 0/3/2."""
    from docling_nlp_api_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g"), (3, "h i")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in pack_sequences(df, max_tokens=5, n_shards=1).collect()}
    assert got[1] == {"doc_id": 1, "shard": 0, "n_tokens": 3, "start_off": 0, "seq_idx": 0, "seq_off": 0}
    assert got[2] == {"doc_id": 2, "shard": 0, "n_tokens": 4, "start_off": 3, "seq_idx": 0, "seq_off": 3}
    assert got[3] == {"doc_id": 3, "shard": 0, "n_tokens": 2, "start_off": 7, "seq_idx": 1, "seq_off": 2}


def test_materialize_sequences_planted(spark):
    """Content half of the planted pack case (same 3 docs, one shard,
    max 5): sequence 0 = [a b c | d e], sequence 1 = [f g | h i] — doc 2
    straddles the boundary, fragments reassemble in start_off order, the
    tail is short, and a zero-token doc contributes nothing. Consistency
    with pack_sequences: each doc's tokens begin in the sequence its
    placement names, at its seq_off."""
    from docling_nlp_api_spark.operators.sampling import (
        materialize_sequences,
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g"), (3, "h i"), (4, "  \t ")],
        "doc_id long, text string",
    )
    rows = materialize_sequences(df, max_tokens=5, n_shards=1).collect()
    got = {r["seq_idx"]: list(r["tokens"]) for r in rows}
    assert got == {0: ["a", "b", "c", "d", "e"], 1: ["f", "g", "h", "i"]}
    # doc boundaries: docs 1/2 start in seq 0 at offsets 0/3; doc 2's
    # carry-over into seq 1 is NOT a start, doc 3 starts there at 2
    starts = {r["seq_idx"]: list(r["doc_starts"]) for r in rows}
    assert starts == {0: [0, 3], 1: [2]}

    placed = pack_sequences(df, max_tokens=5, n_shards=1).collect()
    for p in placed:
        if p["n_tokens"] == 0:
            continue
        seq = got[p["seq_idx"]]
        first = {1: "a", 2: "d", 3: "h"}[p["doc_id"]]
        assert seq[p["seq_off"]] == first, p

    # multi-shard: every sequence is exactly max_tokens except each
    # shard's tail, and the token mass reconciles with the input
    many = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(1 + i % 7))) for i in range(60)],
        "doc_id long, text string",
    )
    seqs = materialize_sequences(many, max_tokens=8, n_shards=4).collect()
    by_shard: dict = {}
    for r in seqs:
        by_shard.setdefault(r["shard"], []).append((r["seq_idx"], len(r["tokens"])))
    total = sum(1 + i % 7 for i in range(60))
    assert sum(n for rows in by_shard.values() for _, n in rows) == total
    for shard, rows in by_shard.items():
        rows.sort()
        assert [i for i, _ in rows] == list(range(len(rows))), (shard, rows)
        assert all(n == 8 for _, n in rows[:-1]), (shard, rows)
        assert 1 <= rows[-1][1] <= 8


def test_dataset_card_planted(spark):
    """CUBE over 2 langs x 2 sources: 3 populated cells + 2+2 marginals
    + grand total = 8 rows; grouping flags separate rollups from cells."""
    from docling_nlp_api_spark.operators.sampling import dataset_card

    df = spark.createDataFrame(
        [(1, "en", "web", 10), (2, "en", "web", 20), (3, "en", "pdf", 30), (4, "de", "web", 40)],
        "doc_id long, lang string, source string, n_chars long",
    )
    rows = {(r["lang"], r["source"]): r.asDict() for r in dataset_card(df).collect()}
    assert len(rows) == 8
    assert rows[("en", "web")] == {
        "lang": "en", "source": "web", "g_lang": 0, "g_source": 0,
        "n_docs": 2, "chars_total": 30, "mean_chars": 15.0,
    }
    assert rows[("de", None)]["n_docs"] == 1 and rows[("de", None)]["g_source"] == 1
    assert rows[(None, None)] == {
        "lang": None, "source": None, "g_lang": 1, "g_source": 1,
        "n_docs": 4, "chars_total": 100, "mean_chars": 25.0,
    }


def test_incremental_dedup_planted(spark):
    """New-batch doc 100 is an exact copy of base docs 1 AND 2 (identical
    signatures collide in every band, jaccard 1.0; tie-break -> min base
    id); new doc 101 shares no shingles with base and must be absent."""
    text = "alpha bravo charlie delta echo foxtrot golf hotel"
    other = "zulu yankee xray whiskey victor uniform tango sierra"
    from docling_nlp_api_spark.operators.dedup import incremental_dedup

    base = spark.createDataFrame(
        [(1, text), (2, text), (3, "mike november oscar papa quebec romeo")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, text), (101, other)], "doc_id long, text string"
    )
    got = {r["new_id"]: r.asDict() for r in incremental_dedup(base, new).collect()}
    assert got == {
        100: {"new_id": 100, "n_matches": 2, "best_jaccard": 1.0, "best_base": 1},
    }


def test_charset_signals_planted(spark):
    """Hand-counted charset signals: accents, a control byte, U+FFFD, an
    empty doc (zero-division guard)."""
    from docling_nlp_api_spark.operators.textquality import charset_signals

    df = spark.createDataFrame(
        [(1, "héllo wörld"), (2, "ok\x01\x02ok"), (3, "bad��"), (4, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in charset_signals(df).collect()}
    assert got[1] == {
        "doc_id": 1, "n_chars_seen": 11, "n_nonascii": 2,
        "nonascii_frac": round(2 / 11, 4), "n_ctrl": 0, "n_replacement": 0,
    }
    assert got[2] == {
        "doc_id": 2, "n_chars_seen": 6, "n_nonascii": 0,
        "nonascii_frac": 0.0, "n_ctrl": 2, "n_replacement": 0,
    }
    assert got[3]["n_replacement"] == 2 and got[3]["n_nonascii"] == 2
    assert got[4] == {
        "doc_id": 4, "n_chars_seen": 0, "n_nonascii": 0,
        "nonascii_frac": 0.0, "n_ctrl": 0, "n_replacement": 0,
    }


def test_duplicate_passages_planted(spark):
    """Exact substring dedup (Lee et al. semantics): a 5-token run shared
    by docs 1+2 plus a re-occurrence of its 4-token prefix at the END of
    doc 1 yields two merged regions there; within-doc repetition alone
    (doc 4) is NOT cross-doc duplication and scores zero. Words are all
    >= 3 letters because TOKEN_RE drops shorter tokens."""
    from docling_nlp_api_spark.operators.dedup import duplicate_passages

    df = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta echo unia unib unic unid unie alpha bravo charlie delta"),
            (2, "alpha bravo charlie delta echo zeta zetb zetc zetd zete"),
            (3, "kilo lima mike nova oscar papa quebec romeo sierra tango"),
            (4, "rrra rrrb rrrc rrrd xerox rrra rrrb rrrc rrrd"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in duplicate_passages(df, k=4).collect()}
    # doc 1: dup gram starts [0, 1, 10] -> gaps [1, 9] -> 2 regions,
    # coverage 4 + min(1,4) + min(9,4) = 9 of 14 tokens
    assert got[1] == {
        "doc_id": 1, "n_grams": 11, "n_dup_grams": 3,
        "n_dup_regions": 2, "dup_frac": round(9 / 14, 4),
    }
    # doc 2: dup starts [0, 1] -> one region covering 5 of 10 tokens
    assert got[2] == {
        "doc_id": 2, "n_grams": 7, "n_dup_grams": 2,
        "n_dup_regions": 1, "dup_frac": 0.5,
    }
    assert got[3] == {
        "doc_id": 3, "n_grams": 7, "n_dup_grams": 0,
        "n_dup_regions": 0, "dup_frac": 0.0,
    }
    assert got[4] == {
        "doc_id": 4, "n_grams": 6, "n_dup_grams": 0,
        "n_dup_regions": 0, "dup_frac": 0.0,
    }


def test_duplicate_passage_rewrite_planted(spark):
    """Keep-one-copy rewrite: the min-doc_id owner keeps its text, every
    other doc has the duplicated token range cut out; a doc that is
    nothing but a shared passage is fully cut (NULL clean_hash)."""
    import hashlib

    from docling_nlp_api_spark.operators.dedup import duplicate_passage_rewrite

    d1 = "alpha bravo charlie delta echo unia unib unic unid unie alpha bravo charlie delta"
    d2 = "alpha bravo charlie delta echo zeta zetb zetc zetd zete"
    df = spark.createDataFrame(
        [
            (1, d1),
            (2, d2),
            (3, "kilo lima mike nova oscar papa quebec romeo sierra tango"),
            (5, "alpha bravo charlie delta echo"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in duplicate_passage_rewrite(df, k=4).collect()}
    h = lambda s: hashlib.md5(s.encode()).hexdigest()
    # doc 1 owns every shared gram -> untouched
    assert got[1] == {
        "doc_id": 1, "n_tokens": 14, "n_removed": 0,
        "n_regions_removed": 0, "clean_hash": h(d1),
    }
    # doc 2 loses the 5-token shared prefix ([0,3] u [1,4] -> [0,4])
    assert got[2] == {
        "doc_id": 2, "n_tokens": 10, "n_removed": 5,
        "n_regions_removed": 1, "clean_hash": h("zeta zetb zetc zetd zete"),
    }
    assert got[3]["n_removed"] == 0 and got[3]["clean_hash"] is not None
    # doc 5 is ONLY the shared passage -> everything cut
    assert got[5] == {
        "doc_id": 5, "n_tokens": 5, "n_removed": 5,
        "n_regions_removed": 1, "clean_hash": None,
    }


def test_bpe_pair_stats_planted(spark):
    """One BPE merge step: 'aa' wins (2 per 'aaa' x 2 occurrences + 1 per
    'aab' x 2) with within-word repeats counted per occurrence; the tied
    tail orders pair-asc deterministically."""
    from docling_nlp_api_spark.operators.sampling import bpe_pair_stats

    df = spark.createDataFrame(
        [(1, "aaa bbb aaa"), (2, "aab aab")],
        "doc_id long, text string",
    )
    rows = [tuple(r) for r in bpe_pair_stats(df).collect()]
    assert rows[0] == ("aa", 2, 6)
    assert set(rows[1:]) == {("ab", 1, 2), ("bb", 1, 2)}
    assert rows[1][0] == "ab"  # count-tie broken pair-asc


def test_tfidf_top_terms_planted(spark):
    """tf x ln(N/df) with N=4: doc 1 has an exact score tie (1*ln(4) ==
    2*ln(2)) broken term-asc; unique terms outrank corpus-wide ones."""
    from docling_nlp_api_spark.operators.nlp import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "cat bird"), (3, "zzz yyy"), (4, "fish fish fish")],
        "doc_id long, text string",
    )
    rows = {(r["doc_id"], r["rk"]): (r["term"], r["tf"], r["df"], r["score"])
            for r in tfidf_top_terms(df).collect()}
    assert rows[(1, 1)] == ("cat", 2, 2, 1.3863)   # 2*ln(2) ties 1*ln(4), cat < dog
    assert rows[(1, 2)] == ("dog", 1, 1, 1.3863)
    assert rows[(2, 1)] == ("bird", 1, 1, 1.3863)
    assert rows[(2, 2)] == ("cat", 1, 2, 0.6931)
    assert rows[(3, 1)][0] == "yyy" and rows[(3, 2)][0] == "zzz"
    assert rows[(4, 1)] == ("fish", 3, 1, 4.1589)
    assert len(rows) == 7


def test_dsir_importance_weights_planted(spark):
    """DSIR weights: a non-target doc written in target-like vocabulary
    must outscore a non-target doc with off-domain vocabulary; exact
    values pinned by an in-test add-1 unigram mirror."""
    import math
    from collections import Counter

    from docling_nlp_api_spark.operators.sampling import importance_weights

    corpus = [
        (1, "en", "ttt ttt aaa"),
        (2, "en", "ttt aaa"),
        (3, "de", "ooo ooo aaa"),
        (4, "de", "ttt ttt aaa"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, lang string, text string")

    all_w = [w for _, _, t in corpus for w in t.split()]
    tgt_w = [w for _, l, t in corpus if l == "en" for w in t.split()]
    cc, ct = Counter(all_w), Counter(tgt_w)
    tc, tt, v = len(all_w), len(tgt_w), len(cc)
    lr = {w: math.log(((ct[w] + 1) * (tc + v)) / ((cc[w] + 1) * (tt + v))) for w in cc}
    want = {
        d: (int(l == "en"), len(t.split()),
            round(sum(lr[w] for w in t.split()) / len(t.split()), 4))
        for d, l, t in corpus
    }

    got = {r["doc_id"]: (r["in_target"], r["n_tokens"], r["mean_log_ratio"])
           for r in importance_weights(df).collect()}
    assert got == want
    assert got[4][2] > got[3][2]  # target-like beats off-domain
    assert got[1][2] > 0 > got[3][2]


def test_bigram_logprob_planted(spark):
    """Bigram NLL: a doc repeating the corpus's dominant bigram scores a
    LOWER mean NLL than one made of bigrams seen once; exact values
    pinned by an in-test add-1 mirror (V from the full token stream,
    c1 = context occurrences)."""
    import math
    from collections import Counter

    from docling_nlp_api_spark.operators.sampling import bigram_logprob

    corpus = [
        (1, "aa bb aa bb aa bb"),
        (2, "cc dd ee"),
        (3, "aa bb cc"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")

    def toks(t):
        return t.split()

    allw = [w for _, t in corpus for w in toks(t)]
    bigs = [
        (ts[i - 1], ts[i])
        for _, t in corpus
        for ts in [toks(t)]
        for i in range(1, len(ts))
    ]
    c2 = Counter(bigs)
    c1 = Counter(p for p, _ in bigs)
    v = len(set(allw))
    want = {}
    for d, t in corpus:
        ts = toks(t)
        nlls = [
            math.log((c1[ts[i - 1]] + v) / (c2[(ts[i - 1], ts[i])] + 1))
            for i in range(1, len(ts))
        ]
        want[d] = (len(nlls), round(sum(nlls) / len(nlls), 4))

    got = {r["doc_id"]: (r["n_bigrams"], r["mean_nll"])
           for r in bigram_logprob(df).collect()}
    assert got == want
    assert got[1][1] < got[2][1]  # dominant-bigram doc is least surprising


def test_span_boilerplate_planted(spark):
    """Span-model boilerplate: a (kind, text) payload recurring in >=
    min_docs distinct docs is cut from every doc; kept spans hash in
    offset order; an all-boilerplate doc gets a NULL clean_hash; the
    same text under a DIFFERENT kind is not pooled."""
    import hashlib

    from docling_nlp_api_spark.operators.dedup import span_boilerplate

    def span(kind, text, off):
        return {"kind": kind, "text": text, "media_ref": "", "offset": off}

    rows = []
    # docs 1..10 share a pageno marker; each has a unique paragraph AFTER it
    for d in range(1, 11):
        rows.append((f"d{d}", [span("pageno", "page 1", 0),
                               span("paragraph", f"unique text {d}", 10)]))
    # doc 11 is ONLY the shared marker
    rows.append(("d11", [span("pageno", "page 1", 0)]))
    # doc 12 carries the same TEXT under another kind (not pooled: only
    # 1 doc has this (kind,text) so it survives)
    rows.append(("d12", [span("heading", "page 1", 0)]))
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = {r["doc_id"]: r.asDict() for r in span_boilerplate(df, min_docs=10).collect()}
    h = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert got["d3"] == {
        "doc_id": "d3", "n_spans": 2, "n_boilerplate": 1,
        "boilerplate_frac": 0.5, "clean_hash": h("paragraph:unique text 3"),
    }
    assert got["d11"] == {
        "doc_id": "d11", "n_spans": 1, "n_boilerplate": 1,
        "boilerplate_frac": 1.0, "clean_hash": None,
    }
    assert got["d12"] == {
        "doc_id": "d12", "n_spans": 1, "n_boilerplate": 0,
        "boilerplate_frac": 0.0, "clean_hash": h("heading:page 1"),
    }
    assert sum(r["n_boilerplate"] for r in got.values()) == 11


def test_hll_sketch_merge_and_accuracy(spark):
    """Deterministic HLL: (1) register tables from two disjoint batches
    max-merge into EXACTLY the union's sketch (the property that makes
    the sketch shardable across snapshots/partitions); (2) estimate
    accuracy stays within 4 sigma of the paper's 1.04/sqrt(m) bound
    across two orders of magnitude of cardinality."""
    import pyspark.sql.functions as F

    from docling_nlp_api_spark.operators.sketches import (
        HLL_M,
        hll_distinct,
        hll_estimate_from_registers,
        hll_registers,
    )

    df = spark.range(0, 30000).select(
        F.when(F.col("id") < 300, "small")
        .when(F.col("id") < 3000, "mid")
        .otherwise("large")
        .alias("grp"),
        F.col("id").alias("v"),
    )
    out = {r["grp"]: r for r in hll_distinct(df, "grp", "v").collect()}
    sigma = 1.04 / (HLL_M ** 0.5)
    assert set(out) == {"small", "mid", "large"}
    for r in out.values():
        assert r["rel_err"] <= 4 * sigma, dict(r.asDict())

    # merge: two disjoint halves, one group each
    a = df.filter("v % 2 = 0")
    b = df.filter("v % 2 = 1")
    ra = hll_registers(a, "grp", "v")
    rb = hll_registers(b, "grp", "v")
    merged = (
        ra.unionByName(rb)
        .groupBy("grp", "bucket")
        .agg(F.max("rank").alias("rank"))
    )
    got = {r["grp"]: r["hll_estimate"]
           for r in hll_estimate_from_registers(merged).collect()}
    want = {r["grp"]: r["hll_estimate"]
            for r in hll_estimate_from_registers(hll_registers(df, "grp", "v")).collect()}
    assert got == want


def test_bloom_decontamination_superset_and_fp(spark, sf_dir):
    """Bloom decontamination: bloom hits are a strict SUPERSET of exact
    hits at any filter size; the default 32k-bit filter is effectively
    exact on the fixture (fp ~1e-5/probe), while a saturated 64-bit
    filter must produce false positives — and even those are
    deterministic (the DuckDB oracle reproduces them bit-for-bit)."""
    import pyspark.sql.functions as F

    from docling_nlp_api_spark.operators.dedup import contamination_scores_bloom

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    out = contamination_scores_bloom(docs).cache()
    assert out.filter("n_hit_bloom < n_hit").count() == 0
    tot = out.agg(F.sum("n_shingles").alias("n"),
                  F.sum("n_hit_bloom").alias("b"), F.sum("n_hit").alias("e")).collect()[0]
    assert (tot["b"] - tot["e"]) <= max(1, tot["n"] // 1000)  # ~exact at 32k bits
    out.unpersist()

    tiny = contamination_scores_bloom(docs, m_bits=64).cache()
    assert tiny.filter("n_hit_bloom < n_hit").count() == 0
    fp = tiny.agg(F.sum(F.col("n_hit_bloom") - F.col("n_hit"))).collect()[0][0]
    assert fp > 0  # saturated filter must false-positive
    tiny.unpersist()


def test_cms_sketch_collisions_and_merge(spark, sf_dir):
    """CountMin: never undercounts at any width; a saturated 8-counter
    sketch must overcount somewhere; and sketches of two disjoint halves
    ADD into the whole corpus's estimates (linearity)."""
    import pyspark.sql.functions as F

    from docling_nlp_api_spark.operators.sketches import cms_word_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    out = cms_word_counts(docs).cache()
    assert out.count() == 20
    assert out.filter("over < 0").count() == 0
    out.unpersist()

    tiny = cms_word_counts(docs, w=8).cache()
    assert tiny.filter("over < 0").count() == 0
    assert tiny.agg(F.sum("over")).collect()[0][0] > 0  # forced collisions
    tiny.unpersist()

    # linearity: estimates over (evens UNION odds) == estimates over all,
    # because the sketch of a union is the elementwise sum of sketches
    halves = cms_word_counts(
        docs.filter("doc_id % 2 = 0").unionByName(docs.filter("doc_id % 2 = 1"))
    )
    whole = cms_word_counts(docs)
    assert sorted(map(tuple, halves.collect())) == sorted(map(tuple, whole.collect()))


def test_filter_funnel_planted(spark):
    """One doc per gate, plus gate-order conflicts: a doc failing both
    charset and too_short must report charset (first-fail semantics)."""
    from docling_nlp_api_spark.operators.textquality import filter_funnel

    long_good = ("the quick brown fox jumps over the lazy dog and then "
                 "walks away into the forest while birds sing overhead "
                 "under a warm evening sky full of color ") * 2
    rep = "spam " * 60  # one token owns the whole doc
    df = spark.createDataFrame(
        [
            (1, long_good),                    # keep
            (2, "tiny doc"),                   # too_short
            (3, rep),                          # repetition (words >= 20)
            (4, "x\x01 " + long_good),         # charset beats everything
            (5, "a\x01"),                      # charset beats too_short
            (6, ";;;;; " * 30),                # low punct/stopword quality
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.verdict for r in filter_funnel(df).collect()}
    assert got == {
        1: "keep",
        2: "too_short",
        3: "repetition",
        4: "charset",
        5: "charset",
        6: "low_quality",
    }


def test_filter_funnel_signals_consistent_with_operators(spark, sf_dir):
    """The funnel's embedded signals must equal the standalone operators'
    on the raw corpus (same expressions, composed vs separate)."""
    from docling_nlp_api_spark.operators.textquality import (
        filter_funnel,
        quality_score,
        repetition_signals,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    fun = {r.doc_id: r for r in filter_funnel(docs).collect()}
    qs = {r.doc_id: r.quality for r in quality_score(docs).collect()}
    tw = {r.doc_id: r.top_word_frac for r in repetition_signals(docs).collect()}
    for did, row in fun.items():
        assert row.quality == qs[did]
        assert row.top_word_frac == tw[did]


def test_sessionize_planted(spark):
    """Hand-built event stream: gaps straddling the 30-min boundary,
    multi-user isolation, exact-boundary gap NOT splitting (strict >),
    and a single-event session with zero duration."""
    from docling_nlp_api_spark.operators.analytics import sessionize

    m = 60 * 1_000_000  # one minute in micros
    rows = [
        # user 1: events at 0, 10, 40 (gap 30 == boundary: same session),
        # then 71 (gap 31 > 30: new session)
        (1, 1, 0), (2, 1, 10 * m), (3, 1, 40 * m), (4, 1, 71 * m),
        # user 2: one lone event
        (5, 2, 5 * m),
    ]
    df = spark.createDataFrame(
        [(eid, uid, us) for eid, uid, us in rows],
        "event_id long, user_id long, us long",
    ).select(
        "event_id",
        "user_id",
        (F.col("us") / 1_000_000).cast("timestamp").alias("ts"),
    )
    got = {
        (r.user_id, r.session_no): (r.n_events, r.start_us, r.end_us, r.duration_us)
        for r in sessionize(df).collect()
    }
    assert got == {
        (1, 1): (3, 0, 40 * m, 40 * m),
        (1, 2): (1, 71 * m, 71 * m, 0),
        (2, 1): (1, 5 * m, 5 * m, 0),
    }


def test_trigram_backoff_planted(spark):
    """All three backoff tiers on one hand-computed pair of docs:
    train = 'a b c a b d' (N=6, V=4, c3(a,b,c)=1, c2(a,b)=2, c1(a)=2);
    eval  = 'q a b c x' ->
      (q,a,b): trigram unseen, bigram (a,b) seen -> 0.4 * 2/2 = 0.4
      (a,b,c): seen               -> 1/2 = 0.5
      (b,c,x): bigram (c,x) unseen, x OOV -> 0.16 * (0+1)/(6+4) = 0.016
    """
    import math

    from docling_nlp_api_spark.operators.sampling import trigram_backoff_logprob

    df = spark.createDataFrame(
        [(0, "a b c a b d"), (1, "q a b c x")],
        "doc_id long, text string",
    )
    rows = trigram_backoff_logprob(df).collect()
    assert len(rows) == 1 and rows[0].doc_id == 1
    expect = round(sum(-math.log(s) for s in (0.4, 0.5, 0.016)) / 3, 4)
    assert (rows[0].n_trigrams, rows[0].mean_nll) == (3, expect)


def test_lsh_recall_planted(spark):
    """On a corpus of identical-text docs, every planted twin shares all
    shingles -> identical signatures -> recall must be exactly 1.0; and
    n_candidates bounds sanity (at least the planted pairs)."""
    from docling_nlp_api_spark.operators.dedup import PLANT_EVERY, lsh_recall

    text = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(i * PLANT_EVERY, text + f" tail{i}") for i in range(6)],
        "doc_id long, text string",
    )
    row = lsh_recall(df).collect()[0]
    assert row.n_planted == 6
    assert row.n_caught == 6
    assert row.recall == 1.0
    assert row.n_candidates >= 6


def test_normalize_for_hash_planted(spark):
    """Hand-built normalization cases: case fold, accent fold (incl. ñ/ç
    at the table tail), punctuation strip, whitespace collapse, unmapped
    non-ASCII deletion — and exact_dedup_normalized grouping variants the
    raw hash provably misses (n_raw_hashes == 3)."""
    from docling_nlp_api_spark.operators.dedup import (
        exact_dedup_normalized,
        normalize_for_hash,
    )

    df = spark.createDataFrame(
        [
            (1, "Héllo,  Wørld!"),      # ø unmapped -> deleted
            (2, "ÁÀÂ ñ ç é"),
            (3, "the cat"),
            (4, "  THE   cat!! "),
            (5, "thé cat"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n for r in df.select("doc_id", normalize_for_hash(F.col("text")).alias("n")).collect()}
    assert got[1] == "hello wrld"
    assert got[2] == "aaa n c e"
    assert got[3] == got[4] == got[5] == "the cat"

    groups = exact_dedup_normalized(df).collect()
    assert len(groups) == 1
    g = groups[0]
    assert (g.n_docs, g.n_raw_hashes, g.representative) == (3, 3, 3)


def test_length_buckets_planted(spark):
    """Boundary cases the fixture can't produce: exact multiples stay in
    their bucket, empty docs land in the first bucket, over-cap docs
    truncate (eff capped so waste can't go negative)."""
    from docling_nlp_api_spark.operators.sampling import length_buckets

    df = spark.createDataFrame(
        [
            (1, "w " * 64),      # exactly 64 -> bucket 64, waste 0
            (2, "w " * 65),      # 65 -> bucket 128
            (3, ""),             # 0 tokens -> bucket 64 (greatest guard)
            (4, "w " * 600),     # over cap -> bucket 512, eff capped at 512
        ],
        "doc_id long, text string",
    )
    got = {r.bucket: (r.n_docs, r.token_mass, r.padded_mass, r.waste_frac)
           for r in length_buckets(df).collect()}
    assert got[64] == (2, 64, 128, 0.5)          # docs 1 and 3
    assert got[128] == (1, 65, 128, round(1 - 65 / 128, 4))
    assert got[512] == (1, 512, 512, 0.0)


def test_gopher_rules_planted(spark):
    """Each GOPHER_PLANTS doc trips exactly its intended gate, in the
    paper's rule order; a word-count-violating doc fails word_count even
    if later gates would also fire (first-fail semantics)."""
    from docling_nlp_api_spark.operators.textquality import (
        GOPHER_PLANTS,
        gopher_quality_rules,
    )

    df = spark.createDataFrame(
        [(int(i), t) for i, t in GOPHER_PLANTS]
        + [(1, "### ..."), (2, "")],  # short symbol-doc + empty: word_count first
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_quality_rules(df).collect()}
    assert got[9000001].verdict == "symbol_ratio"
    assert got[9000002].verdict == "alpha_words"
    assert got[9000003].verdict == "stopwords"
    assert got[9000004].verdict == "word_length"
    assert got[9000005].verdict == "keep"
    assert got[1].verdict == "word_count" and got[2].verdict == "word_count"
    # signal sanity on the keep doc: 60 words, all alpha, >=2 stopwords
    k = got[9000005]
    assert k.n_words == 60 and k.alpha_frac == 1.0 and k.n_stopwords >= 2
    # empty doc carries NULL ratios (never reaches a ratio comparison)
    assert got[2].mean_word_len is None and got[2].symbol_ratio is None


def test_c4_line_filters_planted(spark):
    """C4_PLANTS line accounting: the keep doc retains exactly the three
    gate-passing lines (value-checked via md5 of the rewritten text);
    page gates fire in paper order (brace before line accounting)."""
    import hashlib

    from docling_nlp_api_spark.operators.textquality import (
        C4_PLANTS,
        c4_line_filters,
    )

    df = spark.createDataFrame(
        [(int(i), t) for i, t in C4_PLANTS], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in c4_line_filters(df).collect()}

    keep = got[9100001]
    assert keep.verdict == "keep"
    assert (keep.n_lines, keep.n_kept_lines, keep.n_sentences) == (6, 3, 3)
    expected_clean = "\n".join(
        [
            "The quick brown fox jumps over the lazy dog.",
            "A second proper sentence line stands entirely alone here!",
            'He said the last line was "perfectly fine today."',
        ]
    )
    assert keep.clean_hash == hashlib.md5(expected_clean.encode()).hexdigest()

    assert got[9100002].verdict == "too_few_sentences"
    assert got[9100002].n_kept_lines == 2
    # brace fires even though the lines themselves would pass
    assert got[9100003].verdict == "brace"
    # lorem ipsum is case-insensitive and fires before sentence counting
    assert got[9100004].verdict == "lorem_ipsum"


def test_pagerank_invariants(spark):
    """Analytic checks the oracle can't express: on a directed cycle the
    uniform distribution is the fixed point (every iteration preserves
    it), and on a star every leaf's mass flows to the hub. Fixed-point
    arithmetic makes both exact, not approximate."""
    from docling_nlp_api_spark.operators.graph import (
        PR_BASE,
        PR_NODE_SCALE,
        pagerank,
    )

    nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    cycle = spark.createDataFrame(
        [(i, (i + 1) % 4) for i in range(4)], "src long, dst long"
    )
    ranks = {r.doc_id: r.pr_fixed for r in pagerank(nodes, cycle).collect()}
    # uniform fixed point: base + 0.85 * (NODE_SCALE div 1) == NODE_SCALE
    assert set(ranks.values()) == {PR_NODE_SCALE}

    star = spark.createDataFrame(
        [(i, 0) for i in range(1, 4)], "src long, dst long"
    )
    sranks = {r.doc_id: r.pr_fixed for r in pagerank(nodes, star).collect()}
    hub, leaves = sranks[0], [sranks[i] for i in range(1, 4)]
    assert len(set(leaves)) == 1 and hub > leaves[0]
    # leaves get only the teleport base after iteration 1 (no in-edges)
    assert leaves[0] == PR_BASE


def test_perplexity_buckets_tercile_sizes(spark, sf_dir):
    """Bucket sizes are exact terciles up to tie mass, ordered head <=
    middle <= tail by score, and every scored doc lands in a bucket."""
    from pyspark.sql import functions as F

    from docling_nlp_api_spark.operators.sampling import (
        bigram_logprob,
        perplexity_buckets,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pb = perplexity_buckets(docs)
    n_scored = bigram_logprob(docs).count()
    sizes = {
        r.bucket: r.c
        for r in pb.groupBy("bucket").agg(F.count("*").alias("c")).collect()
    }
    assert sum(sizes.values()) == n_scored
    # cutoff rule: head holds AT LEAST ceil(n/3) docs (ties only add)
    assert sizes.get("head", 0) >= (n_scored + 2) // 3
    # score ordering between buckets is strict at the boundaries
    rows = pb.collect()
    max_head = max(r.mean_nll for r in rows if r.bucket == "head")
    vals_mid = [r.mean_nll for r in rows if r.bucket == "middle"]
    if vals_mid:
        assert max_head < min(vals_mid)
        max_mid = max(vals_mid)
        vals_tail = [r.mean_nll for r in rows if r.bucket == "tail"]
        if vals_tail:
            assert max_mid < min(vals_tail)


def test_chunk_overlap_boundaries(spark):
    """Exact chunk accounting at the stride boundaries: divisible tail,
    ragged tail, short doc (one chunk), empty doc (none); consecutive
    chunks share exactly size - stride tokens."""
    from docling_nlp_api_spark.operators.sampling import chunk_overlap

    # pure-alpha words: TOKEN_RE rejects letter-digit mixes like tok01
    mk = lambda i: "w" + chr(97 + i // 26) + chr(97 + i % 26)
    words = lambda n: " ".join(mk(i) for i in range(n))
    df = spark.createDataFrame(
        [
            (1, words(56)),  # 32 + 24: 2 chunks, 2nd exactly full
            (2, words(57)),  # 3 chunks, last has 57 - 48 = 9 tokens
            (3, words(10)),  # short: 1 chunk of 10
            (4, ""),         # empty: no chunks
        ],
        "doc_id long, text string",
    )
    got = {}
    for r in chunk_overlap(df, size=32, stride=24).collect():
        got.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_tokens))
    assert sorted(got[1]) == [(0, 32), (1, 32)]
    assert sorted(got[2]) == [(0, 32), (1, 32), (2, 9)]
    assert sorted(got[3]) == [(0, 10)]
    assert 4 not in got

    # overlap check: chunk 1 of doc 1 starts at token 24 (0-based)
    rows = chunk_overlap(
        df.filter("doc_id = 1"), size=32, stride=24
    ).collect()
    import hashlib
    toks = [mk(i) for i in range(56)]
    expect = {
        0: hashlib.md5(" ".join(toks[0:32]).encode()).hexdigest(),
        1: hashlib.md5(" ".join(toks[24:56]).encode()).hexdigest(),
    }
    assert {r.chunk_idx: r.chunk_hash for r in rows} == expect


def test_pagerank_damp_split_form_no_overflow(spark):
    """The split damping form equals (85*s) div 100 exactly AND survives
    s near int64 max, where the naive 85*s would wrap (the 10^12-doc
    hub-mass case)."""
    from docling_nlp_api_spark.operators.graph import _damp

    vals = [0, 1, 99, 100, 101, 12345678901234567, 9_000_000_000_000_000_000]
    df = spark.createDataFrame([(v,) for v in vals], "s long")
    got = {r.s: r.d for r in df.select("s", _damp("s").alias("d")).collect()}
    for v in vals:
        assert got[v] == (85 * v) // 100  # python ints are exact


def test_lsh_multiprobe_recall_improves(spark, sf_dir):
    """recall@5 vs brute-force ground truth: Hamming-1 probing must not
    lose recall vs exact-bucket LSH, and on the fixture it must actually
    recover boundary neighbors (strictly more true pairs found)."""
    from docling_nlp_api_spark.operators.similarity import (
        brute_force_topk,
        lsh_multiprobe_topk,
    )

    truth = {
        (r.query_id, r.cand_id)
        for r in brute_force_topk(spark, sf_dir).collect()
    }
    exact = {
        (r.query_id, r.cand_id)
        for r in lsh_multiprobe_topk(spark, sf_dir, probe_bits=0).collect()
    }
    multi = {
        (r.query_id, r.cand_id)
        for r in lsh_multiprobe_topk(spark, sf_dir).collect()
    }
    hits_exact = len(truth & exact)
    hits_multi = len(truth & multi)
    assert hits_multi > hits_exact  # boundary queries exist in the fixture
    # absolute recall stays low by design at 8 bits over near-random
    # embeddings (256 buckets, top-5 truth is spread); the op's claim is
    # the RELATIVE boundary recovery, pinned above, plus a non-collapse
    # floor — at sf0.001 multi-probe finds 5/25 vs exact-bucket's 2/25
    assert hits_multi / len(truth) >= 0.1


def test_perplexity_buckets_by_lang_independence(spark, sf_dir):
    """Per-language bucketing: every language gets its own ~tercile split
    (head >= ceil(n_lang/3) within EACH language), which a global cutoff
    cannot produce when score distributions differ by language."""
    from pyspark.sql import functions as F

    from docling_nlp_api_spark.operators.sampling import (
        perplexity_buckets_by_lang,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pb = perplexity_buckets_by_lang(docs)
    sizes = {
        (r.lang, r.bucket): r.c
        for r in pb.groupBy("lang", "bucket").agg(F.count("*").alias("c")).collect()
    }
    langs = {lang for lang, _ in sizes}
    assert len(langs) >= 2
    for lang in langs:
        n = sum(c for (lg, _), c in sizes.items() if lg == lang)
        head = sizes.get((lang, "head"), 0)
        assert head >= (n + 2) // 3, (lang, head, n)
        # boundary ordering holds within the language
        rows = pb.filter(F.col("lang") == lang).collect()
        mids = [r.mean_nll for r in rows if r.bucket == "middle"]
        if mids:
            assert max(r.mean_nll for r in rows if r.bucket == "head") < min(mids)


def test_pmi_collocations_planted(spark):
    """A fused phrase ('neural networks', always adjacent) must out-rank
    a frequent-but-independent pair, and pairs under the support floor
    never appear."""
    from docling_nlp_api_spark.operators.sampling import pmi_collocations

    # 10 docs with the fused phrase; filler words shuffled deterministically
    rows = []
    for i in range(10):
        filler = " ".join(
            w for j in range(6) for w in ("the", "data" if (i + j) % 2 else "model")
        )
        rows.append((i, f"neural networks {filler}"))
    rows.append((99, "rare pair"))  # c2=1 < floor -> excluded
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = pmi_collocations(df).collect()
    pairs = [(r.w1, r.w2) for r in got]
    assert ("neural", "networks") in pairs
    assert ("rare", "pair") not in pairs
    top = got[0]
    assert (top.w1, top.w2) == ("neural", "networks") and top.c2 == 10
    # the fused phrase is positively associated and dominates every other
    # surviving pair
    assert top.pmi > 0
    others = [r.pmi for r in got if (r.w1, r.w2) != ("neural", "networks")]
    assert all(top.pmi > p for p in others)


def test_salted_skew_join_equivalence(spark, sf_dir):
    """Salting must be result-invariant: the salted (event_type, salt)
    join equals the plain unsalted join+rollup row for row, and the
    physical plan actually shuffles on the SALTED key (5 keys -> 5*k)."""
    from docling_nlp_api_spark.operators.relational import (
        EVENT_DIM_WEIGHTS,
        salted_skew_join_rollup,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {r.event_type: (r.n_events, r.weighted_value)
           for r in salted_skew_join_rollup(ev).collect()}
    plain = {
        r.event_type: (r.n, round(r.wv, 4))
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.col("value")
                * F.udf(lambda t: EVENT_DIM_WEIGHTS[t], "double")("event_type")
            ).alias("wv"),
        )
        .collect()
    }
    assert got == plain

    plan = salted_skew_join_rollup(ev)._jdf.queryExecution().executedPlan().toString()
    assert "salt" in plan and "SortMergeJoin" in plan


def test_inverted_index_postings(spark):
    """Posting lists are sorted, capped with an explicit truncation flag,
    and df counts DOCUMENTS (a term repeated inside one doc counts
    once)."""
    from docling_nlp_api_spark.operators.nlp import inverted_index

    docs_df = spark.createDataFrame(
        [(i, "spark spark engine") for i in range(25)]
        + [(100, "engine only here")],
        "doc_id long, text string",
    )
    got = {r.term: r for r in inverted_index(docs_df, max_postings=20).collect()}
    spark_row = got["spark"]
    assert spark_row.df == 25 and spark_row.truncated
    assert spark_row.postings_csv == ",".join(str(i) for i in range(20))
    eng = got["engine"]
    assert eng.df == 26 and eng.truncated
    assert got["only"].df == 1 and not got["only"].truncated
    assert got["only"].postings_csv == "100"


def test_perplexity_buckets_by_lang_null_lang(spark):
    """NULL-lang docs are excluded (no language -> no per-language
    cutoff) instead of crashing the driver-side cutoff sort or falling
    through to another language's cutoffs."""
    from docling_nlp_api_spark.operators.sampling import (
        perplexity_buckets_by_lang,
    )

    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps again", "en") for i in range(6)]
        + [(99, "null lang doc with enough words here", None)],
        "doc_id long, text string, lang string",
    )
    rows = perplexity_buckets_by_lang(df).collect()
    assert {r.lang for r in rows} == {"en"}
    assert all(r.doc_id != 99 for r in rows)


def test_stratified_sample_exact_counts(spark, sf_dir):
    """Every language contributes min(n, group size) docs; the sample is
    stable across invocations (no rand()) and disjoint salts keep it
    independent of the split assignment."""
    from docling_nlp_api_spark.operators.sampling import (
        stratified_sample_exact,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    group_sizes = {r.lang: r.c for r in docs.groupBy("lang").agg(
        F.count("*").alias("c")).collect()}
    a = stratified_sample_exact(docs, n_per_group=40).collect()
    b = stratified_sample_exact(docs, n_per_group=40).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_lang = {}
    for r in a:
        per_lang[r.lang] = per_lang.get(r.lang, 0) + 1
    for lang, n in per_lang.items():
        assert n == min(40, group_sizes[lang]), (lang, n)
    assert set(per_lang) == set(group_sizes)


def test_index_search_conjunctive(spark):
    """AND semantics: docs missing any query term are excluded; ranking
    is tf_sum desc with doc_id tiebreak; agrees with an intersection of
    inverted_index posting lists (the serving-path equivalence)."""
    from docling_nlp_api_spark.operators.nlp import (
        index_search,
        inverted_index,
    )

    df = spark.createDataFrame(
        [
            (1, "table hash table join"),    # both terms, tf_sum 3
            (2, "table table table scan"),   # missing 'hash'
            (3, "hash table"),               # both, tf_sum 2
            (4, "neither term here"),
        ],
        "doc_id long, text string",
    )
    got = index_search(df, terms=("table", "hash")).collect()
    assert [(r.doc_id, r.tf_table, r.tf_hash, r.tf_sum) for r in got] == [
        (1, 2, 1, 3),
        (3, 1, 1, 2),
    ]
    # posting-list intersection gives the same doc set
    posts = {r.term: set(map(int, r.postings_csv.split(",")))
             for r in inverted_index(df).collect() if r.term in ("table", "hash")}
    assert posts["table"] & posts["hash"] == {r.doc_id for r in got}


def test_cohort_retention_invariants(spark, sf_dir):
    """Offset-0 count equals the cohort's size (everyone is active in
    their first week); retention never exceeds the cohort size; offsets
    are non-negative."""
    from docling_nlp_api_spark.operators.analytics import cohort_retention

    rows = cohort_retention(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    ).collect()
    assert rows and all(r.week_offset >= 0 for r in rows)
    base = {r.cohort_week: r.n_users for r in rows if r.week_offset == 0}
    for r in rows:
        assert r.cohort_week in base  # every cohort has its week-0 row
        assert r.n_users <= base[r.cohort_week]


def test_event_funnel_strict_ordering(spark):
    """Strict time-ordered semantics: a user whose click precedes every
    view does NOT reach step 2, even though both event types exist."""
    import datetime as dt

    from docling_nlp_api_spark.operators.analytics import event_funnel

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    df = spark.createDataFrame(
        [
            (1, 1, t(0), "view"), (2, 1, t(5), "click"), (3, 1, t(9), "purchase"),
            (4, 2, t(5), "click"), (5, 2, t(9), "view"),   # click BEFORE view
            (6, 3, t(0), "view"),                           # view only
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    got = {r.step: (r.n_users, r.rate_vs_first) for r in event_funnel(df).collect()}
    assert got["view"] == (3, 1.0)
    assert got["click"] == (1, round(1 / 3, 4))
    assert got["purchase"] == (1, round(1 / 3, 4))


def test_daily_anomalies_planted_spike(spark):
    """A planted 10x traffic spike is flagged; flat days are not; the
    first ANOMALY_WINDOW days carry NULL baselines and never flag (a day
    cannot normalize itself — the frame excludes the current row)."""
    import datetime as dt

    from docling_nlp_api_spark.operators.analytics import daily_anomalies

    rows = []
    eid = 0
    for day in range(12):
        # jitter the flat days: an exactly-constant baseline has std = 0,
        # which the operator treats as "no usable baseline" (z NULL)
        n = 1000 if day == 10 else 100 + day % 3
        for i in range(n):
            rows.append((eid, 1, dt.datetime(2024, 3, 1 + day, i % 24), "view"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {r.date.day: r for r in daily_anomalies(df).collect()}
    assert got[11].is_anomaly and got[11].z > 2  # spike day (Mar 11)
    assert not got[10].is_anomaly                # day before: flat
    # flat day AFTER the spike: baseline now contains the spike, but the
    # day itself is normal -> z negative yet bounded, not flagged... and
    # warm-up days have no full window
    for day in range(1, 8):
        assert got[day].baseline_mean is None and not got[day].is_anomaly


def test_daily_anomalies_flat_baseline_outage(spark):
    """var=0 branch (round-3 advice): after a perfectly constant 7-day
    baseline, z is undefined (NULL) but ANY deviation — here a total
    outage day — must still flag; a day that equals the constant must
    not."""
    import datetime as dt

    from docling_nlp_api_spark.operators.analytics import daily_anomalies

    rows = []
    eid = 0
    for day in range(10):
        n = 0 if day == 8 else 50  # days 0-7 exactly constant; day 8 outage
        for i in range(n):
            rows.append((eid, 1, dt.datetime(2024, 3, 1 + day, i % 24), "view"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {r.date.day: r for r in daily_anomalies(df).collect()}
    out = got[9]   # Mar 9 = day 8, the outage
    assert out.n_events == 0 and out.z is None and out.is_anomaly
    norm = got[8]  # Mar 8 = day 7: flat baseline, flat value -> no flag
    assert norm.n_events == 50 and norm.z is None and not norm.is_anomaly


def test_rolling_wau_merge_consistency(spark, sf_dir):
    """The merged-register estimate for a window must EQUAL the direct
    HLL estimate computed on the window's raw rows (mergeability is
    lossless — max of daily maxes == max over the union), and rel_err
    stays within the m=256 sketch's sane band."""
    from pyspark.sql import functions as F

    from docling_nlp_api_spark.operators.sketches import (
        hll_distinct,
        rolling_wau,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = {r.date: r for r in rolling_wau(ev).collect()}
    assert out and all(r.rel_err <= 0.2 for r in out.values())

    # pick the last day: direct sketch over the trailing 7 days' rows
    last = max(out)
    direct = hll_distinct(
        ev.filter(
            (F.to_date("ts") > F.date_sub(F.lit(last), 7))
            & (F.to_date("ts") <= F.lit(last))
        ).select(F.lit(1).alias("g"), "user_id"),
        "g",
        "user_id",
    ).collect()[0]
    assert direct.hll_estimate == out[last].wau_hll
    assert direct.exact_distinct == out[last].wau_exact


def test_lang_confusion_shares(spark, sf_dir):
    """Shares sum to 1 within each true language, and every fixture doc
    lands in exactly one confusion cell."""
    from pyspark.sql import functions as F

    from docling_nlp_api_spark.operators.textquality import lang_confusion

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = lang_confusion(docs).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, 0.0)
        by_lang[r.lang] += r.share_of_lang
    for lang, s in by_lang.items():
        assert abs(s - 1.0) < 0.001, (lang, s)


def test_last_touch_attribution_planted(spark):
    """Credit goes to the latest PRIOR non-purchase event; purchases with
    no prior touch credit 'none'; a purchase never credits a purchase."""
    import datetime as dt

    from docling_nlp_api_spark.operators.analytics import (
        last_touch_attribution,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    df = spark.createDataFrame(
        [
            (1, 1, t(0), "view"), (2, 1, t(1), "click"), (3, 1, t(2), "purchase"),
            (4, 2, t(0), "purchase"),                      # no prior -> none
            (5, 3, t(0), "view"), (6, 3, t(1), "purchase"),
            (7, 3, t(2), "purchase"),  # back-to-back: still credits view
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    got = {r.channel: (r.n_purchases, r.share) for r in last_touch_attribution(df).collect()}
    assert got == {
        "click": (1, 0.25),
        "none": (1, 0.25),
        "view": (2, 0.5),
    }


def test_first_touch_attribution_planted(spark):
    """First vs last touch disagree exactly when the journey starts and
    ends on different channels."""
    import datetime as dt

    from docling_nlp_api_spark.operators.analytics import (
        first_touch_attribution,
        last_touch_attribution,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    df = spark.createDataFrame(
        [(1, 1, t(0), "view"), (2, 1, t(1), "click"), (3, 1, t(2), "purchase")],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    first = {r.channel for r in first_touch_attribution(df).collect()}
    last = {r.channel for r in last_touch_attribution(df).collect()}
    assert first == {"view"} and last == {"click"}


def test_embedding_neardup_bucket_cap(spark, sf_dir):
    """Round-4 sf10 finding: label-clustered embeddings collapse every
    hyperplane bucket, making the candidate join quadratic (the 100x dry
    run's one never-finishing query). The max_bucket split must (a) be
    inert at oracle scale — identical pairs with and without the cap —
    and (b) under a FORCED tiny cap still co-bucket true near-dups: every
    planted scaled duplicate (same direction -> identical sign bits AND
    identical quantized direction, so neither split tier can part the
    pair) survives."""
    from docling_nlp_api_spark.operators.dedup import (
        PLANT_OFFSET,
        VEC_PLANT_EVERY,
        embedding_near_dup,
    )

    sf = sf_dir
    default = sorted(map(tuple, embedding_near_dup(spark, sf).collect()))
    uncapped = sorted(
        map(tuple, embedding_near_dup(spark, sf, max_bucket=10**9).collect())
    )
    assert default == uncapped and len(default) > 0

    capped = embedding_near_dup(spark, sf, max_bucket=8)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    n_vecs = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    planted = {(v, v + PLANT_OFFSET) for v in range(0, n_vecs, VEC_PLANT_EVERY)}
    assert planted <= got


def test_embedding_neardup_cap_preserves_perturbed_pairs(spark, tmp_path):
    """The oversized-bucket split keys sub-buckets by extra LSH sign
    bits, so NEAR-identical pairs — not only exact scaled copies — must
    survive a forced cap: a pair at angle theta is separated only when a
    salt plane falls between the two directions (prob ~ bits*theta/pi).
    The old quantized-direction hash salt kept only ~1/nsplit of such
    pairs (a 3rd-decimal unit-coordinate difference rerolls the hash).
    Fixture: 120 diffuse same-label base vectors + a tiny-perturbation
    copy of each (pairwise cosine ~0.9998), forced through max_bucket=16.
    Deterministic: fixed numpy seed + the deterministic plane family."""
    import numpy as np

    from docling_nlp_api_spark.operators.dedup import embedding_near_dup

    rng = np.random.RandomState(42)
    base = rng.normal(size=(120, 64))
    pert = base + 0.02 * rng.normal(size=base.shape)
    rows = [
        (i, [float(x) for x in base[i]], 0) for i in range(len(base))
    ] + [
        (1000 + i, [float(x) for x in pert[i]], 0) for i in range(len(pert))
    ]
    d = str(tmp_path / "sf_pert")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")

    uncapped = embedding_near_dup(spark, d, max_bucket=10**9)
    want = {
        (r.id_a, r.id_b)
        for r in uncapped.collect()
        if r.id_b == r.id_a + 1000  # the planted perturbed pairs
    }
    assert len(want) >= 100  # LSH banding catches nearly all of them

    capped = embedding_near_dup(spark, d, max_bucket=16)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.9, f"perturbed-pair recall under forced cap: {recall}"


def test_embedding_clusters_delegate_reconnect_tight_cluster(spark, tmp_path):
    """An angularly TIGHT cluster larger than max_bucket defeats the
    sign-bit split (every member on the same side of every salt plane),
    so the residual direction-hash split parts it — by any bounded
    scheme, pair recall inside such a cluster is ~1/nsplit. The
    RESOLUTION contract must still unify it: one delegate per sub-bucket
    is cross-scored (rsplit^2 tiny join) and in a tight cluster the
    delegates are themselves near pairs, so the components re-merge.
    Asserts a single canonical for the whole cluster under a forced cap."""
    import numpy as np

    from docling_nlp_api_spark.operators.dedup import embedding_dup_clusters

    rng = np.random.RandomState(7)
    center = rng.normal(size=64)
    vecs = center + 0.001 * rng.normal(size=(100, 64))  # pairwise cos ~1
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(len(vecs))]
    d = str(tmp_path / "sf_tight")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")

    rows_out = embedding_dup_clusters(spark, d, max_bucket=8).collect()
    members = {r[0] for r in rows_out}
    canons = {r[1] for r in rows_out}
    # every vector (incl. the with_planted_vec_dups copies) in ONE component
    assert {i for i in range(100)} <= members
    assert canons == {0}, f"cluster fragmented into canonicals {canons}"


def test_neardup_salt_window_depth():
    """Each band's disjoint salt window must keep the FULL 12-bit split
    depth: buckets up to 4096*max_bucket split by locality-preserving
    sign bits before the lossy direction-hash residual engages. The
    round-4 review caught a silent regression to 6 bits/band when
    band-disjoint windowing was first introduced over a 12-plane code;
    windowing now widens the code instead of narrowing the window."""
    from docling_nlp_api_spark.operators.dedup import (
        N_SALT_PLANES,
        NEAR_DUP_BANDS,
    )

    assert N_SALT_PLANES // NEAR_DUP_BANDS >= 12


def test_embedding_identical_direction_group_stays_bounded(spark, tmp_path):
    """N IDENTICAL-direction vectors defeat both locality-preserving
    split levels: they share every salt-plane sign bit AND the same
    quantized unit direction, so before the third (row-uniform tsalt)
    level the whole group landed in ONE join/kernel group regardless of
    the cap — the exact quadratic/OOM profile max_bucket exists to
    prevent, on the canonical dedup input (millions of byte-identical
    boilerplate docs). Asserts (a) the staging bound actually holds for
    such a group under a forced cap, and (b) the resolution contract
    still unifies it into one component via the (salt, tsalt)-ordered
    delegate chain."""
    import numpy as np

    from docling_nlp_api_spark.operators.dedup import (
        _near_dup_candidates,
        embedding_dup_clusters,
    )

    rng = np.random.RandomState(11)
    v = [float(x) for x in rng.normal(size=64)]
    rows = [(i, v, 0) for i in range(60)]  # 60 copies of ONE direction
    d = str(tmp_path / "sf_ident")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")

    cap = 8
    sizes = (
        _near_dup_candidates(spark, d, max_bucket=cap)
        .groupBy("label", "band", "bucket", "salt", "tsalt")
        .count()
        .agg(F.max("count").alias("mx"), F.count("*").alias("groups"))
        .first()
    )
    # row-uniform hash split: group sizes fluctuate around cap, but the
    # pre-fix failure mode was ONE group of all 60+ rows
    assert sizes["groups"] >= 4, f"identical-direction group never split: {sizes}"
    assert sizes["mx"] <= 3 * cap, f"bound violated: largest group {sizes['mx']}"

    rows_out = embedding_dup_clusters(spark, d, max_bucket=cap).collect()
    members = {r[0] for r in rows_out}
    canons = {r[1] for r in rows_out}
    assert {i for i in range(60)} <= members
    assert canons == {0}, f"identical-direction cluster fragmented: {canons}"


def test_undecodable_image_degrades_to_null_not_job_failure(spark):
    """One JPEG (or truncated) payload in an image batch must cost one
    NULL row, not the task: decode_png only handles the engine's PNG
    profile, while real-world media tables carry JPEGs — which the DIMS
    sniffer reads via the SOF walk. Pre-fix, resize_images and
    extract_media_metadata(with_features=True) let decode_png's
    ValueError propagate out of mapInPandas and abort the whole job
    (round-4 review finding). Asserts decodable rows keep real values,
    the JPEG row keeps sniffer dims with NULL pixel fields, and a
    truncated payload yields all-NULL."""
    import struct

    from docling_nlp_api_spark.operators.multimodal import (
        extract_media_metadata,
        png_bytes,
        resize_images,
    )

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    jpg = (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xC0, b"\x08" + struct.pack(">HH", 480, 640) + b"\x03" + bytes(9))
    )
    rows = [
        (1, "image", bytearray(png_bytes(16, 8, 3))),
        (2, "image", bytearray(jpg)),
        (3, "image", bytearray(b"\x00garbage")),
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, media_type string, payload binary"
    )

    rz = {r["doc_id"]: r for r in resize_images(media, target_w=8).collect()}
    assert rz[1]["out_width"] == 8 and rz[1]["thumbnail"] is not None
    assert (rz[2]["width"], rz[2]["height"]) == (640, 480)  # SOF dims survive
    assert rz[2]["thumbnail"] is None and rz[2]["out_bytes"] is None
    assert rz[3]["width"] is None and rz[3]["thumbnail"] is None

    meta = {
        r["doc_id"]: r
        for r in extract_media_metadata(
            media, with_features=True, decode_pixels=True
        ).collect()
    }
    assert meta[1]["mean_pixel"] is not None and meta[1]["feature"] is not None
    assert (meta[2]["width"], meta[2]["height"]) == (640, 480)
    assert meta[2]["mean_pixel"] is None and meta[2]["feature"] is None
    assert meta[3]["mean_pixel"] is None and meta[3]["feature"] is None


def test_corrupt_media_degrades_to_null_rows(spark):
    """The row-local degradation contract under ADVERSARIAL payloads — the
    classes that raise non-ValueError exceptions a narrow handler would
    miss: truncated IDAT (zlib.error), short IHDR (struct.error),
    out-of-spec 2^31 dims (Int32 overflow), NULL payloads (TypeError on
    len), and corrupt moov (video row vanishing). One bad row must cost
    one NULL-field row, never the task."""
    import struct
    import zlib

    from docling_nlp_api_spark.operators.multimodal import (
        PNG_SIG,
        extract_media_metadata,
        png_bytes,
        resize_images,
        sample_video_frames,
        try_decode_png,
    )

    good = png_bytes(16, 8, 5)
    idat_at = good.index(b"IDAT")
    # valid signature + IHDR, IDAT body chopped mid-stream -> zlib.error
    trunc_idat = good[: idat_at + 10]
    # IHDR declaring 13 bytes but carrying 4 -> struct.error
    short_ihdr = PNG_SIG + b"\x00\x00\x00\rIHDR" + b"\x00\x00\x00\x10"
    # dims >= 2^31: must not overflow the Int32 output column
    big_dims = (
        PNG_SIG + b"\x00\x00\x00\rIHDR"
        + struct.pack(">II", 1 << 31, 4) + b"\x08\x00\x00\x00\x00"
    )
    assert try_decode_png(trunc_idat) is None
    assert try_decode_png(short_ihdr) is None
    assert try_decode_png(big_dims) is None
    assert try_decode_png(good) is not None

    rows = [
        (0, "image", good),
        (1, "image", trunc_idat),
        (2, "image", short_ihdr),
        (3, "image", big_dims),
        (4, "image", None),
        (5, "audio", None),
        (6, "video", b"\x00\x00\x00\x08free"),  # no moov/mvhd
        (7, "video", None),
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, media_type string, payload binary"
    )
    meta = {r["doc_id"]: r for r in
            extract_media_metadata(media, decode_pixels=True).collect()}
    assert len(meta) == len(rows)  # nothing vanished, nothing crashed
    assert meta[0]["width"] == 16 and meta[0]["mean_pixel"] is not None
    # headers parse, pixels don't -> dims real, mean NULL
    assert meta[1]["width"] == 16 and meta[1]["mean_pixel"] is None
    for d in (2, 3, 4):
        assert meta[d]["width"] is None and meta[d]["mean_pixel"] is None
    assert meta[4]["n_bytes"] == 0
    assert meta[5]["duration_ms"] is None
    assert meta[6]["duration_ms"] is None and meta[7]["duration_ms"] is None

    rz = {r["doc_id"]: r for r in resize_images(media).collect()}
    assert len(rz) == 5  # every image row survives as a row
    assert rz[0]["out_width"] == 16 and rz[0]["thumb_mean"] is not None
    for d in (1, 2, 3, 4):
        assert rz[d]["out_width"] is None and rz[d]["thumbnail"] is None
    assert rz[1]["width"] == 16  # sniffed dims still reported

    fr = {r["doc_id"]: r for r in sample_video_frames(media).collect()}
    # unparseable videos stay visible as ONE NULL-frame row each
    assert set(fr) == {6, 7}
    assert fr[6]["frame_idx"] is None and fr[7]["ts_ms"] is None


def test_jpeg_sof_at_exact_buffer_end():
    """A truncated JPEG whose SOF dims END exactly at the last byte is
    still recoverable (the <= loop bound; a strict < dropped it)."""
    import struct

    from docling_nlp_api_spark.operators.multimodal import sniff_jpeg_dims

    sof = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 480, 640)
    assert sniff_jpeg_dims(b"\xff\xd8" + sof) == (640, 480)
