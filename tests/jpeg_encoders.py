"""Test-only JPEG encoders: the color, progressive gray and progressive
color counterparts of `multimodal.decode_jpeg`'s color and progressive
paths. Production code only encodes the grayscale baseline fixture
(`multimodal.encode_jpeg_gray`, used by `jpeg_bytes`), so these live
with the tests that drive the decoder through them. All of them share
the baseline encoder's all-ones quantization and minimal Huffman tables.
"""

from __future__ import annotations

import struct

import numpy as np

from docling_nlp_api_spark.operators.multimodal import (
    _DCT_A,
    _JPG_AC_BITS,
    _JPG_AC_VALS,
    _JPG_DC_BITS,
    _JPG_DC_VALS,
    _ZIGZAG,
    _BitWriter,
    _canonical_codes,
    _dc_category,
    _emit_block,
    _jpeg_headers,
    _pad_plane,
)


def encode_jpeg_color(
    y: np.ndarray,
    cb: np.ndarray,
    cr: np.ndarray,
    sampling: tuple[int, int] = (1, 1),
    restart_interval: int = 0,
) -> bytes:
    """Baseline 3-component YCbCr encoder (test/fixture counterpart of
    the color decode path): full-res Y plus chroma planes already
    subsampled by `sampling` = (sh, sv) — (1,1) = 4:4:4, (2,1) = 4:2:2,
    (2,2) = 4:2:0. Interleaved MCU order (per MCU: sh*sv Y blocks, one
    Cb, one Cr), all components on the same all-ones quantization and
    minimal Huffman tables; restart markers per the MCU interval."""
    h, w = y.shape
    sh, sv = sampling
    ch, cw = (h + sv - 1) // sv, (w + sh - 1) // sh
    if cb.shape != (ch, cw) or cr.shape != (ch, cw):
        raise ValueError(f"encode_jpeg_color: chroma planes must be {(ch, cw)}")
    mcux = (w + 8 * sh - 1) // (8 * sh)
    mcuy = (h + 8 * sv - 1) // (8 * sv)
    planes = [
        (_pad_plane(y, mcuy * sv, mcux * sh), sh, sv),
        (_pad_plane(cb, mcuy, mcux), 1, 1),
        (_pad_plane(cr, mcuy, mcux), 1, 1),
    ]
    dc_codes = _canonical_codes(_JPG_DC_BITS, _JPG_DC_VALS)
    ac_codes = _canonical_codes(_JPG_AC_BITS, _JPG_AC_VALS)

    bw = _BitWriter()
    segments = []
    preds = [0, 0, 0]
    rst = 0
    for mcu in range(mcuy * mcux):
        if restart_interval and mcu and mcu % restart_interval == 0:
            segments.append(bw.flush())
            segments.append(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) % 8
            bw = _BitWriter()
            preds = [0, 0, 0]
        myi, mxi = divmod(mcu, mcux)
        for ci, (padded, ph, pv) in enumerate(planes):
            for by in range(pv):
                for bx in range(ph):
                    preds[ci] = _emit_block(
                        bw, padded, myi * pv + by, mxi * ph + bx, preds[ci],
                        dc_codes, ac_codes,
                    )
    segments.append(bw.flush())
    return (
        _jpeg_headers(h, w, [(sh, sv), (1, 1), (1, 1)], restart_interval)
        + b"".join(segments)
        + b"\xff\xd9"
    )


def _ac_trunc(v: int, a: int) -> int:
    """AC successive-approximation point transform: divide by 2^a
    truncating TOWARD ZERO (T.81 §G.1.2.2 — unlike DC's arithmetic
    shift)."""
    return -((-v) >> a) if v < 0 else v >> a


def _emit_ac_first_scan(
    zzs: list, ss: int, se: int, a: int, ac_codes, restart_interval: int = 0
) -> bytes:
    """Progressive AC first scan (Ah=0) over zz blocks in scan order:
    run-length coding of the point-transformed band with EOB-run
    accumulation across blocks (flushed at restart boundaries — EOB
    runs cannot cross a restart interval)."""
    bw = _BitWriter()
    segments: list[bytes] = []
    rst = 0
    eobrun = 0

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            code, ln = ac_codes[r << 4]
            bw.put(code, ln)
            if r:
                bw.put(eobrun & ((1 << r) - 1), r)
        eobrun = 0

    for bi, zz in enumerate(zzs):
        if restart_interval and bi and bi % restart_interval == 0:
            flush_eob()
            segments.append(bw.flush())
            segments.append(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) % 8
            bw = _BitWriter()
        vals = [_ac_trunc(zz[k], a) for k in range(ss, se + 1)]
        nz = [i for i, v in enumerate(vals) if v]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        run = 0
        for i in range(nz[-1] + 1):
            v = vals[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]
                bw.put(code, ln)
                run -= 16
            s = _dc_category(v)
            code, ln = ac_codes[(run << 4) | s]
            bw.put(code, ln)
            bw.put(v if v >= 0 else v - 1 + (1 << s), s)
            run = 0
        if nz[-1] + 1 < len(vals):  # zero tail: this block starts an EOB run
            eobrun += 1
    flush_eob()
    segments.append(bw.flush())
    return b"".join(segments)


def _emit_ac_refine_scan(
    zzs: list, ss: int, se: int, a: int, ac_codes, restart_interval: int = 0
) -> bytes:
    """Progressive AC refinement scan (Ah=a+1 -> Al=a) — T.81 §G.1.2.3:
    newly-significant coefficients emit (run, 1)+sign with correction
    bits for passed nonzero-history positions riding immediately after;
    EOB runs buffer the covered blocks' correction bits and flush them
    with the EOBn symbol."""
    bw = _BitWriter()
    segments: list[bytes] = []
    rst = 0
    eobrun = 0
    pend: list[int] = []

    def hist(v: int) -> int:
        return abs(v) >> (a + 1)

    def corrbit(v: int) -> int:
        return (abs(v) >> a) & 1

    def flush_eob() -> None:
        nonlocal eobrun, pend
        if eobrun:
            r = eobrun.bit_length() - 1
            code, ln = ac_codes[r << 4]
            bw.put(code, ln)
            if r:
                bw.put(eobrun & ((1 << r) - 1), r)
            for bit in pend:
                bw.put(bit, 1)
        eobrun = 0
        pend = []

    for bi, zz in enumerate(zzs):
        if restart_interval and bi and bi % restart_interval == 0:
            flush_eob()
            segments.append(bw.flush())
            segments.append(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) % 8
            bw = _BitWriter()
        band = range(ss, se + 1)
        newly = [k for k in band if hist(zz[k]) == 0 and (abs(zz[k]) >> a) == 1]
        if not newly:
            eobrun += 1
            pend += [corrbit(zz[k]) for k in band if hist(zz[k])]
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        pos = ss
        for t in newly:
            while True:
                zeros = [p for p in range(pos, t) if hist(zz[p]) == 0]
                if len(zeros) > 15:
                    code, ln = ac_codes[0xF0]  # ZRL: 16 zero-history skips
                    bw.put(code, ln)
                    consumed, p = 0, pos
                    while consumed < 16:
                        if hist(zz[p]):
                            bw.put(corrbit(zz[p]), 1)
                        else:
                            consumed += 1
                        p += 1
                    pos = p
                    continue
                code, ln = ac_codes[(len(zeros) << 4) | 1]
                bw.put(code, ln)
                bw.put(1 if zz[t] > 0 else 0, 1)  # sign of the new coefficient
                for p in range(pos, t):
                    if hist(zz[p]):
                        bw.put(corrbit(zz[p]), 1)
                pos = t + 1
                break
        if pos <= se:  # correction-only tail folds into the next EOB run
            eobrun += 1
            pend += [corrbit(zz[p]) for p in range(pos, se + 1) if hist(zz[p])]
    flush_eob()
    segments.append(bw.flush())
    return b"".join(segments)


def encode_jpeg_gray_progressive(
    px: np.ndarray,
    ac_bands: tuple = ((1, 5), (6, 63)),
    al: int = 1,
    restart_interval: int = 0,
) -> bytes:
    """Progressive (SOF2) grayscale encoder — the test counterpart of
    decode_jpeg's progressive path, emitting the classic scan script:
    DC first at successive-approximation Al=`al`, DC refinement down to
    0, then per spectral band an AC first scan at Al=`al` followed by
    its refinement scan (Ah=Al+1 -> Al), with EOB-run coding and the
    T.81 §G.1.2.3 correction-bit ordering (bits ride immediately after
    the symbol whose traversal passes their position; EOB-run bits are
    buffered and flushed with the EOBn symbol). All-ones quantization,
    same minimal Huffman tables as the sequential encoder."""
    h, w = px.shape
    if not (1 <= h <= 65535 and 1 <= w <= 65535):
        raise ValueError("encode_jpeg_gray_progressive: dims out of range")
    h8, w8 = (h + 7) // 8, (w + 7) // 8
    padded = _pad_plane(px, h8, w8)
    zzs = []
    for by in range(h8):
        for bx in range(w8):
            block = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            q = np.rint(_DCT_A @ block @ _DCT_A.T).astype(np.int64)
            zzs.append([int(q[r, c]) for r, c in _ZIGZAG])
    dc_codes = _canonical_codes(_JPG_DC_BITS, _JPG_DC_VALS)
    ac_codes = _canonical_codes(_JPG_AC_BITS, _JPG_AC_VALS)

    def emit_dc_first(a: int) -> bytes:
        bw = _BitWriter()
        segments: list[bytes] = []
        rst = 0
        pred = 0
        for bi, zz in enumerate(zzs):
            if restart_interval and bi and bi % restart_interval == 0:
                segments.append(bw.flush())
                segments.append(bytes([0xFF, 0xD0 + rst]))
                rst = (rst + 1) % 8
                bw = _BitWriter()
                pred = 0
            v = zz[0] >> a  # DC point transform is an ARITHMETIC shift
            diff = v - pred
            pred = v
            s = _dc_category(diff)
            code, ln = dc_codes[s]
            bw.put(code, ln)
            if s:
                bw.put(diff if diff >= 0 else diff - 1 + (1 << s), s)
        segments.append(bw.flush())
        return b"".join(segments)

    def emit_dc_refine(a: int) -> bytes:
        bw = _BitWriter()
        segments: list[bytes] = []
        rst = 0
        for bi, zz in enumerate(zzs):
            if restart_interval and bi and bi % restart_interval == 0:
                segments.append(bw.flush())
                segments.append(bytes([0xFF, 0xD0 + rst]))
                rst = (rst + 1) % 8
                bw = _BitWriter()
            bw.put((zz[0] >> a) & 1, 1)
        segments.append(bw.flush())
        return b"".join(segments)


    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def sos(ss: int, se: int, ah: int, a: int) -> bytes:
        return seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | a]))

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + bytes(64 * [1]))
    out += seg(0xC2, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += seg(
        0xC4,
        b"\x00" + bytes(_JPG_DC_BITS) + bytes(_JPG_DC_VALS)
        + b"\x10" + bytes(_JPG_AC_BITS) + bytes(_JPG_AC_VALS),
    )
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += sos(0, 0, 0, al) + emit_dc_first(al)
    for a in range(al - 1, -1, -1):
        out += sos(0, 0, a + 1, a) + emit_dc_refine(a)
    for ss, se in ac_bands:
        out += sos(ss, se, 0, al) + _emit_ac_first_scan(
            zzs, ss, se, al, ac_codes, restart_interval
        )
    for a in range(al - 1, -1, -1):
        for ss, se in ac_bands:
            out += sos(ss, se, a + 1, a) + _emit_ac_refine_scan(
                zzs, ss, se, a, ac_codes, restart_interval
            )
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_color_progressive(
    y: np.ndarray,
    cb: np.ndarray,
    cr: np.ndarray,
    sampling: tuple[int, int] = (1, 1),
    ac_bands: tuple = ((1, 5), (6, 63)),
    al: int = 1,
) -> bytes:
    """Progressive 3-component YCbCr encoder: one INTERLEAVED DC first
    scan (MCU order, per-component predictors) + DC refinements, then
    per-COMPONENT AC band scans (progressive AC scans are
    non-interleaved by spec, walking the component's TRUE block grid —
    interleaved-padding blocks carry DC only, exactly what a real
    progressive stream does). Inputs as encode_jpeg_color: full-res Y,
    chroma planes pre-subsampled by `sampling`."""
    h, w = y.shape
    sh, sv = sampling
    ch, cw = (h + sv - 1) // sv, (w + sh - 1) // sh
    if cb.shape != (ch, cw) or cr.shape != (ch, cw):
        raise ValueError(f"encode_jpeg_color_progressive: chroma planes must be {(ch, cw)}")
    mcux = (w + 8 * sh - 1) // (8 * sh)
    mcuy = (h + 8 * sv - 1) // (8 * sv)
    dc_codes = _canonical_codes(_JPG_DC_BITS, _JPG_DC_VALS)
    ac_codes = _canonical_codes(_JPG_AC_BITS, _JPG_AC_VALS)

    def zz_grid(plane: np.ndarray, bh: int, bw_: int) -> list:
        padded = _pad_plane(plane, bh, bw_)
        grid = []
        for by in range(bh):
            for bx in range(bw_):
                block = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                q = np.rint(_DCT_A @ block @ _DCT_A.T).astype(np.int64)
                grid.append([int(q[r, c]) for r, c in _ZIGZAG])
        return grid

    comps = [
        {
            "zz": zz_grid(y, mcuy * sv, mcux * sh), "h": sh, "v": sv,
            "bw": mcux * sh,
            "nbx": (w * sh + 8 * sh - 1) // (8 * sh), "nby": (h * sv + 8 * sv - 1) // (8 * sv),
        },
        {
            "zz": zz_grid(cb, mcuy, mcux), "h": 1, "v": 1, "bw": mcux,
            "nbx": (cw + 7) // 8, "nby": (ch + 7) // 8,
        },
        {
            "zz": zz_grid(cr, mcuy, mcux), "h": 1, "v": 1, "bw": mcux,
            "nbx": (cw + 7) // 8, "nby": (ch + 7) // 8,
        },
    ]
    # Y's true block dims against max sampling: component width in
    # samples is ceil(w * h_c / max_h) = w (Y IS the max), so nbx/nby
    # reduce to ceil(w/8), ceil(h/8)
    comps[0]["nbx"] = (w + 7) // 8
    comps[0]["nby"] = (h + 7) // 8

    def mcu_blocks():
        for mcu in range(mcuy * mcux):
            myi, mxi = divmod(mcu, mcux)
            for c in comps:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        yield c, (myi * c["v"] + by) * c["bw"] + (mxi * c["h"] + bx)

    def emit_dc_first(a: int) -> bytes:
        bw = _BitWriter()
        preds = {id(c): 0 for c in comps}
        for c, n in mcu_blocks():
            v = c["zz"][n][0] >> a  # DC point transform: arithmetic shift
            diff = v - preds[id(c)]
            preds[id(c)] = v
            s = _dc_category(diff)
            code, ln = dc_codes[s]
            bw.put(code, ln)
            if s:
                bw.put(diff if diff >= 0 else diff - 1 + (1 << s), s)
        return bw.flush()

    def emit_dc_refine(a: int) -> bytes:
        bw = _BitWriter()
        for c, n in mcu_blocks():
            bw.put((c["zz"][n][0] >> a) & 1, 1)
        return bw.flush()

    def comp_scan_order(c: dict) -> list:
        return [c["zz"][by * c["bw"] + bx] for by in range(c["nby"]) for bx in range(c["nbx"])]

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def sos_hdr(comp_ids: list[int], ss: int, se: int, ah: int, a: int) -> bytes:
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid, 0x00])
        return seg(0xDA, body + bytes([ss, se, (ah << 4) | a]))

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + bytes(64 * [1]))
    out += seg(
        0xC2,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, (sh << 4) | sv, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    out += seg(
        0xC4,
        b"\x00" + bytes(_JPG_DC_BITS) + bytes(_JPG_DC_VALS)
        + b"\x10" + bytes(_JPG_AC_BITS) + bytes(_JPG_AC_VALS),
    )
    out += sos_hdr([1, 2, 3], 0, 0, 0, al) + emit_dc_first(al)
    for a in range(al - 1, -1, -1):
        out += sos_hdr([1, 2, 3], 0, 0, a + 1, a) + emit_dc_refine(a)
    for ci, c in enumerate(comps):
        order = comp_scan_order(c)
        for ss, se in ac_bands:
            out += sos_hdr([ci + 1], ss, se, 0, al) + _emit_ac_first_scan(
                order, ss, se, al, ac_codes
            )
    for a in range(al - 1, -1, -1):
        for ci, c in enumerate(comps):
            order = comp_scan_order(c)
            for ss, se in ac_bands:
                out += sos_hdr([ci + 1], ss, se, a + 1, a) + _emit_ac_refine_scan(
                    order, ss, se, a, ac_codes
                )
    out += b"\xff\xd9"
    return bytes(out)
