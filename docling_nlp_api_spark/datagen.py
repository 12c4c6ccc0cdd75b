"""Deterministic `documents_spans` fixture generator (FIXTURES.md §1).

Pure function of (seed, doc number): every doc is generated independently
via an md5-derived numpy RandomState, so generation is stable across
processes and parallelizes embarrassingly (Spark mapInPandas over a range).

Tiers (FIXTURES.md §2): sf0.001 -> 500 docs, sf0.01 -> 5,000, sf0.1 ->
50,000 (incl. ~50 mega-docs: doc number ≡ 0 mod 997 gets 10k-50k spans).
"""

from __future__ import annotations

import hashlib
from pathlib import Path
from typing import Iterator

import numpy as np

from .spec import MEDIA_KINDS  # noqa: F401  (vocabulary sanity)

SEED = 42
# sf0.5 is the scaling-bench tier: large enough that per-trial compute
# dominates fixed job overhead at 32 cores (Amdahl-honest measurement).
# sf5/sf10 are the round-4 100x stress tiers (BENCH/extract_sf*.json):
# 100x the sf0.1 headline corpus, ~5k mega-docs, ~420M spans at sf10.
TIER_DOCS = {
    "sf0.001": 500, "sf0.01": 5000, "sf0.1": 50000, "sf0.5": 250000,
    "sf5": 2500000, "sf10": 5000000,
}
MEGA_MOD = 997


def _vocab(n: int = 512) -> list[str]:
    """Deterministic 512-word pseudo-English vocabulary."""
    rs = np.random.RandomState(SEED)
    onsets = ["b", "br", "c", "ch", "d", "dr", "f", "fl", "g", "gr", "h", "j",
              "k", "l", "m", "n", "p", "pl", "pr", "qu", "r", "s", "sh", "sl",
              "st", "t", "th", "tr", "v", "w"]
    nucs = ["a", "e", "i", "o", "u", "ai", "ea", "ee", "io", "ou"]
    codas = ["", "b", "ck", "d", "g", "l", "m", "n", "nd", "ng", "nt", "p",
             "r", "rd", "s", "st", "t", "th", "x"]
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        nsyl = 1 + int(rs.randint(0, 3))
        w = "".join(
            onsets[rs.randint(0, len(onsets))]
            + nucs[rs.randint(0, len(nucs))]
            + (codas[rs.randint(0, len(codas))] if s == nsyl - 1 else "")
            for s in range(nsyl)
        )
        if 3 <= len(w) <= 14 and w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = _vocab()


def _rs_for(num: int, salt: str = "") -> np.random.RandomState:
    h = hashlib.md5(f"{SEED}:{num}:{salt}".encode()).digest()
    return np.random.RandomState(int.from_bytes(h[:4], "little"))


def doc_id_of(num: int) -> str:
    return f"d{num:09d}"


def _sentence(rs: np.random.RandomState, lo: int = 3, hi: int = 18) -> str:
    k = int(rs.randint(lo, hi + 1))
    idx = rs.randint(0, len(VOCAB), size=k)
    term = ".!?"[rs.randint(0, 3)]
    return " ".join(VOCAB[i] for i in idx) + term


def _text(rs: np.random.RandomState, min_words: int, max_words: int, para_breaks: bool = False) -> str:
    target = int(rs.randint(min_words, max_words + 1))
    parts: list[str] = []
    total = 0
    while total < target:
        s = _sentence(rs)
        total += s.count(" ") + 1
        if para_breaks and parts and rs.rand() < 0.15:
            parts.append("\n\n" + s)
        else:
            parts.append((" " if parts else "") + s)
    return "".join(parts)


def _short(rs: np.random.RandomState, lo: int, hi: int) -> str:
    k = int(rs.randint(lo, hi + 1))
    idx = rs.randint(0, len(VOCAB), size=k)
    return " ".join(VOCAB[i] for i in idx)


PAGE_X0, PAGE_X1 = 72.0, 540.0        # letter-size text column
PAGE_TOP, LINE_H = 756.0, 44.0        # first baseline top, block height
SLOTS_PER_PAGE = 12                   # matches _gen_pdf's pageno cadence


def _pdf_bbox(i: int) -> list[float]:
    """Deterministic layout bbox [x0, y0, x1, y1] for PDF span i: blocks
    stack top-down in a single column, 12 slots per page. Mirrors what a
    layout parser supplies per text block (docling_service.py:276
    `text_elem.get('bbox', [])`); values are exact binary floats so the
    Spark and single-node JSON renders agree bit-for-bit."""
    slot = i % SLOTS_PER_PAGE
    y1 = PAGE_TOP - slot * LINE_H
    return [PAGE_X0, y1 - LINE_H, PAGE_X1, y1]


def gen_doc(num: int) -> tuple[str, list[dict]]:
    """Generate one document. Returns (doc_id, spans list in STORED order).

    Spans are dicts {kind,text,media_ref,offset,bbox}; offset is source
    order. bbox is a layout box for PDF-flavor text spans (the flavor
    whose parser yields geometry) and None elsewhere — mirroring docling,
    where only layout-parsed documents carry per-element bboxes.
    20% of docs store the array shuffled (offset stays the true key).
    """
    did = doc_id_of(num)
    bucket = int.from_bytes(hashlib.md5(f"{SEED}:{num}:flavor".encode()).digest()[:4], "little") % 100
    rs = _rs_for(num, "body")
    if num % MEGA_MOD == 0 and num > 0:
        n = int(rs.randint(10000, 50001))
    else:
        n = int(np.exp(rs.uniform(np.log(5), np.log(200))))
        n = max(5, n)

    spans: list[tuple[str, str, str]] = []  # (kind, text, media_ref)
    if bucket < 60:
        _gen_html(rs, spans, n)
    elif bucket < 95:
        _gen_pdf(rs, spans, n)
    else:
        _gen_media_only(rs, spans)

    # sprinkle media into text docs: 0-5 spans at random positions
    if bucket < 95:
        n_media = int(rs.randint(0, 6))
        for _ in range(n_media):
            pos = int(rs.randint(0, len(spans) + 1))
            if rs.rand() < 0.5:
                spans.insert(pos, ("image", "", "@"))
            else:
                spans.insert(pos, ("table", _short(rs, 2, 6), "@"))

    is_pdf = 60 <= bucket < 95
    out = [
        {
            "kind": k,
            "text": t,
            "media_ref": (f"media://{did}/{i}" if m == "@" else ""),
            "offset": i,
            "bbox": (_pdf_bbox(i) if is_pdf and k not in ("image", "table") else None),
        }
        for i, (k, t, m) in enumerate(spans)
    ]
    # 20% stored shuffled (forces sort-by-offset)
    if int.from_bytes(hashlib.md5(f"{SEED}:{num}:shuf".encode()).digest()[:4], "little") % 100 < 20:
        perm = _rs_for(num, "perm").permutation(len(out))
        out = [out[i] for i in perm]
    return did, out


def _gen_html(rs: np.random.RandomState, spans: list, n: int) -> None:
    spans.append(("h1", _short(rs, 3, 6), ""))
    spans.append(("nav", _short(rs, 4, 8), ""))
    n_aside = int(rs.randint(0, 4))
    while len(spans) < n - 1 - n_aside:
        r = rs.rand()
        if r < 0.42:
            spans.append(("p", _text(rs, 15, 50, para_breaks=True), ""))
        elif r < 0.54:
            spans.append(("li", _text(rs, 8, 20), ""))
        elif r < 0.68:
            spans.append(("p", _short(rs, 2, 6), ""))  # short p: smoothing test
        elif r < 0.78:
            spans.append(("a", _short(rs, 1, 4), ""))
        elif r < 0.86:
            spans.append(("h2", _short(rs, 2, 5), ""))
        elif r < 0.92:
            spans.append(("h3", _short(rs, 2, 5), ""))
        else:
            spans.append(("caption", _short(rs, 3, 8), ""))
    for _ in range(n_aside):
        kind = "aside" if rs.rand() < 0.5 else "script"
        pos = int(rs.randint(1, len(spans) + 1))
        spans.insert(pos, (kind, _short(rs, 3, 10), ""))
    spans.append(("footer", _short(rs, 4, 10), ""))


def _gen_pdf(rs: np.random.RandomState, spans: list, n: int) -> None:
    runhead = "runhead " + VOCAB[rs.randint(0, len(VOCAB))]
    page = 1
    spans.append(("title", _short(rs, 3, 7), ""))
    body_since_hyphen = 0
    while len(spans) < n:
        pos_in_page = len(spans) % 12
        if pos_in_page == 0:
            spans.append(("runhead", runhead, ""))
            spans.append(("pageno", str(page), ""))
            page += 1
            continue
        r = rs.rand()
        if r < 0.12:
            spans.append(("heading", _short(rs, 2, 6), ""))
        elif r < 0.18:
            spans.append(("caption", _short(rs, 3, 8), ""))
        else:
            body_since_hyphen += 1
            if body_since_hyphen >= 25:
                body_since_hyphen = 0
                w = VOCAB[rs.randint(0, len(VOCAB))]
                cut = max(1, len(w) // 2)
                pre = _text(rs, 8, 20)
                post = _text(rs, 5, 15)
                spans.append(("body", pre + " " + w[:cut] + "-", ""))
                spans.append(("body", w[cut:] + " " + post, ""))
            else:
                spans.append(("body", _text(rs, 15, 50, para_breaks=True), ""))


def _gen_media_only(rs: np.random.RandomState, spans: list) -> None:
    k = int(rs.randint(1, 9))
    for _ in range(k):
        r = rs.rand()
        if r < 0.4:
            spans.append(("image", "", "@"))
        elif r < 0.8:
            spans.append(("table", _short(rs, 2, 6), "@"))
        else:
            spans.append(("caption", _short(rs, 3, 8), ""))


# ---------------------------------------------------------------------------
# Spark materializer

def spans_df(spark, n_docs: int, partitions: int | None = None, start: int = 0):
    """Distributed deterministic generation: mapInPandas over the doc
    range [start, start + n_docs) — `start` lets callers generate a LATER
    window without generating-and-discarding everything before it (the
    streaming drop-zone staging was O(chunks x total) before)."""
    from .schema import DOCUMENTS_SPANS_SCHEMA

    partitions = partitions or min(64, max(8, n_docs // 256))

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [gen_doc(int(num)) for num in pdf["id"]]
            yield pd.DataFrame(
                {"doc_id": [r[0] for r in rows], "spans": [r[1] for r in rows]}
            )

    return (
        spark.range(start, start + n_docs, 1, partitions)
        .mapInPandas(gen, schema=DOCUMENTS_SPANS_SCHEMA)
    )


# generated tiers live in the checkout this package is imported from
DATA_DIR = str(Path(__file__).resolve().parents[1] / ".data")


def ensure_spans_parquet(spark, tier: str, base_dir: str = DATA_DIR) -> str:
    """Materialize a tier to parquet once; reuse across runs. The path is
    versioned on fixture-schema changes (v2 = per-span bbox) so stale
    caches regenerate instead of being misread; pre-bbox caches are
    removed to keep .data bounded."""
    import os
    import shutil

    n = TIER_DOCS[tier]
    path = os.path.join(base_dir, f"spans_{tier}_v2")
    stale = os.path.join(base_dir, f"spans_{tier}")
    if os.path.exists(stale):
        shutil.rmtree(stale, ignore_errors=True)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        spans_df(spark, n).write.mode("overwrite").parquet(path)
    return path
