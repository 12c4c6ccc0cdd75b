"""Arrow-native extraction kernel (U1-U3) for `mapInArrow`.

The one engine implementation of SPEC.md; the independent per-document
reference is oracle/extract.py (`extract_doc`), which the pytest suite
compares this kernel against. Every span column stays an Arrow buffer end
to end, so no Python-string object is materialized per span at the
JVM->Python boundary (when spans crossed as pandas objects, that
materialization measured ~75% of end-to-end extraction wall time at
sf0.1):

- list offsets/value_lengths give the per-doc layout (no np.concatenate
  of object arrays),
- span kinds are dictionary-encoded once; every kind-set test becomes a
  small lookup table applied to integer codes (built by one loop over the
  <=20 distinct kinds),
- word counts are one exact, bit-packed pass over the UTF-8 data buffer
  for all of Python's whitespace (extract._count_words), with no per-row
  fallback,
- only integer lanes are sorted, by one int64 (doc, offset) key; string
  columns are copied once, by one `take` per output column,
- string rules read only the texts they can apply to: the PDF
  repeated-short rule dictionary-encodes only texts of <=
  REPEAT_MAX_WORDS words, the hyphen test runs only on body texts whose
  last byte can end an rstripped '-', and char_count uses byte lengths
  when the output text is ASCII,
- hyphen-merge groups are cut and joined with Arrow string kernels: no
  Python string is built per span.

Reference behavior anchors (derived, not copied): reference
app/services/docling_service.py:53-91 (failure rows), :253-279 (reading
order), :207-208 (media flags).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.pandas.types import from_arrow_schema

from ..spec import (
    ALL_KINDS,
    HTML_BOILER_KINDS,
    HTML_CANDIDATE_KINDS,
    HTML_CONTENT_KINDS,
    HTML_KINDS,
    MEDIA_KINDS,
    MIN_CONTENT_WORDS,
    PDF_BOILER_KINDS,
    PDF_KINDS,
    REPEAT_MAX_WORDS,
    REPEAT_MIN_COUNT,
)

_HTML, _PDF, _PLAIN, _FAILED = 0, 1, 2, 3

OUT_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("kinds", pa.list_(pa.string())),
        ("texts", pa.list_(pa.string())),
        ("media_refs", pa.list_(pa.string())),
        ("orders", pa.list_(pa.int32())),
        ("page_nos", pa.list_(pa.int32())),
        ("bboxes", pa.list_(pa.list_(pa.float64()))),
        ("status", pa.string()),
        ("error", pa.string()),
        ("word_count", pa.int64()),
        ("char_count", pa.int64()),
        ("page_count", pa.int64()),
        ("has_images", pa.bool_()),
        ("has_tables", pa.bool_()),
    ]
)

# the same output format as a Spark schema, for mapInArrow(schema=...)
OUT_SPARK_SCHEMA = from_arrow_schema(OUT_SCHEMA)

_BBOX_T = pa.list_(pa.float64())


def _kind_luts(dictionary: list[str]):
    """Per-distinct-kind classification lookup tables. The HTML prior
    sets are disjoint, so each kind gets exactly the label the oracle's
    `_classify_html` if/elif chain gives it."""
    m = len(dictionary)
    is_media = np.zeros(m, dtype=bool)
    is_html = np.zeros(m, dtype=bool)
    is_pdf = np.zeros(m, dtype=bool)
    is_known = np.zeros(m, dtype=bool)
    html_lab = np.full(m, -1, dtype=np.int8)  # -1 none, 0 boiler, 1 content, 2 cand, 3 media
    pdf_boiler = np.zeros(m, dtype=bool)
    is_body = np.zeros(m, dtype=bool)
    is_image = np.zeros(m, dtype=bool)
    is_table = np.zeros(m, dtype=bool)
    is_pageno = np.zeros(m, dtype=bool)
    for i, kind in enumerate(dictionary):
        is_media[i] = kind in MEDIA_KINDS
        is_html[i] = kind in HTML_KINDS
        is_pdf[i] = kind in PDF_KINDS
        is_known[i] = kind in ALL_KINDS
        if kind in MEDIA_KINDS:
            html_lab[i] = 3
        if kind in HTML_BOILER_KINDS:
            html_lab[i] = 0
        if kind in HTML_CONTENT_KINDS:
            html_lab[i] = 1
        if kind in HTML_CANDIDATE_KINDS:
            html_lab[i] = 2
        pdf_boiler[i] = kind in PDF_BOILER_KINDS
        is_body[i] = kind == "body"
        is_image[i] = kind == "image"
        is_table[i] = kind == "table"
        is_pageno[i] = kind == "pageno"
    return (
        is_media, is_html, is_pdf, is_known, html_lab, pdf_boiler,
        is_body, is_image, is_table, is_pageno,
    )


def _ends_hyphen(values: pa.Array) -> np.ndarray:
    """rstrip(text) ends with '-' and has length > 1 — hyphen-continuation
    test (SPEC §3.2), vectorized in Arrow for the PDF-body subset."""
    rt = pc.utf8_rtrim_whitespace(values)
    return pc.and_(
        pc.greater(pc.utf8_length(rt), 1), pc.ends_with(rt, pattern="-")
    ).to_numpy(zero_copy_only=False)


def _doc_order(d: np.ndarray, o: np.ndarray) -> np.ndarray:
    """Stable argsort by (doc, offset), as np.lexsort((o, d)) but on one
    int64 key: doc indices are < 2**31 and int32 offsets span < 2**32."""
    return np.argsort((d << 32) | (o - o.min()), kind="stable")


def utf8_buffers(values: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """A StringArray's len + 1 offsets (int64, rebased to 0) and the UTF-8
    bytes they span, read zero-copy from its buffers through its offset."""
    offs = np.frombuffer(values.buffers()[1], dtype=np.int32)[
        values.offset : values.offset + len(values) + 1
    ].astype(np.int64)
    data = np.frombuffer(values.buffers()[2], dtype=np.uint8)[offs[0] : offs[-1]]
    return offs - offs[0], data


def _last_bytes(values: pa.Array, pos: np.ndarray) -> np.ndarray:
    """Last UTF-8 byte of each string values[pos]; an empty or null string
    reads 0x00."""
    offs, data = utf8_buffers(values)
    if not len(data):
        return np.zeros(len(pos), dtype=np.uint8)
    ends = offs[pos + 1]
    return np.where(ends > offs[pos], data[np.maximum(ends - 1, 0)], 0)


def _char_lengths(values: pa.Array) -> np.ndarray:
    """Code points per string: the byte lengths when the text is all
    ASCII (one max() over its bytes), else utf8_length."""
    offs, data = utf8_buffers(values)
    if not len(data) or int(data.max()) < 0x80:
        return np.diff(offs)
    return np.asarray(pc.utf8_length(values), dtype=np.int64)


def _nearest_decided(lab: np.ndarray, decided: np.ndarray, d: np.ndarray):
    """prev_dec/next_dec: value of the nearest decided (0/1) label strictly
    before/after each row within the same doc, else 0 — the vectorized form
    of groupby(d).shift(1).ffill().fillna(0) / shift(-1).bfill()."""
    total = len(lab)
    pos = np.arange(total, dtype=np.int64)
    starts = np.empty(total, dtype=bool)
    starts[0] = True
    starts[1:] = d[1:] != d[:-1]
    doc_start = np.maximum.accumulate(np.where(starts, pos, -1))
    ends = np.empty(total, dtype=bool)
    ends[-1] = True
    ends[:-1] = d[1:] != d[:-1]
    doc_end = np.minimum.accumulate(np.where(ends, pos, total)[::-1])[::-1]

    ldp = np.maximum.accumulate(np.where(decided, pos, -1))
    prev_idx = np.empty(total, dtype=np.int64)
    prev_idx[0] = -1
    prev_idx[1:] = ldp[:-1]
    prev_ok = prev_idx >= doc_start
    prev_dec = np.where(prev_ok, lab[np.clip(prev_idx, 0, None)], 0)

    ndp = np.minimum.accumulate(np.where(decided, pos, total)[::-1])[::-1]
    next_idx = np.empty(total, dtype=np.int64)
    next_idx[-1] = total
    next_idx[:-1] = ndp[1:]
    next_ok = next_idx <= doc_end
    next_dec = np.where(next_ok, lab[np.clip(next_idx, None, total - 1)], 0)
    return prev_dec, next_dec


def extract_record_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    # looked up per call so the counter can be swapped at module level
    from .extract import _count_words

    n = batch.num_rows
    doc_id = batch.column(0)
    spans = batch.column(1)

    lens = np.asarray(spans.value_lengths().fill_null(0), dtype=np.int64)
    total = int(lens.sum())

    struct = spans.flatten()
    karr = struct.field("kind")
    tarr = struct.field("text")
    rarr = struct.field("media_ref")
    # Null sanitization: the streaming drop zone reads EXTERNAL parquet
    # with a user-supplied schema, and Spark does not enforce its
    # non-null flags on file sources — a producer-written null kind/text/
    # offset would otherwise turn into NaN->int64 garbage dictionary
    # indices (silent corruption) or an IndexError that kills the whole
    # micro-batch. A null kind becomes "unknown", which routes the DOC
    # through the normal failure semantics (flavor=_FAILED, one failure
    # row) — the same absorb-into-data contract as every other bad doc.
    if karr.null_count:
        karr = karr.fill_null("unknown")
    if tarr.null_count:
        tarr = tarr.fill_null("")
    off_arr = struct.field("offset")
    if off_arr.null_count:
        off_arr = off_arr.fill_null(0)
    try:  # optional layout geometry; inputs without it get all-null boxes
        barr = struct.field("bbox")
        if barr.type != _BBOX_T:
            barr = barr.cast(_BBOX_T)
    except KeyError:
        barr = pa.nulls(total, type=_BBOX_T)
    o = np.asarray(off_arr, dtype=np.int64)
    d = np.repeat(np.arange(n, dtype=np.int64), lens)

    # sort by (doc, offset) — stored order is untrusted, but usually
    # right. The STRING arrays are never physically sorted: only the int
    # lanes (d, o, codes, words) are gathered into sorted order, and every
    # string access composes through `orig` (sorted pos -> original pos).
    # This drops three full string copies per batch; string bytes are
    # copied exactly once, at the final kept-subset take.
    same_doc = d[1:] == d[:-1]
    if np.any(same_doc & (np.diff(o) <= 0)):
        orig = _doc_order(d, o)
        d, o = d[orig], o[orig]
    else:
        orig = None

    def _op(pos: np.ndarray) -> np.ndarray:
        """Map sorted-space positions to original string-array positions."""
        return orig[pos] if orig is not None else pos

    enc = karr.dictionary_encode()
    codes = np.asarray(enc.indices, dtype=np.int64)
    if orig is not None:
        codes = codes[orig]
    dictionary = enc.dictionary.to_pylist()
    (
        media_l, html_l, pdf_l, known_l, hlab_l, pboil_l, body_l, img_l, tab_l, pgn_l,
    ) = _kind_luts(dictionary)

    is_media = media_l[codes]
    is_known = known_l[codes]

    # ---- page derivation (A7/S8): 'pageno' marks a page START; a span's
    # page = max(1, inclusive count of pageno spans at-or-before it) in its
    # doc; page_count = number of pageno markers per doc
    is_pgn = pgn_l[codes]
    cp = np.cumsum(is_pgn)
    row_pos = np.arange(total, dtype=np.int64)
    first_of_doc = np.empty(total, dtype=bool)
    first_of_doc[:1] = True
    first_of_doc[1:] = d[1:] != d[:-1]
    doc_start_idx = np.maximum.accumulate(np.where(first_of_doc, row_pos, -1))
    pg = np.maximum(cp - (cp[doc_start_idx] - is_pgn[doc_start_idx]), 1).astype(np.int32)
    page_count = np.bincount(d[is_pgn], minlength=n).astype(np.int64)

    # ---- flavor / failure per doc (SPEC §2)
    has_unknown = np.bincount(d[~is_known], minlength=n) > 0
    has_html = np.bincount(d[html_l[codes]], minlength=n) > 0
    has_pdf = np.bincount(d[pdf_l[codes]], minlength=n) > 0
    flavor = np.full(n, _PLAIN, dtype=np.int8)
    flavor[has_pdf] = _PDF
    flavor[has_html] = _HTML
    flavor[has_unknown] = _FAILED

    errors: dict[int, str] = {}
    if has_unknown.any():
        bad_pos = np.nonzero(~is_known)[0]
        bad_docs = d[bad_pos]
        first_of_doc = np.ones(len(bad_pos), dtype=bool)
        first_of_doc[1:] = bad_docs[1:] != bad_docs[:-1]
        for p in bad_pos[first_of_doc]:
            errors[int(d[p])] = f"unknown kind: {dictionary[codes[p]]}"

    row_flavor = flavor[d]

    # ---- classification
    words = _count_words(tarr)
    if orig is not None:
        words = words[orig]

    keep = row_flavor == _PLAIN

    mh = row_flavor == _HTML
    if mh.any():
        lab = np.full(total, -1, dtype=np.int8)
        hl = hlab_l[codes]
        lab[mh & (hl == 3)] = 3
        lab[mh & (hl == 0)] = 0
        lab[mh & (hl == 1)] = 1
        cand = mh & (hl == 2)
        lab[cand & (words >= MIN_CONTENT_WORDS)] = 1
        lab[cand & (words < MIN_CONTENT_WORDS)] = 2
        # mixed-flavor rows: PDF kinds in an HTML-flavor doc have no HTML
        # prior (hl == -1) — oracle else-branch labels them CONTENT
        lab[mh & (lab == -1)] = 1

        decided = (lab == 0) | (lab == 1)
        prev_dec, next_dec = _nearest_decided(lab, decided, d)
        undec = lab == 2
        lab[undec & (prev_dec == 1) & (next_dec == 1)] = 1
        lab[lab == 2] = 0
        keep |= mh & ((lab == 1) | (lab == 3))

    mp = row_flavor == _PDF
    if mp.any():
        # repeated-short rule: equal texts have equal word counts, so
        # counting repeats among the short non-media texts alone is exact
        # and keeps the long ones out of the dictionary encode
        short_pos = np.nonzero(mp & ~is_media & (words <= REPEAT_MAX_WORDS))[0]
        rep = np.zeros(total, dtype=np.int64)
        if len(short_pos):
            tcodes_arr = tarr.take(pa.array(_op(short_pos))).dictionary_encode()
            tcodes = np.asarray(tcodes_arr.indices, dtype=np.int64)
            key = d[short_pos] * (tcodes.max() + 1) + tcodes
            _, inv, cnt = np.unique(key, return_inverse=True, return_counts=True)
            rep[short_pos] = cnt[inv]
        pdf_boiler = pboil_l[codes] | (rep >= REPEAT_MIN_COUNT)
        keep |= mp & (is_media | ~pdf_boiler)

    keep &= row_flavor != _FAILED

    # ---- hyphen merge over kept non-media rows (SPEC §3.2)
    tr_pos = np.nonzero(keep & ~is_media)[0]  # span-level indices, (d,o)-sorted
    n_syn = 0
    drop_from_tr = np.zeros(len(tr_pos), dtype=bool)

    if len(tr_pos):
        trd = d[tr_pos]
        tr_body = body_l[codes[tr_pos]]
        body_pdf = tr_body & (row_flavor[tr_pos] == _PDF)
        hyph = np.zeros(len(tr_pos), dtype=bool)
        # only a text whose last byte is '-', ASCII space/control or part
        # of a multi-byte character can rstrip() to a trailing '-'
        cand = np.nonzero(body_pdf)[0]
        if len(cand):
            last = _last_bytes(tarr, _op(tr_pos[cand]))
            cand = cand[(last == 0x2D) | (last <= 0x20) | (last >= 0x80)]
        if len(cand):
            hyph[cand] = _ends_hyphen(tarr.take(pa.array(_op(tr_pos[cand]))))
        prev_hyph = np.empty(len(tr_pos), dtype=bool)
        prev_hyph[0] = False
        prev_hyph[1:] = hyph[:-1] & (trd[1:] == trd[:-1])
        joins = prev_hyph & tr_body
        if joins.any():
            gid = np.cumsum(~joins)
            sizes = np.bincount(gid)[gid]
            multi = sizes > 1
            drop_from_tr = multi
            mpos = tr_pos[multi]
            mgid = gid[multi]
            mtexts = tarr.take(pa.array(_op(mpos)))
            is_first = ~joins[multi]
            is_last = np.empty(len(mpos), dtype=bool)
            # within the multi subset, group boundaries come from gid
            is_last[:-1] = mgid[1:] != mgid[:-1]
            is_last[-1] = True
            # the oracle's cuts: the first piece is rstripped and loses
            # its hyphen, a middle piece is stripped and loses its hyphen,
            # the last piece is lstripped; each group's pieces are joined
            cut = pc.utf8_slice_codeunits
            pieces = pc.if_else(
                pa.array(is_first),
                cut(pc.utf8_rtrim_whitespace(mtexts), 0, -1),
                pc.if_else(
                    pa.array(is_last),
                    pc.utf8_ltrim_whitespace(mtexts),
                    cut(pc.utf8_trim_whitespace(mtexts), 0, -1),
                ),
            )
            groups = np.append(np.flatnonzero(is_first), len(mpos)).astype(np.int32)
            syn_texts = pc.binary_join(pa.ListArray.from_arrays(pa.array(groups), pieces), "")
            n_syn = len(syn_texts)
            # a merged block keeps its first piece's kind, position,
            # media_ref and bbox
            p0 = mpos[is_first]
            first = pa.array(_op(p0))
            syn_kinds, syn_refs, syn_bb = karr.take(first), rarr.take(first), barr.take(first)
            syn_d, syn_o, syn_pg = d[p0], o[p0], pg[p0]
            syn_w = _count_words(syn_texts)

    # ---- final row set: kept singles + synthetic merged + kept media
    keep_final = keep.copy()
    keep_final[tr_pos[drop_from_tr]] = False
    base_pos = np.nonzero(keep_final)[0]

    # string arrays are in ORIGINAL order; synthetic rows are appended
    # after them, so the final take index maps sorted-space positions
    # through `orig` and leaves synthetic positions (>= total) alone
    take_idx = _op(base_pos)
    fin_d, fin_w, fin_pg = d[base_pos], words[base_pos], pg[base_pos]
    fin_media = is_media[base_pos]
    fin_img, fin_tab = img_l[codes[base_pos]], tab_l[codes[base_pos]]
    ext_k, ext_t, ext_r, ext_b = karr, tarr, rarr, barr
    if n_syn:
        ext_k = pa.concat_arrays([karr, syn_kinds])
        ext_t = pa.concat_arrays([tarr, syn_texts])
        ext_r = pa.concat_arrays([rarr, syn_refs])
        ext_b = pa.concat_arrays([barr, syn_bb])
        # the kept rows are in (doc, offset) order; merge the synthetic
        # rows in at their first piece's place
        order = _doc_order(np.concatenate([fin_d, syn_d]), np.concatenate([o[base_pos], syn_o]))
        no = np.zeros(n_syn, dtype=bool)
        take_idx = np.concatenate([take_idx, np.arange(total, total + n_syn)])[order]
        fin_d = np.concatenate([fin_d, syn_d])[order]
        fin_w = np.concatenate([fin_w, syn_w])[order]
        fin_pg = np.concatenate([fin_pg, syn_pg])[order]
        fin_media = np.concatenate([fin_media, no])[order]
        fin_img = np.concatenate([fin_img, no])[order]
        fin_tab = np.concatenate([fin_tab, no])[order]

    take = pa.array(take_idx)
    out_k = ext_k.take(take)
    out_t = ext_t.take(take)
    out_r = ext_r.take(take)
    out_b = ext_b.take(take)

    # ---- per-doc assembly
    cnts = np.bincount(fin_d, minlength=n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(cnts, out=offsets[1:])
    m = len(take_idx)
    orders_vals = (np.arange(m, dtype=np.int64) - np.repeat(offsets[:-1].astype(np.int64), cnts)).astype(np.int32)

    nonmedia = ~fin_media
    word_count = np.bincount(fin_d[nonmedia], weights=fin_w[nonmedia], minlength=n).astype(np.int64)
    c_final = _char_lengths(out_t)
    n_text = np.bincount(fin_d[nonmedia], minlength=n)
    char_count = (
        np.bincount(fin_d[nonmedia], weights=c_final[nonmedia], minlength=n).astype(np.int64)
        + np.maximum(n_text - 1, 0)
    )
    has_img = np.bincount(fin_d[fin_img], minlength=n) > 0
    has_tab = np.bincount(fin_d[fin_tab], minlength=n) > 0

    failed = flavor == _FAILED
    # failed docs keep no rows (keep &= not failed above), so cnts are 0
    word_count[failed] = 0
    char_count[failed] = 0
    page_count[failed] = 0
    has_img[failed] = False
    has_tab[failed] = False

    off_pa = pa.array(offsets)
    out = pa.RecordBatch.from_arrays(
        [
            doc_id,
            pa.ListArray.from_arrays(off_pa, out_k),
            pa.ListArray.from_arrays(off_pa, out_t),
            pa.ListArray.from_arrays(off_pa, out_r),
            pa.ListArray.from_arrays(off_pa, pa.array(orders_vals)),
            pa.ListArray.from_arrays(off_pa, pa.array(fin_pg)),
            pa.ListArray.from_arrays(off_pa, out_b),
            pa.array(np.where(failed, "failed", "completed")),
            pa.array([errors.get(i) for i in range(n)], type=pa.string()),
            pa.array(word_count),
            pa.array(char_count),
            pa.array(page_count),
            pa.array(has_img),
            pa.array(has_tab),
        ],
        schema=OUT_SCHEMA,
    )
    return out


# Memory bound for one kernel invocation, in SPANS not docs: working memory
# is proportional to the batch's total span count, so a doc-count batch cap
# (arrow.maxRecordsPerBatch = 1024) alone cannot bound it — a batch can pack
# multiple >MEGA_SPAN_THRESHOLD mega-docs. 64k spans holds one 50k-span mega
# doc alone while letting typical ~30-span docs batch ~1000 wide. A single
# doc is never split (span order is per-doc); a doc larger than the budget
# becomes its own slice.
BATCH_SPAN_BUDGET = 64 * 1024


def _bounded_slices(batch: pa.RecordBatch):
    """Zero-copy re-slice of an input batch so each slice's total span count
    stays <= BATCH_SPAN_BUDGET (always >= 1 row per slice)."""
    lens = np.asarray(batch.column(1).value_lengths().fill_null(0), dtype=np.int64)
    if int(lens.sum()) <= BATCH_SPAN_BUDGET:
        yield batch
        return
    start, acc = 0, 0
    for i, ln in enumerate(lens):
        if i > start and acc + ln > BATCH_SPAN_BUDGET:
            yield batch.slice(start, i - start)
            start, acc = i, 0
        acc += ln
    yield batch.slice(start, len(lens) - start)


def extract_map_in_arrow(batches):
    for batch in batches:
        for piece in _bounded_slices(batch):
            yield extract_record_batch(piece)
