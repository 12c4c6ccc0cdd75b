"""The Arrow-native kernel (extract_arrow) must match the independent
per-document oracle (oracle/extract.py::extract_doc) field for field on
every doc shape: plain/HTML/PDF flavors, shuffled offsets, mega-docs,
unknown kinds, hyphen merges, empty spans, inputs without bboxes, empty
batches."""

import random

import pyarrow as pa
import pytest

from docling_nlp_api_spark.datagen import gen_doc
from docling_nlp_api_spark.operators.extract_arrow import OUT_SCHEMA, extract_record_batch
from docling_nlp_api_spark.oracle.extract import extract_doc

SPAN_T = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
            ("bbox", pa.list_(pa.float64())),
        ]
    )
)

# pre-bbox input shape: the kernel must tolerate spans without the field
SPAN_T_NOBB = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)


def to_batch(ids, spans_rows, span_t=SPAN_T):
    return pa.RecordBatch.from_arrays(
        [pa.array(ids), pa.array(spans_rows, type=span_t)], names=["doc_id", "spans"]
    )


def kernel_metadata(got, i):
    """The metadata map extract() builds JVM-side from the kernel's
    per-doc count/flag columns (error only, for failed docs)."""
    if got["status"][i] == "failed":
        return {"error": got["error"][i]}
    return {
        "word_count": str(got["word_count"][i]),
        "char_count": str(got["char_count"][i]),
        "page_count": str(got["page_count"][i]),
        "has_images": "true" if got["has_images"][i] else "false",
        "has_tables": "true" if got["has_tables"][i] else "false",
    }


def assert_parity(ids, spans_rows, span_t=SPAN_T):
    got = extract_record_batch(to_batch(ids, spans_rows, span_t)).to_pydict()
    for i, did in enumerate(ids):
        # extract_doc annotates the span dicts it is given: pass copies
        exp = extract_doc(did, [dict(s) for s in spans_rows[i]])
        g = (
            list(zip(got["kinds"][i], got["texts"][i], got["media_refs"][i], got["orders"][i])),
            got["page_nos"][i], got["bboxes"][i], got["status"][i], kernel_metadata(got, i),
        )
        r = (
            [(s.kind, s.text, s.media_ref, s.order) for s in exp.spans],
            exp.pages, [None if b is None else list(b) for b in exp.bboxes],
            exp.status, exp.metadata,
        )
        assert g == r, f"doc {did} diverges: {g} != {r}"


@pytest.mark.parametrize("shuffle", [False, True])
def test_generated_docs(shuffle):
    ids, rows = [], []
    for num in list(range(0, 250)) + [997, 1994]:  # incl. mega docs
        did, sp = gen_doc(num)
        sp = list(sp)
        if shuffle:
            random.Random(num).shuffle(sp)
        ids.append(did)
        rows.append(sp)
    assert_parity(ids, rows)


def test_adversarial_docs():
    def S(k, t, r, o):
        return {"kind": k, "text": t, "media_ref": r, "offset": o}

    cases = {
        "empty": [],
        "unknown": [S("martian", "x", "", 0), S("p", "hello world", "", 1)],
        "all_media": [S("image", "", "m://0", 0), S("table", "a b", "m://1", 1)],
        "all_boiler": [S("nav", "home", "", 0), S("footer", "c", "", 1)],
        "hyphen_merge": [S("body", "li-", "", 0), S("body", " ne", "", 1), S("pageno", "3", "", 2)],
        "hyphen_lone": [S("body", "-", "", 0), S("body", "x", "", 1)],
        "hyphen_tail": [S("body", "end-", "", 0)],
        "ws_only": [S("p", " ", "", 5), S("h1", "T", "", 2)],
        "caption_only": [S("caption", "cap", "", 0)],
    }
    assert_parity(list(cases), list(cases.values()))


def test_empty_batch():
    out = extract_record_batch(to_batch([], []))
    assert out.num_rows == 0
    assert out.schema == OUT_SCHEMA


def test_no_bbox_input_shape():
    """Inputs conforming to the pre-bbox span struct (the BASELINE
    input_hint's exact 4-field shape) must still extract, with every
    output bbox null."""
    ids, rows = [], []
    for num in range(40):
        did, sp = gen_doc(num)
        ids.append(did)
        rows.append([{k: s[k] for k in ("kind", "text", "media_ref", "offset")} for s in sp])
    assert_parity(ids, rows, span_t=SPAN_T_NOBB)
    got = extract_record_batch(to_batch(ids, rows, SPAN_T_NOBB)).to_pydict()
    assert all(bb is None for doc in got["bboxes"] for bb in doc)


def _span(kind, text, off, ref=None):
    return {"kind": kind, "text": text, "media_ref": ref, "offset": off, "bbox": None}


def test_unicode_whitespace_word_counts_match_oracle():
    """SPEC pins Python str.split() word semantics. NBSP/ideographic-space
    separated candidate text must classify identically in the oracle and
    the kernel (the byte-level fast path only covered ASCII whitespace
    before the slow-path fix — an NBSP paragraph was miscounted as one
    word, labelled UNDECIDED, and dropped)."""
    nbsp_words = " ".join("abcdefgh")          # 8 Python words
    ideo = "x　y　z w v u t s"               # 8 words, U+3000
    fs = "a\x1cb\x1cc d e f g h"                     # \x1c is Python-space
    docs = {
        "d1": [_span("h1", "T", 0), _span("p", nbsp_words, 1)],
        "d2": [_span("h1", "T", 0), _span("p", ideo, 1)],
        "d3": [_span("h1", "T", 0), _span("p", fs, 1)],
    }
    for did, spans in docs.items():
        exp = extract_doc(did, spans)
        got = extract_record_batch(to_batch([did], [spans])).to_pydict()
        assert got["status"][0] == exp.status, did
        assert list(got["kinds"][0]) == [s.kind for s in exp.spans], did
        assert got["word_count"][0] == int(exp.metadata["word_count"]), did
        # the p span survives as content (>= MIN_CONTENT_WORDS words)
        assert "p" in got["kinds"][0], did


def test_mixed_flavor_pdf_kinds_in_html_doc_match_oracle():
    """FIXTURES declares mixed docs invalid, but both the oracle and the
    kernel ACCEPT them — so they must agree: a PDF kind inside an
    HTML-flavor doc takes the oracle's else-branch (content) instead of
    being silently dropped."""
    spans = [
        _span("p", "one two three four five six seven eight", 0),
        _span("body", "pdf body text here", 1),
        _span("li", "tiny", 2),  # undecided -> smoothing between content
        _span("heading", "section", 3),
    ]
    exp = extract_doc("dm", spans)
    exp_seq = [(s.kind, s.text) for s in exp.spans]
    got = extract_record_batch(to_batch(["dm"], [spans])).to_pydict()
    assert list(zip(got["kinds"][0], got["texts"][0])) == exp_seq
    assert ("body", "pdf body text here") in exp_seq  # oracle keeps it


def test_null_span_fields_degrade_to_doc_failure_not_crash():
    """External drop-zone parquet can carry null kind/text/offset (Spark
    does not enforce schema non-null flags on file sources). A null kind
    must produce ONE failed doc row via the normal unknown-kind path —
    not NaN-index garbage or an IndexError that kills the micro-batch."""
    ok = [_span("p", "regular doc with enough words here", 0)]
    null_kind = [_span(None, "x", 0), _span("p", "y z", 1)]
    null_text = [_span("p", None, 0), _span("h1", "t", 1)]
    null_off = [_span("h1", "a", None), _span("p", "b c d e f g h i", 1)]
    got = extract_record_batch(
        to_batch(["g1", "b1", "b2", "b3"], [ok, null_kind, null_text, null_off])
    ).to_pydict()
    assert got["status"] == ["completed", "failed", "completed", "completed"]
    assert "unknown" in (got["error"][1] or "")
    # null text folded to "" (0 words), null offset to 0 (sorts first)
    assert got["status"][2] == "completed"


def test_kernel_functions_are_looked_up_at_call_time(monkeypatch):
    """perfbench's traced run times the unmodified kernel by swapping
    extract._count_words and extract_arrow.extract_record_batch at module
    attribute level. If the kernel bound either name at import time, the
    traced run's count_words.* / extract_arrow.* metrics would read 0."""
    from docling_nlp_api_spark.operators import extract, extract_arrow

    calls = {"count_words": 0, "extract_record_batch": 0}
    count_words, record_batch = extract._count_words, extract_arrow.extract_record_batch

    def counting_count_words(values):
        calls["count_words"] += 1
        return count_words(values)

    def counting_record_batch(batch):
        calls["extract_record_batch"] += 1
        return record_batch(batch)

    monkeypatch.setattr(extract, "_count_words", counting_count_words)
    monkeypatch.setattr(extract_arrow, "extract_record_batch", counting_record_batch)
    did, sp = gen_doc(1)
    out = list(extract_arrow.extract_map_in_arrow([to_batch([did], [sp])]))
    assert out[0].num_rows == 1
    assert calls["extract_record_batch"] == 1
    assert calls["count_words"] >= 1
