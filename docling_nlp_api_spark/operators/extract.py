"""The extraction operator (U1 boilerplate classify + U2 reading-order
reassembly + U3 media preservation): ONE `mapInArrow` over the span
table, running the Arrow-native kernel in extract_arrow.py.

Design (SPEC.md §7):
- Spans cross the JVM->Python boundary as Arrow buffers and stay Arrow
  buffers end to end: no Python-object materialization per span.
- The kernel flattens each batch to ONE columnar span table and runs
  every rule of SPEC.md as numpy / pyarrow.compute column ops: no
  per-document Python in the hot path.
- The kernel returns field-wise arrays; `output_batch` builds the final
  rows from them in Arrow, in the same task: the span structs over the
  kernel's shared list offsets and the metadata map. The rows cross
  back to the JVM once, already in extract()'s type; the pipeline runs
  the same `output_batch` in its tasks and writes exactly these rows,
  with no column added, to parquet.

This module also holds the kernel's word counter, `_count_words`; the
kernel looks it up here at call time, so it can be swapped at module
attribute level (the benchmark's traced run times it that way).

Reference behavior anchors (derived, not copied): reference
app/services/docling_service.py:53-91 (convert + failure rows),
:253-279 (reading order), :207-208 (media flags).
"""

from __future__ import annotations

import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import ArrayType, StructType

from ..session import drop_zip_finders
from .extract_arrow import extract_map_in_arrow, utf8_buffers


# Bytes per block of the whitespace scan: the block and its three scratch
# rows (1 MiB) stay in a 2 MiB L2 cache. A multiple of 8, so that each
# block packs into whole bytes of the bit mask.
_BLOCK = 1 << 18

_U1, _U2, _U4, _U56, _U63 = (np.uint64(k) for k in (1, 2, 4, 56, 63))
_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_H01 = np.uint64(0x0101010101010101)

# The 3-byte UTF-8 whitespace sequences as (b0 << 16 | b1 << 8 | b2),
# sorted: U+1680, U+2000-200A, U+2028, U+2029, U+202F, U+205F, U+3000.
# The 2-byte ones, U+0085 and U+00A0, are C2 85 and C2 A0.
_WS3 = np.array(
    [0xE19A80, *range(0xE28080, 0xE2808B), 0xE280A8, 0xE280A9, 0xE280AF, 0xE2819F, 0xE38080],
    dtype=np.int64,
)


# _count_words' scratch arrays, kept per thread and grown to the largest
# input seen: fresh multi-MB arrays on every call page-fault (~5,200 minor
# faults, about a sixth of the counter's time, per pass over 37 MB of
# text). Rows are 64 bytes longer than a multiple of 4 KiB: operands of
# one ufunc at a 4 KiB-aligned distance alias in the CPU's load/store
# tracking, which made the whole counter ~1.7x slower (Xeon, numpy 1.26).
_scratch = threading.local()


def _workspace(nw: int) -> tuple[np.ndarray, np.ndarray]:
    """This thread's scratch: four uint64 rows of >= nw + 1 words (space
    mask, word starts, a temporary, prefix counts) and three rows of
    _BLOCK bytes (two uint8 temporaries, one bool mask)."""
    words = getattr(_scratch, "words", None)
    if words is None or words.shape[1] < nw + 1:
        words = _scratch.words = np.empty((4, -(-(nw + 1) // 512) * 512 + 8), dtype=np.uint64)
    block = getattr(_scratch, "block", None)
    if block is None:
        block = _scratch.block = np.empty((3, _BLOCK + 64), dtype=np.uint8)
    return words, block


def _popcount(x: np.ndarray, out: np.ndarray, tmp: np.ndarray) -> np.ndarray:
    """Set bits per uint64 of `x`, into `out` (SWAR: numpy 1.26 has no
    bitwise_count). `out` and `tmp` are scratch of x's shape."""
    np.right_shift(x, _U1, out=tmp)
    tmp &= _M1
    np.subtract(x, tmp, out=out)
    np.right_shift(out, _U2, out=tmp)
    tmp &= _M2
    out &= _M2
    out += tmp
    np.right_shift(out, _U4, out=tmp)
    out += tmp
    out &= _M4
    out *= _H01
    out >>= _U56
    return out


def _multibyte_space(chunk: np.ndarray, leads: np.ndarray) -> np.ndarray:
    """Byte positions of the non-ASCII whitespace characters among the
    UTF-8 lead bytes at `leads` (all bytes of each such character)."""
    last = len(chunk) - 1
    b0 = chunk[leads].astype(np.int64)
    b1 = chunk[np.minimum(leads + 1, last)].astype(np.int64)
    b2 = chunk[np.minimum(leads + 2, last)].astype(np.int64)
    two = leads[(b0 == 0xC2) & ((b1 == 0x85) | (b1 == 0xA0))]
    key = (b0 << 16) | (b1 << 8) | b2
    three = leads[_WS3[np.searchsorted(_WS3, key).clip(max=len(_WS3) - 1)] == key]
    return np.concatenate([two, two + 1, three, three + 1, three + 2])


def _count_words(values) -> np.ndarray:
    """len(s.split()) per string, exactly, for any Unicode text: the
    kernel's word counter (MIN_CONTENT_WORDS / REPEAT_MAX_WORDS, SPEC §3,
    and the word_count metadata). Accepts a pyarrow StringArray (read
    zero-copy from its offsets and data buffers, the kernel's case) or a
    sequence of str/None (converted once). Nulls count 0.

    Whitespace is exactly the 29 code points for which str.isspace() is
    true: ASCII 09-0D and 1C-20, tested as one range on the minimum of
    two wrapping uint8 subtractions, and 19 multi-byte characters,
    matched on their UTF-8 sequences (C2 85, C2 A0, E1 9A 80,
    E2 80 80-8A, E2 80 A8/A9/AF, E2 81 9F, E3 80 80) at lead bytes
    >= 0xC2 only. Every byte of such a
    character is marked as space; UTF-8 continuation bytes of any other
    character are non-space. One chunk.max() skips the multi-byte match
    on ASCII-only text.

    The space mask is built one _BLOCK of bytes at a time in reused,
    cache-resident buffers (a full-size bool mask and its temporaries
    cost more in memory traffic than the compares themselves), and packed
    into uint64 words, little-endian bit order, so all later work runs on
    1/64 of the bytes. A word starts at a non-space byte whose previous
    byte is space: `prev_space & ~space` on the packed words, with the
    carry from the previous word. The starts inside string r are a
    difference of prefix counts at its two offsets; a prefix count is a
    cumsum of per-word popcounts plus a masked popcount of the partial
    word. A string whose first byte is non-space but no word start (the
    chunk's first byte, or one after the previous string's non-space last
    byte) gets +1. There is no per-row Python and no fallback path."""
    n = len(values)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    arr = values if isinstance(values, pa.Array) else pa.array(values, type=pa.string())
    offsets, chunk = utf8_buffers(arr)
    size = len(chunk)
    if size == 0:
        return np.zeros(n, dtype=np.int64)

    # packed space mask; one spare word past the end, so the offset of a
    # trailing empty or null string (== size) indexes a real word
    nw = size // 64 + 1
    words, block = _workspace(nw)
    space, starts, buf, prefix = words[0, :nw], words[1, :nw], words[2, :nw], words[3, : nw + 1]
    space[size // 64 :] = 0
    space_bytes = space.view(np.uint8)
    unicode = int(chunk.max()) >= 0xC2
    leads = []
    for lo in range(0, size, _BLOCK):
        b = chunk[lo : lo + _BLOCK]
        k = len(b)
        t1, t2, s = block[0, :k], block[1, :k], block[2, :k].view(bool)
        np.subtract(b, 0x09, out=t1)
        np.subtract(b, 0x1C, out=t2)
        np.minimum(t1, t2, out=t1)  # 09-0D and 1C-20 both land on 0-4
        np.less_equal(t1, 4, out=s)
        space_bytes[lo // 8 : lo // 8 + (k + 7) // 8] = np.packbits(s, bitorder="little")
        if unicode:
            np.greater_equal(b, 0xC2, out=s)
            p = np.flatnonzero(s)
            if len(p):
                leads.append(p + lo)
    if leads:
        pos = _multibyte_space(chunk, np.concatenate(leads))
        if len(pos):
            np.bitwise_or.at(space, pos >> 6, _U1 << (pos & 63).astype(np.uint64))

    # word starts: non-space bytes whose previous byte is space
    np.left_shift(space, _U1, out=starts)
    np.right_shift(space[:-1], _U63, out=buf[1:])
    starts[1:] |= buf[1:]
    np.invert(space, out=buf)
    starts &= buf
    prefix[0] = 0
    np.cumsum(_popcount(starts, buf, prefix[1:]), out=prefix[1:])

    w = offsets >> 6
    bit = (offsets & 63).view(np.uint64)
    at = starts[w]
    part = np.left_shift(_U1, bit)
    part -= _U1
    part &= at
    tmp = np.empty_like(part)
    below = _popcount(part, part, tmp)
    below += np.take(prefix, w, out=tmp)
    counts = np.diff(below.view(np.int64))
    # +1 where string r starts with a non-space byte that is no word start
    at |= np.take(space, w, out=tmp)
    at >>= bit
    fix = (at[:-1] & _U1) == 0
    fix &= offsets[1:] > offsets[:-1]
    counts += fix
    return counts


def check_input_schema(schema: StructType) -> None:
    """Raise a ValueError unless `schema` has the kernel's input columns:
    doc_id and spans array<struct<kind,text,media_ref,offset>>."""
    try:
        spans_type = schema["spans"].dataType
        fields = {f.name for f in spans_type.elementType.fields}  # type: ignore[union-attr]
    except (KeyError, AttributeError) as exc:
        raise ValueError(
            "extract() expects a 'spans' column of type "
            "array<struct<kind,text,media_ref,offset>>; got: "
            f"{schema.simpleString()}"
        ) from exc
    missing = {"kind", "text", "media_ref", "offset"} - fields
    if missing or not isinstance(spans_type, ArrayType):
        raise ValueError(f"extract(): spans struct missing fields {sorted(missing)}")


# extract()'s output type, nullability included. span_pages / span_bboxes
# are PARALLEL arrays (page number / layout bbox of spans[i]) rather than
# fields inside the span struct: the north-rule equality invariant is
# pinned on (kind, text, media_ref, order) and must not change shape
_SPAN_STRUCT = pa.struct(
    [*((k, pa.string()) for k in ("kind", "text", "media_ref")), ("order", pa.int32())]
)
EXTRACT_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("spans", pa.list_(pa.field("element", _SPAN_STRUCT, nullable=False))),
        ("status", pa.string()),
        pa.field("metadata", pa.map_(pa.string(), pa.string()), nullable=False),
        ("span_pages", pa.list_(pa.field("element", pa.int32()))),
        ("span_bboxes", pa.list_(pa.field("element", pa.list_(pa.field("element", pa.float64()))))),
    ]
)
EXTRACT_SPARK_SCHEMA = from_arrow_schema(EXTRACT_SCHEMA)

# metadata keys of a completed doc, in map order, then a failed doc's key;
# a tuple, as pa.array() at import would import pandas with this module
_META_KEYS = ("word_count", "char_count", "page_count", "has_images", "has_tables", "error")


def output_batch(out: pa.RecordBatch) -> pa.RecordBatch:
    """extract()'s rows (EXTRACT_SCHEMA) from a kernel batch (OUT_SCHEMA),
    built in Arrow: `spans` is one list over the kernel's shared list
    offsets with a struct of kind, text, media_ref and order as values;
    `metadata` maps a completed doc's five counters, in that key order, to
    strings ('true'/'false' for the flags, a null flag reading 'false'),
    and a failed doc's 'error' to its message."""
    n, col = out.num_rows, out.column
    span_t = EXTRACT_SCHEMA.field("spans").type
    spans = pa.ListArray.from_arrays(
        col("kinds").offsets,
        pa.StructArray.from_arrays(
            [col(c).values for c in ("kinds", "texts", "media_refs", "orders")],
            fields=list(span_t.value_type),
        ),
        type=span_t,
    )
    failed = np.asarray(pc.equal(col("status"), "failed"), dtype=bool)
    per_doc = np.where(failed, 1, 5)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(per_doc, out=offsets[1:])
    doc = np.repeat(np.arange(n), per_doc)
    # slot of each entry: its key's index in _META_KEYS
    slot = np.arange(offsets[-1]) - offsets[:-1][doc]
    slot[failed[doc]] = 5
    values = pa.concat_arrays(
        [col(c).cast(pa.string()) for c in ("word_count", "char_count", "page_count")]
        + [pc.if_else(col(c).fill_null(False), "true", "false")
           for c in ("has_images", "has_tables")]
        + [col("error")]
    )
    keys = pa.array(_META_KEYS).take(slot)
    metadata = pa.MapArray.from_arrays(offsets, keys, values.take(slot * n + doc))
    return pa.RecordBatch.from_arrays(
        [col("doc_id"), spans, col("status"), metadata, col("page_nos"), col("bboxes")],
        schema=EXTRACT_SCHEMA,
    )


def _extract_batches(batches):
    """mapInArrow body of extract(): the kernel, then `output_batch`."""
    try:
        yield from map(output_batch, extract_map_in_arrow(batches))
    finally:
        drop_zip_finders()


def extract(df: DataFrame) -> DataFrame:
    """documents_spans -> extracted (EXTRACT_SPARK_SCHEMA): one
    `mapInArrow` of the kernel and `output_batch`.

    Input: (doc_id string, spans array<struct<kind,text,media_ref,offset>>).
    Output (EXTRACT_SPARK_SCHEMA): (doc_id, spans
    array<struct<kind,text,media_ref,order>>, status, metadata
    map<string,string>, span_pages, span_bboxes).
    """
    check_input_schema(df.schema)
    return df.select("doc_id", "spans").mapInArrow(_extract_batches, schema=EXTRACT_SPARK_SCHEMA)
