"""The extraction operator (U1 boilerplate classify + U2 reading-order
reassembly + U3 media preservation): ONE `mapInArrow` over the span
table, running the Arrow-native kernel in extract_arrow.py.

Design (SPEC.md §7):
- Spans cross the JVM->Python boundary as Arrow buffers and stay Arrow
  buffers end to end: no Python-object materialization per span.
- The kernel flattens each batch to ONE columnar span table and runs
  every rule of SPEC.md as numpy / pyarrow.compute column ops: no
  per-document Python in the hot path.
- The kernel returns field-wise arrays; ``arrays_zip`` reassembles the
  output span structs JVM-side.

This module also holds the kernel's word counter, `_count_words`; the
kernel looks it up here at call time, so it can be swapped at module
attribute level (the benchmark's traced run times it that way).

Reference behavior anchors (derived, not copied): reference
app/services/docling_service.py:53-91 (convert + failure rows),
:253-279 (reading order), :207-208 (media flags).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract_arrow import OUT_SPARK_SCHEMA, extract_map_in_arrow


def _count_words(values) -> np.ndarray:
    """Count \\S+ runs per element — the kernel's hottest operation.
    Per-element re.findall and pyarrow's RE2 count_substring_regex both
    measure ~320ms/100k spans; instead, count word *starts* directly on
    the Arrow UTF-8 byte buffer with numpy (~10ms): a word start is a
    non-space byte at a string start or after a space byte. Byte-level is
    exact for ASCII whitespace; UTF-8 continuation bytes are never space
    bytes, so multi-byte chars count as non-space — and rows that might
    contain PYTHON whitespace beyond ASCII (\\x1c-\\x1f, Unicode spaces)
    are recounted on a str.split() slow path below, so the result is
    exactly the oracle's len(text.split()) for EVERY input, not just the
    ASCII fixture alphabet. Accepts a pyarrow StringArray (zero-copy, the
    kernel's case) or a sequence of str/None (converted once). Nulls
    count 0."""
    n = len(values)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    arr = values if isinstance(values, pa.Array) else pa.array(values, type=pa.string())
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + n + 1
    ].astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    if offsets[-1] == offsets[0]:
        return np.zeros(n, dtype=np.int64)
    chunk = data[offsets[0] : offsets[-1]]
    offsets = offsets - offsets[0]
    # space test via range comparisons, not a 256-entry LUT gather: the
    # byte-indexed gather defeats SIMD and measures ~2.6x slower than
    # three vectorized compares (39ms vs 15ms on a 15 MB chunk)
    is_space = (chunk == 0x20) | ((chunk >= 0x09) & (chunk <= 0x0D))
    # word start = non-space byte right after a space byte (fused shifted
    # AND, no materialized prev_space copy), or a non-space byte at a
    # string start — but ONLY start offsets that lie inside the buffer: a
    # trailing empty/null string's start offset equals len(chunk), and
    # clipping it into the buffer would mark the final byte of the
    # PREVIOUS string as a false word start
    # (_count_words(['ab','']) must be [1,0], not [2,0])
    starts = np.empty(len(chunk), dtype=bool)
    starts[0] = not is_space[0]
    np.logical_and(~is_space[1:], is_space[:-1], out=starts[1:])
    starts_in = offsets[:-1]
    si = starts_in[starts_in < len(chunk)]
    starts[si] = ~is_space[si]
    # histogram the start positions into the per-string offset bins;
    # ~5x cheaper than a cumsum over the whole byte buffer
    sidx = np.nonzero(starts)[0]
    counts = np.diff(np.searchsorted(sidx, offsets))

    # Unicode parity slow path (SPEC: Python str.split() semantics). The
    # byte test above is exact only for ASCII whitespace; Python also
    # splits on \x1c-\x1f (FS/GS/RS/US) and the Unicode space characters,
    # whose UTF-8 lead bytes are 0xC2 (NBSP/NEL), 0xE1 (U+1680), 0xE2
    # (U+2000-200A/2028/2029/202F/205F) and 0xE3 (U+3000). Rows
    # containing any trigger byte are recounted exactly with str.split()
    # — the oracle's rule — so the kernel cannot misclassify a span (or
    # drift word_count) on non-ASCII whitespace. The trigger over-matches
    # (any C2/E1/E2/E3-lead char flags its row), but the fixture alphabet
    # is ASCII, so the slow path prices only genuinely exotic rows.
    trig = ((chunk >= 0x1C) & (chunk <= 0x1F)) | (chunk == 0xC2)
    trig |= (chunk >= 0xE1) & (chunk <= 0xE3)
    if trig.any():
        rows = np.unique(
            np.searchsorted(offsets, np.nonzero(trig)[0], side="right") - 1
        )
        for r in rows:
            v = arr[int(r)].as_py()
            counts[r] = 0 if v is None else len(v.split())
    return counts


def extract(df: DataFrame) -> DataFrame:
    """documents_spans -> extracted (EXTRACTED_SCHEMA shape).

    Input: (doc_id string, spans array<struct<kind,text,media_ref,offset>>).
    Output: (doc_id, spans array<struct<kind,text,media_ref,order>>, status,
    metadata map<string,string>).
    """
    import pyspark.sql.types as T

    try:
        spans_type = df.schema["spans"].dataType
        fields = {f.name for f in spans_type.elementType.fields}  # type: ignore[union-attr]
    except (KeyError, AttributeError) as exc:
        raise ValueError(
            "extract() expects a 'spans' column of type "
            "array<struct<kind,text,media_ref,offset>>; got: "
            f"{df.schema.simpleString()}"
        ) from exc
    missing = {"kind", "text", "media_ref", "offset"} - fields
    if missing or not isinstance(spans_type, T.ArrayType):
        raise ValueError(f"extract(): spans struct missing fields {sorted(missing)}")

    res = df.select("doc_id", "spans").mapInArrow(
        extract_map_in_arrow, schema=OUT_SPARK_SCHEMA
    )
    spans = F.arrays_zip(
        F.col("kinds").alias("kind"),
        F.col("texts").alias("text"),
        F.col("media_refs").alias("media_ref"),
        F.col("orders").alias("order"),
    ).alias("spans")
    metadata = (
        F.when(
            F.col("status") == "failed",
            F.create_map(F.lit("error"), F.col("error")),
        )
        .otherwise(
            F.create_map(
                F.lit("word_count"), F.col("word_count").cast("string"),
                F.lit("char_count"), F.col("char_count").cast("string"),
                F.lit("page_count"), F.col("page_count").cast("string"),
                F.lit("has_images"), F.when(F.col("has_images"), "true").otherwise("false"),
                F.lit("has_tables"), F.when(F.col("has_tables"), "true").otherwise("false"),
            )
        )
        .alias("metadata")
    )
    # span_pages / span_bboxes are PARALLEL arrays (page number / layout
    # bbox of spans[i]) rather than fields inside the span struct: the
    # north-rule equality invariant is pinned on (kind, text, media_ref,
    # order) and must not change shape
    return res.select(
        "doc_id", spans, "status", metadata,
        F.col("page_nos").alias("span_pages"),
        F.col("bboxes").alias("span_bboxes"),
    )
