"""Spark schemas for the engine (SURVEY.md §1.4, SPEC.md §1/§4)."""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
        # optional layout geometry [x0, y0, x1, y1] — present when the
        # upstream parser supplies it (PDF/layout flavors), null otherwise,
        # mirroring docling's item.get('bbox') (docling_service.py:276).
        # extract() tolerates inputs without this field entirely.
        T.StructField("bbox", T.ArrayType(T.DoubleType(), containsNull=False), True),
    ]
)

DOCUMENTS_SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT, containsNull=False), False),
    ]
)

OUT_SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("order", T.IntegerType(), False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(OUT_SPAN_STRUCT, containsNull=False), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), False),
        # page number of spans[i] — parallel array, NOT a span-struct field:
        # the north-rule span equality is pinned on (kind,text,media_ref,order)
        T.StructField("span_pages", T.ArrayType(T.IntegerType(), False), False),
        # layout bbox of spans[i] (null when the source had none) — parallel
        # array for the same reason as span_pages
        T.StructField(
            "span_bboxes",
            T.ArrayType(T.ArrayType(T.DoubleType(), containsNull=False), containsNull=True),
            False,
        ),
    ]
)

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("started_at", T.TimestampType(), False),
        T.StructField("committed_at", T.TimestampType(), True),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("docs_in", T.LongType(), False),
        T.StructField("docs_out", T.LongType(), False),
        T.StructField("docs_failed", T.LongType(), False),
        T.StructField("spans_in", T.LongType(), False),
        T.StructField("spans_out", T.LongType(), False),
        T.StructField("wall_sec", T.DoubleType(), False),
    ]
)
