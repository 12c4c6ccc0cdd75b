"""Span-sequence equality: Spark kernel vs single-node oracle (SPEC.md).

The BASELINE.json invariant: element-wise equality on
(kind, text, media_ref, order) per doc, plus status + metadata parity.
"""

import pytest

from docling_nlp_api_spark import datagen
from docling_nlp_api_spark.operators.extract import extract
from docling_nlp_api_spark.oracle.extract import extract_doc

N_DOCS = 500  # sf0.001 tier (FIXTURES.md §2)


def _oracle_results():
    out = {}
    for num in range(N_DOCS):
        did, spans = datagen.gen_doc(num)
        out[did] = extract_doc(did, spans)
    return out


@pytest.fixture(scope="module")
def engine_rows(spark):
    df = extract(datagen.spans_df(spark, N_DOCS))
    return {r["doc_id"]: r for r in df.collect()}


def test_row_count(engine_rows):
    assert len(engine_rows) == N_DOCS


def test_span_equality_all_docs(engine_rows):
    oracle = _oracle_results()
    mismatches = []
    for did, exp in oracle.items():
        got = engine_rows[did]
        got_spans = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in got["spans"]]
        exp_spans = [(s.kind, s.text, s.media_ref, s.order) for s in exp.spans]
        if got_spans != exp_spans:
            mismatches.append((did, exp_spans[:3], got_spans[:3], len(exp_spans), len(got_spans)))
    assert not mismatches, f"{len(mismatches)} docs mismatch; first: {mismatches[0]}"


def test_span_pages_equality(engine_rows):
    """A7/S8: per-span page numbers and page_count match the oracle's
    sequential derivation (pageno marks a page start; front-matter -> 1)."""
    oracle = _oracle_results()
    for did, exp in oracle.items():
        got = engine_rows[did]
        assert list(got["span_pages"]) == exp.pages, did


def test_span_bboxes_equality(engine_rows):
    """Per-span layout bboxes propagate from the source spans (PDF flavor
    in the fixture) through classification/merge to the parallel
    span_bboxes column; HTML/plain spans stay null."""
    oracle = _oracle_results()
    n_with_bb = 0
    for did, exp in oracle.items():
        got = engine_rows[did]
        got_bb = [None if bb is None else list(bb) for bb in got["span_bboxes"]]
        assert got_bb == exp.bboxes, did
        n_with_bb += sum(1 for bb in got_bb if bb is not None)
    assert n_with_bb > 100  # the corpus has a real share of PDF spans


def test_status_and_metadata_equality(engine_rows):
    oracle = _oracle_results()
    for did, exp in oracle.items():
        got = engine_rows[did]
        assert got["status"] == exp.status, did
        assert dict(got["metadata"]) == exp.metadata, (did, dict(got["metadata"]), exp.metadata)


def test_extract_schema_is_pinned(spark):
    """extract() declares the row type the JVM-side struct assembly gave
    before the output was built in Arrow, nullability included: spans
    hold no null struct, metadata is never null, its values may be. A
    completed doc's metadata keeps that assembly's key order, which
    to_json-based hashes of the map see."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    pinned = StructType(
        [
            StructField("doc_id", StringType(), True),
            StructField(
                "spans",
                ArrayType(
                    StructType(
                        [
                            StructField("kind", StringType(), True),
                            StructField("text", StringType(), True),
                            StructField("media_ref", StringType(), True),
                            StructField("order", IntegerType(), True),
                        ]
                    ),
                    False,
                ),
                True,
            ),
            StructField("status", StringType(), True),
            StructField("metadata", MapType(StringType(), StringType(), True), False),
            StructField("span_pages", ArrayType(IntegerType(), True), True),
            StructField("span_bboxes", ArrayType(ArrayType(DoubleType(), True), True), True),
        ]
    )
    out = extract(datagen.spans_df(spark, 3))
    assert out.schema == pinned
    for (keys,) in out.select(F.map_keys("metadata")).collect():
        assert keys == ["word_count", "char_count", "page_count", "has_images", "has_tables"]


def test_extract_empty_and_all_failed_input(spark):
    """An empty input gives no rows under the same schema; an input whose
    docs all fail gives one failed row per doc, no spans and only the
    'error' metadata key."""
    from docling_nlp_api_spark.schema import DOCUMENTS_SPANS_SCHEMA

    want = extract(datagen.spans_df(spark, 1)).schema
    empty = extract(spark.createDataFrame([], DOCUMENTS_SPANS_SCHEMA))
    assert empty.schema == want and empty.count() == 0

    bad = [(f"bad-{i}", [("blink", "x", "", 0, None)] * (i + 1)) for i in range(3)]
    rows = extract(spark.createDataFrame(bad, DOCUMENTS_SPANS_SCHEMA)).collect()
    assert sorted(r["doc_id"] for r in rows) == [d for d, _ in bad]
    for r in rows:
        assert r["status"] == "failed" and r["spans"] == [] and r["span_pages"] == []
        assert r["metadata"] == {"error": "unknown kind: blink"}
