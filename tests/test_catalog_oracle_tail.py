"""Exact-type DuckDB oracle verification for catalog entries DEMOTED past the
driver's 50-entry correctness window (catalog.DEMOTED).

The driver only records rows for the first catalog.DRIVER_WINDOW entries of
queries(); every demoted oracle-backed entry is re-verified here with the SAME
comparison the driver applies (row count, column names, order-insensitive
exact values, and the HUGEINT/DECIMAL oracle-typing guard), so each operator
ID keeps green evidence either as a driver row or as a pytest row.

The embedding entries inside the window are re-verified here too
(EMBEDDING_HEAD), so all nine embedding-family entries, whose one
scorer is the vectorized kernel of operators/vecmath.py, equal their
DuckDB oracle in every test run.

Rows-only demoted entries (no oracle) are covered elsewhere:
s1_s3_binaryfile_ingest by test_new_operators.py, a12_pipeline_metrics by
test_pipeline_resume.py, s3_stream_extract by test_streaming.py,
lm_bpe_learn and lm_bpe_token_counts by test_bpe_learn_property.py,
u1_span_boilerplate by test_new_operators.py.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest

from docling_nlp_api_spark.catalog import DEMOTED, ORACLE, QUERIES

_CHECKER = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "check_correctness.py")
_spec = importlib.util.spec_from_file_location("check_correctness", _CHECKER)
_cc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_cc)

EMBEDDING_HEAD = [
    "ann_bruteforce_topk",
    "dedup_embedding_clusters",
    "ann_ivf_kmeans_topk",
    "dedup_semdedup",
]
TAIL_SQL = [n for n in DEMOTED if n in ORACLE] + EMBEDDING_HEAD


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in _cc.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", TAIL_SQL)
def test_tail_oracle_exact(name, spark, sf_dir, duck):
    sdf = QUERIES[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(ORACLE[name])
    ocols = list(rel.columns)
    otypes = [str(t) for t in rel.types]
    orows = rel.fetchall()

    assert len(srows) == len(orows), f"rowcount spark={len(srows)} duckdb={len(orows)}"
    assert sorted(sdf.columns) == sorted(ocols)
    tp = _cc.type_problems(sdf.dtypes, ocols, otypes)
    assert not tp, tp
    cs = _cc.canon(srows, sdf.columns)
    co = _cc.canon(orows, ocols)
    assert cs == co, next(
        (f"value diff: spark={a} duckdb={b}" for a, b in zip(cs, co) if a != b),
        "tail diff",
    )
