"""Python task set-up: session.drop_zip_finders and the three Arrow task
bodies that call it, run in-process with no Spark session."""

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from docling_nlp_api_spark.datagen import gen_doc
from docling_nlp_api_spark.operators import extract
from docling_nlp_api_spark.operators.extract import EXTRACT_SCHEMA
from docling_nlp_api_spark.plans import pipeline
from docling_nlp_api_spark.schema import DOCUMENTS_SPANS_SCHEMA
from docling_nlp_api_spark.session import drop_zip_finders

INPUT_SCHEMA = to_arrow_schema(DOCUMENTS_SPANS_SCHEMA)


def test_drop_zip_finders_keeps_zip_imports(tmp_path, monkeypatch):
    """The helper deletes a zip archive's cached zipimporter, and a module
    of that archive still imports afterwards, after the
    importlib.invalidate_caches() a worker runs before each task."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("task_setup_zip_a.py", "X = 1\n")
        z.writestr("task_setup_zip_b.py", "X = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("task_setup_zip_a").X == 1
        assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
        drop_zip_finders()
        assert str(archive) not in sys.path_importer_cache
        assert not any(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        importlib.invalidate_caches()
        assert importlib.import_module("task_setup_zip_b").X == 2
    finally:
        for name in ("task_setup_zip_a", "task_setup_zip_b"):
            sys.modules.pop(name, None)


def _docs(nums):
    return pa.RecordBatch.from_pylist(
        [dict(zip(("doc_id", "spans"), gen_doc(n))) for n in nums], schema=INPUT_SCHEMA
    )


def _with_part_ids(batch, n_parts):
    """`batch` with part_id i % n_parts on its row i, as the staging job's
    input."""
    ids = pa.array([i % n_parts for i in range(batch.num_rows)], pa.int32())
    schema = INPUT_SCHEMA.append(pa.field("part_id", pa.int32(), nullable=False))
    return pa.RecordBatch.from_arrays([*batch.columns, ids], schema=schema)


def _failing(batches):
    yield from batches
    raise RuntimeError("input failed")


@pytest.fixture()
def helper_calls(monkeypatch):
    calls = []
    for module in (pipeline, extract):
        monkeypatch.setattr(module, "drop_zip_finders", lambda m=module: calls.append(m.__name__))
    return calls


def test_task_bodies_drop_zip_finders(tmp_path, helper_calls):
    """Staging, the pipeline's extraction and extract() each call the
    helper once when their body ends, and also when it raises. A staging
    task writes one file per part_id it sees, with all of its rows of
    that part_id in one row group, not one per input batch."""
    fs = pafs.LocalFileSystem()
    staged = str(tmp_path / "_staged")
    batches = [_with_part_ids(_docs(range(k, k + 6)), 3) for k in (1, 7)]
    schema = INPUT_SCHEMA.with_metadata({"k": "v"})

    rows = pa.Table.from_batches(
        pipeline._stage_files(iter(batches), fs=fs, path=staged, schema=schema)
    ).to_pylist()
    assert helper_calls == [pipeline.__name__]
    want = pa.Table.from_batches(batches)
    assert sorted(r["part_id"] for r in rows) == sorted(set(want.column("part_id").to_pylist()))
    for r in rows:
        assert r["path"].startswith(f"{staged}/part_id={r['part_id']}/.")
        f = pq.ParquetFile(r["path"])
        assert f.metadata.num_row_groups == 1 and f.schema_arrow.equals(schema, check_metadata=True)
        mask = np.asarray(want.column("part_id")) == r["part_id"]
        assert f.read().to_pylist() == want.filter(mask).select(["doc_id", "spans"]).to_pylist()

    parts = [(r["part_id"], [r["path"]]) for r in rows]
    out = dict(out_path=str(tmp_path / "extracted"), batch_rows=4, schema=EXTRACT_SCHEMA)
    ids = pa.record_batch([pa.array(range(len(parts)))], names=["id"])
    results = list(pipeline._extract_files(iter([ids]), fs=fs, parts=parts, **out))
    assert sum(b.column(2)[0].as_py() for b in results) == 12
    assert list(extract._extract_batches(iter([_docs([1, 2])])))[0].num_rows == 2
    assert helper_calls == [pipeline.__name__] * 2 + [extract.__name__]

    helper_calls.clear()
    with pytest.raises(RuntimeError, match="input failed"):
        list(pipeline._stage_files(_failing(batches), fs=fs, path=staged, schema=schema))
    with pytest.raises(FileNotFoundError):
        list(pipeline._extract_files(iter([pa.record_batch([pa.array([0])], names=["id"])]),
                                     fs=fs, parts=[(0, [f"{staged}/missing.parquet"])], **out))
    with pytest.raises(RuntimeError, match="input failed"):
        list(extract._extract_batches(_failing([_docs([3])])))
    assert helper_calls == [pipeline.__name__] * 2 + [extract.__name__]


def test_stage_files_flushes_past_row_group_bytes(tmp_path, monkeypatch, helper_calls):
    """Past _ROW_GROUP_BYTES buffered, a staging task writes each part_id's
    buffered rows as a file of its own, so it never holds more than one
    file open: here every input batch is a flush, and each part_id gets
    one single-row-group file per batch, together its rows in input
    order."""
    monkeypatch.setattr(pipeline, "_ROW_GROUP_BYTES", 1)
    batches = [_with_part_ids(_docs(range(k, k + 6)), 3) for k in (1, 7)]
    fs = pafs.LocalFileSystem()
    rows = pa.Table.from_batches(
        pipeline._stage_files(iter(batches), fs=fs, path=str(tmp_path), schema=INPUT_SCHEMA)
    ).to_pylist()
    want = pa.Table.from_batches(batches)
    for pid in range(3):
        files = [pq.ParquetFile(r["path"]) for r in rows if r["part_id"] == pid]
        assert len(files) == 2 and all(f.metadata.num_row_groups == 1 for f in files)
        mask = np.asarray(want.column("part_id")) == pid
        got = [row for f in files for row in f.read().to_pylist()]
        assert got == want.filter(mask).select(["doc_id", "spans"]).to_pylist()
