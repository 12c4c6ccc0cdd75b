"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import check, inputs, trace  # noqa: E402


@pytest.fixture(scope="module")
def pool() -> pa.Table:
    """40 fixture docs plus two cheap synthetic mega-docs."""
    from docling_nlp_api_spark.datagen import gen_doc

    rows = [gen_doc(n) for n in range(1, 41)]
    for m in range(2):
        rows.append((f"mega{m}", [
            {"kind": "p", "text": f"word{i % 7} and more", "media_ref": "", "offset": i, "bbox": None}
            for i in range(5001 + m)
        ]))
    return pa.Table.from_pydict(
        {"doc_id": [r[0] for r in rows], "spans": [r[1] for r in rows]}, schema=inputs.DOC_SCHEMA
    )


def _written_fingerprint(table: pa.Table, d: str, fmt: str) -> str:
    inputs.write_input(table, d, fmt)
    return inputs.fingerprint(inputs._data_files(d))


def test_sample_is_deterministic_per_seed(pool, tmp_path):
    a = inputs.sample_docs(pool, 5, 20, 1, "kernel")
    b = inputs.sample_docs(pool, 5, 20, 1, "kernel")
    c = inputs.sample_docs(pool, 6, 20, 1, "kernel")
    assert a.equals(b)
    assert not a.column("spans").equals(c.column("spans"))
    assert inputs.input_stats(a)["input.mega_docs"] == 1
    for fmt in ("arrow", "parquet"):
        fa = _written_fingerprint(a, str(tmp_path / f"a-{fmt}"), fmt)
        fb = _written_fingerprint(b, str(tmp_path / f"b-{fmt}"), fmt)
        fc = _written_fingerprint(c, str(tmp_path / f"c-{fmt}"), fmt)
        assert fa == fb != fc


def test_prepare_caches_and_rejects_changed_bytes(pool, tmp_path):
    calls = []

    def build():
        calls.append(1)
        return inputs.sample_docs(pool, 1, 10, 0, "x"), "arrow"

    d1, fp1, _ = inputs.prepare(str(tmp_path), "k", build)
    d2, fp2, _ = inputs.prepare(str(tmp_path), "k", build)
    assert (d1, fp1) == (d2, fp2) and len(calls) == 1
    with open(os.path.join(d1, "input.arrow"), "r+b") as f:
        f.seek(100)
        f.write(b"\x00\x01\x02")
    _, fp3, _ = inputs.prepare(str(tmp_path), "k", build)
    assert fp3 == fp1 and len(calls) == 2


def test_unicode_share(pool):
    base = inputs.sample_docs(pool, 3, 30, 0, "kernel")
    uni = inputs.unicode_texts(base, 3, 0.25)
    before = base.column("spans").combine_chunks().flatten().field("text").to_pylist()
    after = uni.column("spans").combine_chunks().flatten().field("text").to_pylist()
    text_spans = sum(1 for t in before if t)
    changed = [(x, y) for x, y in zip(before, after) if x != y]
    assert len(changed) == round(0.25 * text_spans)
    assert all(not y.isascii() for _, y in changed)
    assert all(x.isascii() for x in before)
    frac = inputs.nonascii_span_frac(uni)
    assert frac == pytest.approx(len(changed) / len(before))
    # the other columns are untouched
    assert uni.column("doc_id").equals(base.column("doc_id"))
    assert uni.column("spans").combine_chunks().value_lengths().equals(
        base.column("spans").combine_chunks().value_lengths())


def _kernel_output(table: pa.Table) -> pa.Table:
    from docling_nlp_api_spark.operators.extract_arrow import extract_map_in_arrow

    return pa.Table.from_batches(list(extract_map_in_arrow(table.to_batches(max_chunksize=8))))


@pytest.mark.parametrize("share", [0.0, 0.25])
def test_kernel_output_matches_oracle(pool, share):
    t = inputs.sample_docs(pool, 2, 24, 1, "kernel")
    if share:
        t = inputs.unicode_texts(t, 2, share)
    expected = check.oracle_outputs(t.to_pylist())
    assert check.compare(expected, check.kernel_rows(_kernel_output(t))) == []


def test_corrupted_kernel_output_fails_check(pool):
    t = inputs.sample_docs(pool, 4, 12, 0, "kernel")
    expected = check.oracle_outputs(t.to_pylist())
    got = check.kernel_rows(_kernel_output(t))
    doc = next(d for d, r in got.items() if r["spans"])
    k, text, ref, order = got[doc]["spans"][0]
    got[doc]["spans"][0] = (k, text + "x", ref, order)
    errs = check.compare(expected, got)
    assert len(errs) == 1 and doc in errs[0]

    got = check.kernel_rows(_kernel_output(t))
    got[doc]["metadata"]["word_count"] = str(int(got[doc]["metadata"]["word_count"]) + 1)
    assert check.compare(expected, got)

    got = check.kernel_rows(_kernel_output(t))
    del got[doc]
    assert check.compare(expected, got) == [f"{doc}: missing from output"]


def test_tracer_nesting():
    tr = trace.Tracer("r1")
    with tr.span("outer") as outer:
        tr.add("child", 1.0, 2.0, n=3)
        with tr.span("inner"):
            pass
    names = {s["name"]: s for s in tr.spans}
    assert names["child"]["parent"] == outer["id"]
    assert names["inner"]["parent"] == outer["id"]
    assert names["outer"]["parent"] is None
    assert all(s["run_id"] == "r1" and s["end"] >= s["start"] for s in tr.spans)


def test_process_tree_sampling():
    with trace.PeakRss(os.getpid()) as mem:
        mem.sample()
    assert mem.peak > 0 and mem.at_peak
    assert trace.tree_cpu_s(os.getpid()) > 0
    assert os.getpid() in trace.tree_pids(os.getpid())


def test_event_log_parser_on_tiny_pipeline_run(pool, tmp_path):
    from docling_nlp_api_spark.plans.pipeline import ExtractionPipeline
    from docling_nlp_api_spark.session import get_spark

    events = tmp_path / "events"
    events.mkdir()
    spark = get_spark("perfbench-test", cores=2, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + str(events),
        "spark.eventLog.compress": "false",
    })
    try:
        t = inputs.sample_docs(pool, 1, 20, 0, "pipe")
        inputs.write_input(t, str(tmp_path / "in"), "parquet")
        df = spark.read.parquet(str(tmp_path / "in"))
        p = ExtractionPipeline(spark, str(tmp_path / "out"), run_id="t", n_partitions=2, batch_size=1)
        with pytest.raises(RuntimeError, match="injected failure"):
            p.run(df, fail_after_batches=1)
        p.run(df)
    finally:
        spark.stop()
    events_ = trace.read_event_log(str(events))
    jobs = trace.spark_jobs(events_)
    assert jobs and all(j["ok"] for j in jobs)
    classes = [trace.pipeline_job_class(j) for j in jobs]
    # two commit batches: each appends a checkpoint and a metrics file,
    # writes output and collects stats; the resume reads the checkpoints
    assert classes.count("commit") == 4
    assert {"write", "stats", "ckpt_read"} <= set(classes)
    assert sum(j["bytes_written"] for j in jobs if trace.pipeline_job_class(j) == "write") > 0
    execs = trace.sql_executions(events_)
    span = (min(x["start"] for x in execs), max(x["start"] for x in execs))
    # the unpruned input re-scan of every batch reads the whole input again
    in_bytes = sum(os.path.getsize(p) for p in inputs._data_files(str(tmp_path / "in")))
    assert trace.sql_metric(execs, "size of files read", *span) >= 2 * in_bytes
    assert trace.sql_metric(execs, "number of written files", *span) > 0


def test_run_without_program_exits_nonzero(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    cmd = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["command"]
    r = subprocess.run(
        cmd + ["--workload", "kernel_ascii", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert '"correct"' not in r.stdout


def test_sample_rows_include_a_mega_doc(pool):
    t = inputs.sample_docs(pool, 9, 30, 2, "kernel")
    rows = check.sample_rows(t.num_rows, inputs.span_counts(t), 9, k=5)
    assert any(inputs.span_counts(t)[r] > 5000 for r in rows)
    assert rows == check.sample_rows(t.num_rows, inputs.span_counts(t), 9, k=5)
    assert np.all(np.diff(rows) > 0)
