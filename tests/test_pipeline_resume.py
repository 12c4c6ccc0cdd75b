"""Checkpoint/resume semantics (north rule, SURVEY §5.2(4)):
crash mid-run -> re-run -> identical final table, no double-counted metrics."""

import pytest
from pyspark.sql import functions as F

from docling_nlp_api_spark.datagen import spans_df
from docling_nlp_api_spark.plans.pipeline import ExtractionPipeline

N_DOCS = 300
N_PARTS = 8
BATCH = 2  # 4 commit batches


@pytest.fixture()
def input_df(spark):
    return spans_df(spark, N_DOCS).cache()


def _signature(df):
    """Order-insensitive content signature of the extracted table."""
    return sorted(
        (r["doc_id"], r["status"], len(r["spans"]), r["metadata"].get("word_count"))
        for r in df.select("doc_id", "status", "spans", "metadata").collect()
    )


def test_crash_resume_identical(spark, tmp_path, input_df):
    # reference run: no failure
    ref = ExtractionPipeline(spark, str(tmp_path / "ref"), n_partitions=N_PARTS, batch_size=BATCH)
    ref.run(input_df)
    ref_sig = _signature(ref.read_output())
    assert len(ref_sig) == N_DOCS

    # crash after 1 batch, then resume
    p = ExtractionPipeline(spark, str(tmp_path / "out"), n_partitions=N_PARTS, batch_size=BATCH)
    with pytest.raises(RuntimeError, match="injected failure"):
        p.run(input_df, fail_after_batches=1)
    committed_after_crash = p.committed_partitions()
    assert 0 < len(committed_after_crash) < N_PARTS

    summary = p.run(input_df)  # resume
    assert summary["partitions_done"] == N_PARTS
    assert _signature(p.read_output()) == ref_sig

    # metrics: exactly one row per partition, no double counting
    m = p.read_metrics()
    per_part = m.groupBy("partition_id").count().collect()
    assert len(per_part) == N_PARTS
    assert all(r["count"] == 1 for r in per_part)
    assert m.agg(F.sum("docs_in")).collect()[0][0] == N_DOCS
    assert m.agg(F.sum("docs_out")).collect()[0][0] == N_DOCS


def test_rerun_is_noop(spark, tmp_path, input_df):
    p = ExtractionPipeline(spark, str(tmp_path / "out2"), n_partitions=4, batch_size=4)
    p.run(input_df)
    sig1 = _signature(p.read_output())
    summary = p.run(input_df)  # everything committed -> nothing to do
    assert summary["batches"] == 0
    assert _signature(p.read_output()) == sig1
    assert p.read_metrics().count() == 4


def test_staged_crash_resume_identical(spark, tmp_path, input_df):
    """stage_input=True: same exactly-once/equality contract, and the
    batch scans prune to the staged part_id dirs (the Iceberg-bucketed
    source stand-in)."""
    ref = ExtractionPipeline(
        spark, str(tmp_path / "ref"), n_partitions=N_PARTS, batch_size=BATCH
    )
    ref.run(input_df)
    ref_sig = _signature(ref.read_output())

    p = ExtractionPipeline(
        spark, str(tmp_path / "st"), n_partitions=N_PARTS, batch_size=BATCH,
        stage_input=True,
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        p.run(input_df, fail_after_batches=1)
    # staging is write-once: marker exists and records the bucket count
    staged_marker = tmp_path / "st" / "_staged" / "_STAGED_LAYOUT"
    assert staged_marker.read_text().split()[0] == str(N_PARTS)

    summary = p.run(input_df)
    assert summary["partitions_done"] == N_PARTS
    assert _signature(p.read_output()) == ref_sig

    m = p.read_metrics()
    per_part = m.groupBy("partition_id").count().collect()
    assert len(per_part) == N_PARTS and all(r["count"] == 1 for r in per_part)
    assert m.agg(F.sum("docs_in")).collect()[0][0] == N_DOCS

    # a batch's chunk plan prunes: the part_id predicate must appear
    # INSIDE the scan's PartitionFilters list (an unpartitioned scan
    # still prints "PartitionFilters: []", so substring checks on the
    # two tokens separately are vacuous)
    import re

    src = p._staged_src(input_df)
    plan = src.filter(F.col("part_id").isin([0, 1]))._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*part_id", plan), plan


def test_staged_restage_wipes_dead_attempt_orphans(spark, tmp_path, input_df):
    """A crash BETWEEN the staging parquet commit and the marker write
    must not leak dead-attempt part_id dirs into the retry: run() sets
    partitionOverwriteMode=dynamic, under which mode("overwrite") only
    replaces partitions present in the NEW data, so a retry with a
    smaller bucket count would otherwise read the union of both layouts.
    _staged_src wipes the dir whenever the marker is absent."""
    dead = ExtractionPipeline(
        spark, str(tmp_path / "wo"), n_partitions=N_PARTS * 2, batch_size=BATCH,
        stage_input=True,
    )
    # simulate the crash window: staging parquet committed, marker never
    # written (the marker write is the commit point)
    dead._staged_src(input_df)
    marker = tmp_path / "wo" / "_staged" / "_STAGED_LAYOUT"
    marker.unlink()
    orphan_dirs = {
        d.name for d in (tmp_path / "wo" / "_staged").iterdir() if d.is_dir()
    }
    assert len(orphan_dirs) == N_PARTS * 2  # dead attempt's 16 part_id dirs

    # retry at half the bucket count: dynamic overwrite alone would leave
    # part_id=8..15 orphans; the wipe must remove them
    p = ExtractionPipeline(
        spark, str(tmp_path / "wo"), n_partitions=N_PARTS, batch_size=BATCH,
        stage_input=True,
    )
    p.run(input_df)
    staged_dirs = {
        d.name for d in (tmp_path / "wo" / "_staged").iterdir() if d.is_dir()
    }
    assert staged_dirs == {f"part_id={i}" for i in range(N_PARTS)}
    ref = ExtractionPipeline(
        spark, str(tmp_path / "woref"), n_partitions=N_PARTS, batch_size=BATCH
    )
    ref.run(input_df)
    assert _signature(p.read_output()) == _signature(ref.read_output())
    assert p.read_metrics().agg(F.sum("docs_in")).collect()[0][0] == N_DOCS


def test_staged_layout_mismatch_raises(spark, tmp_path, input_df):
    p = ExtractionPipeline(
        spark, str(tmp_path / "mm"), n_partitions=N_PARTS, batch_size=BATCH,
        stage_input=True,
    )
    p.run(input_df)
    p2 = ExtractionPipeline(
        spark, str(tmp_path / "mm"), run_id="other", n_partitions=N_PARTS * 2,
        batch_size=BATCH, stage_input=True,
    )
    with pytest.raises(ValueError, match="bucketed for"):
        p2.run(input_df)


def test_staged_rejects_different_inmemory_input(spark, tmp_path, input_df):
    """In-memory inputs have no inputFiles(), so before round 4 every
    such input hashed to the same src_key and a second pipeline run over
    DIFFERENT data silently reused the first input's staged parquet.
    The content-fingerprint fallback must reject the mismatch — and,
    unlike a plan hash (semanticHash embeds the LogicalRDD identity, so
    two byte-identical createDataFrame inputs hash differently), it must
    ACCEPT the same input re-created from scratch, or a fresh-session
    resume of an in-memory pipeline would falsely abort."""
    p = ExtractionPipeline(
        spark, str(tmp_path / "sh"), n_partitions=N_PARTS, batch_size=BATCH,
        stage_input=True,
    )
    p.run(input_df)

    other = spans_df(spark, N_DOCS // 2)  # different in-memory input
    p2 = ExtractionPipeline(
        spark, str(tmp_path / "sh"), run_id="other", n_partitions=N_PARTS,
        batch_size=BATCH, stage_input=True,
    )
    with pytest.raises(ValueError, match="bucketed for"):
        p2.run(other)

    # the SAME content RE-CREATED (fresh DataFrame object and lineage,
    # different partition count — the fresh-session resume case) must
    # match the fingerprint and resume as a committed no-op
    recreated = spans_df(spark, N_DOCS, partitions=3)
    p3 = ExtractionPipeline(
        spark, str(tmp_path / "sh"), n_partitions=N_PARTS, batch_size=BATCH,
        stage_input=True,
    )
    assert p3.run(recreated)["batches"] == 0


def test_staged_legacy_plan_marker_rejected(spark, tmp_path, input_df):
    """A 'plan:<semanticHash>' marker (the key format before content
    fingerprints) is a layout mismatch like any other: the run refuses
    loudly, even for the input that was staged, and leaves the marker
    as it found it — stale staging is never silently reused."""
    p = ExtractionPipeline(
        spark, str(tmp_path / "lg"), n_partitions=N_PARTS, batch_size=BATCH,
        stage_input=True,
    )
    p.run(input_df)
    marker = tmp_path / "lg" / "_staged" / "_STAGED_LAYOUT"
    marker.write_text(f"{N_PARTS} plan:deadbeef")

    p2 = ExtractionPipeline(
        spark, str(tmp_path / "lg"), n_partitions=N_PARTS, batch_size=BATCH,
        stage_input=True,
    )
    with pytest.raises(ValueError, match=f"bucketed for '{N_PARTS} plan:deadbeef'"):
        p2.run(input_df)
    assert marker.read_text() == f"{N_PARTS} plan:deadbeef"  # untouched


def _part_recount(df, n_parts):
    """{part_id: (docs, failed, spans)} recounted from a DataFrame of
    (doc_id, spans[, status]) rows, independently of the pipeline."""
    failed = F.col("status") == "failed" if "status" in df.columns else F.lit(False)
    rows = (
        df.groupBy(F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int").alias("p"))
        .agg(
            F.count("*").alias("docs"),
            F.count_if(failed).alias("failed"),
            F.sum(F.size("spans")).alias("spans"),
        )
        .collect()
    )
    return {r["p"]: (r["docs"], r["failed"], r["spans"]) for r in rows}


@pytest.mark.parametrize("stage_input", [False, True])
def test_metrics_exact_per_partition(spark, tmp_path, stage_input):
    """Every _metrics and _checkpoints row equals an independent
    per-partition recount of the input and of the output. The input holds
    a mega-doc (num 997) and two unknown-kind docs (failure rows), and
    has fewer docs than partitions: some batch has no mega-doc, and some
    partition and one whole batch have no doc at all, where the observed
    sums are NULL."""
    from docling_nlp_api_spark.schema import CHECKPOINT_SCHEMA, DOCUMENTS_SPANS_SCHEMA
    from docling_nlp_api_spark.spec import MEGA_SPAN_THRESHOLD

    n_parts, batch_size = 16, 3
    bad = spark.createDataFrame(
        [(f"bad-{i}", [("blink", "x", "", 0, None)] * (i + 1)) for i in range(2)],
        DOCUMENTS_SPANS_SCHEMA,
    )
    df = spans_df(spark, 10, start=990).unionByName(bad).cache()
    assert df.filter(F.size("spans") > MEGA_SPAN_THRESHOLD).count() == 1

    p = ExtractionPipeline(
        spark, str(tmp_path / "mx"), n_partitions=n_parts, batch_size=batch_size,
        stage_input=stage_input,
    )
    summary = p.run(df)
    assert summary["partitions_done"] == n_parts and summary["docs_out"] == 12
    assert len(summary["write_s"]) == len(summary["commit_s"]) == summary["batches"] == 6
    assert all(s > 0 for s in summary["write_s"] + summary["commit_s"])

    ins = _part_recount(df, n_parts)
    outs = _part_recount(p.read_output(), n_parts)
    batches = [range(b, min(b + batch_size, n_parts)) for b in range(0, n_parts, batch_size)]
    assert any(not ins.keys() & set(b) for b in batches)  # a batch with zero docs
    assert sum(o[1] for o in outs.values()) == 2  # the unknown-kind docs
    zero = (0, 0, 0)
    metrics = p.read_metrics().collect()
    assert sorted(r["partition_id"] for r in metrics) == list(range(n_parts))
    for r in metrics:
        i, o = ins.get(r["partition_id"], zero), outs.get(r["partition_id"], zero)
        assert (r["docs_in"], r["spans_in"]) == (i[0], i[2]), r
        assert (r["docs_out"], r["docs_failed"], r["spans_out"]) == o, r
    ck = spark.read.schema(CHECKPOINT_SCHEMA).parquet(p.ckpt_dir).collect()
    assert sorted(r["partition_id"] for r in ck) == list(range(n_parts))
    for r in ck:
        i, o = ins.get(r["partition_id"], zero), outs.get(r["partition_id"], zero)
        assert (r["rows_in"], r["rows_out"]) == (i[0], o[0]), r


def test_crash_after_output_before_commit_records(spark, tmp_path, input_df, monkeypatch):
    """Crash point: a batch's output is written but its checkpoint append
    fails. Its partitions stay uncommitted, the resume rewrites their
    output, and the result equals an uninterrupted run with exactly one
    checkpoint and one metrics row per partition."""
    from docling_nlp_api_spark.schema import CHECKPOINT_SCHEMA

    ref = ExtractionPipeline(spark, str(tmp_path / "ref"), n_partitions=N_PARTS, batch_size=BATCH)
    ref.run(input_df)

    p = ExtractionPipeline(spark, str(tmp_path / "cp"), n_partitions=N_PARTS, batch_size=BATCH)
    real_append = ExtractionPipeline._append_records
    calls = []

    def failing_append(self, rows, schema, path):
        calls.append(path)
        if len(calls) == 1:
            raise RuntimeError("append failed")
        return real_append(self, rows, schema, path)

    monkeypatch.setattr(ExtractionPipeline, "_append_records", failing_append)
    with pytest.raises(RuntimeError, match="append failed"):
        p.run(input_df)
    first_batch = list(range(BATCH))
    assert p.committed_partitions() == set()
    extracted = tmp_path / "cp" / "extracted"
    written = {
        f.relative_to(extracted) for k in first_batch for f in extracted.glob(f"part_id={k}/*.parquet")
    }
    assert written  # the output write ran before the failed append

    summary = p.run(input_df)
    assert summary["batches"] == N_PARTS // BATCH  # the failed batch is redone
    assert summary["partitions_done"] == N_PARTS
    rewritten = {
        f.relative_to(extracted) for k in first_batch for f in extracted.glob(f"part_id={k}/*.parquet")
    }
    assert rewritten and not rewritten & written
    assert _signature(p.read_output()) == _signature(ref.read_output())
    for rows in (
        spark.read.schema(CHECKPOINT_SCHEMA).parquet(p.ckpt_dir).collect(),
        p.read_metrics().collect(),
    ):
        assert sorted(r["partition_id"] for r in rows) == list(range(N_PARTS))


def test_commit_records_match_tuple_path(spark, tmp_path):
    """The Arrow-built commit records read back, through the table
    schemas, to the same values as rows appended from Python tuples:
    naive-UTC timestamps to the microsecond included, and with the same
    parquet schema on disk."""
    import datetime as dt
    import glob

    import pyarrow.parquet as pq

    from docling_nlp_api_spark.schema import CHECKPOINT_SCHEMA, METRICS_SCHEMA

    t0 = dt.datetime(2024, 3, 31, 1, 30, 5, 123456)
    t1 = dt.datetime(2024, 10, 27, 2, 59, 59, 999999)
    p = ExtractionPipeline(spark, str(tmp_path / "rt"))
    cases = {
        "ck": (CHECKPOINT_SCHEMA, [("r1", 0, "committed", 5, 4, t0, t1),
                                   ("r1", 7, "committed", 0, 0, t1, None)]),
        "mt": (METRICS_SCHEMA, [("r1", 0, 5, 4, 1, 120, 99, 0.25),
                                ("r1", 7, 0, 0, 0, 0, 0, 1e-9)]),
    }
    for name, (schema, rows) in cases.items():
        arrow_dir, tuple_dir = str(tmp_path / f"{name}_arrow"), str(tmp_path / f"{name}_tuple")
        p._append_records(rows, schema, arrow_dir)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(tuple_dir)
        got = [
            tuple(r) for r in spark.read.schema(schema).parquet(arrow_dir).orderBy("partition_id").collect()
        ]
        want = [
            tuple(r) for r in spark.read.schema(schema).parquet(tuple_dir).orderBy("partition_id").collect()
        ]
        assert got == want == rows
        arrow_file, tuple_file = (glob.glob(f"{d}/*.parquet") for d in (arrow_dir, tuple_dir))
        assert len(arrow_file) == len(tuple_file) == 1
        assert pq.read_schema(arrow_file[0]).equals(pq.read_schema(tuple_file[0]), check_metadata=True)
