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
    """The staged layout: same exactly-once/equality contract, and the
    staged table prunes to its part_id dirs (the Iceberg-bucketed source
    stand-in)."""
    ref = ExtractionPipeline(
        spark, str(tmp_path / "ref"), n_partitions=N_PARTS, batch_size=BATCH
    )
    ref.run(input_df)
    ref_sig = _signature(ref.read_output())

    p = ExtractionPipeline(
        spark, str(tmp_path / "st"), n_partitions=N_PARTS, batch_size=BATCH,
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

    p._stage(input_df)
    src = spark.read.option("basePath", p.staged_dir).parquet(p.staged_dir)
    plan = src.filter(F.col("part_id").isin([0, 1]))._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*part_id", plan), plan


def test_staged_restage_wipes_dead_attempt_orphans(spark, tmp_path, input_df):
    """A crash BETWEEN the publication of the staged files and the marker
    write must not leak dead-attempt part_id dirs into the retry: staging
    writes only the part_id dirs of the NEW data, so a retry with a
    smaller bucket count would otherwise read the union of both layouts,
    in any session (this one sets partitionOverwriteMode=dynamic, which
    no longer matters to staging). _stage wipes the dir whenever the
    marker is absent."""
    dead = ExtractionPipeline(
        spark, str(tmp_path / "wo"), n_partitions=N_PARTS * 2, batch_size=BATCH,
    )
    # simulate the crash window: staged files published, marker never
    # written (the marker write is the commit point)
    dead._stage(input_df)
    marker = tmp_path / "wo" / "_staged" / "_STAGED_LAYOUT"
    marker.unlink()
    orphan_dirs = {
        d.name for d in (tmp_path / "wo" / "_staged").iterdir() if d.is_dir()
    }
    assert len(orphan_dirs) == N_PARTS * 2  # dead attempt's 16 part_id dirs

    # retry at half the bucket count: without the wipe, part_id=8..15
    # would stay as orphans
    p = ExtractionPipeline(
        spark, str(tmp_path / "wo"), n_partitions=N_PARTS, batch_size=BATCH,
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        p.run(input_df)
    finally:
        spark.conf.set(key, mode)
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


def test_run_leaves_session_overwrite_mode(spark, tmp_path, input_df):
    """run() sets no session configuration: the session's
    partitionOverwriteMode is the same after a run as before it, so a
    later partitioned overwrite in the same session keeps its own
    semantics."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    p = ExtractionPipeline(spark, str(tmp_path / "conf"), n_partitions=N_PARTS, batch_size=BATCH)
    p.run(input_df)
    assert spark.conf.get(key) == before
    assert p.read_metrics().agg(F.sum("docs_in")).collect()[0][0] == N_DOCS


def test_staged_layout_mismatch_raises(spark, tmp_path, input_df):
    p = ExtractionPipeline(
        spark, str(tmp_path / "mm"), n_partitions=N_PARTS, batch_size=BATCH,
    )
    p.run(input_df)
    p2 = ExtractionPipeline(
        spark, str(tmp_path / "mm"), run_id="other", n_partitions=N_PARTS * 2,
        batch_size=BATCH,
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
    )
    p.run(input_df)

    other = spans_df(spark, N_DOCS // 2)  # different in-memory input
    p2 = ExtractionPipeline(
        spark, str(tmp_path / "sh"), run_id="other", n_partitions=N_PARTS,
        batch_size=BATCH,
    )
    with pytest.raises(ValueError, match="bucketed for"):
        p2.run(other)

    # the SAME content RE-CREATED (fresh DataFrame object and lineage,
    # different partition count — the fresh-session resume case) must
    # match the fingerprint and resume as a committed no-op
    recreated = spans_df(spark, N_DOCS, partitions=3)
    p3 = ExtractionPipeline(
        spark, str(tmp_path / "sh"), n_partitions=N_PARTS, batch_size=BATCH,
    )
    assert p3.run(recreated)["batches"] == 0


def test_staged_legacy_plan_marker_rejected(spark, tmp_path, input_df):
    """A 'plan:<semanticHash>' marker (the key format before content
    fingerprints) is a layout mismatch like any other: the run refuses
    loudly, even for the input that was staged, and leaves the marker
    as it found it — stale staging is never silently reused."""
    p = ExtractionPipeline(
        spark, str(tmp_path / "lg"), n_partitions=N_PARTS, batch_size=BATCH,
    )
    p.run(input_df)
    marker = tmp_path / "lg" / "_staged" / "_STAGED_LAYOUT"
    marker.write_text(f"{N_PARTS} plan:deadbeef")

    p2 = ExtractionPipeline(
        spark, str(tmp_path / "lg"), n_partitions=N_PARTS, batch_size=BATCH,
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


@pytest.mark.parametrize("file_backed", [False, True])
def test_metrics_exact_per_partition(spark, tmp_path, file_backed):
    """Every _metrics and _checkpoints row equals an independent
    per-partition recount of the input and of the output. The input holds
    a mega-doc (num 997) and two unknown-kind docs (failure rows), and
    has fewer docs than partitions: some batch has no mega-doc, and some
    partition and one whole batch have no doc at all, where the observed
    sums are NULL. The input is staged from memory (content-fingerprinted)
    and from parquet files (fingerprinted by its file list)."""
    from docling_nlp_api_spark.schema import CHECKPOINT_SCHEMA, DOCUMENTS_SPANS_SCHEMA
    from docling_nlp_api_spark.spec import MEGA_SPAN_THRESHOLD

    n_parts, batch_size = 16, 3
    bad = spark.createDataFrame(
        [(f"bad-{i}", [("blink", "x", "", 0, None)] * (i + 1)) for i in range(2)],
        DOCUMENTS_SPANS_SCHEMA,
    )
    df = spans_df(spark, 10, start=990).unionByName(bad).cache()
    assert df.filter(F.size("spans") > MEGA_SPAN_THRESHOLD).count() == 1
    if file_backed:
        df.write.parquet(str(tmp_path / "src"))
        df = spark.read.parquet(str(tmp_path / "src"))
        assert df.inputFiles()

    p = ExtractionPipeline(
        spark, str(tmp_path / "mx"), n_partitions=n_parts, batch_size=batch_size,
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
    """Crash point: a batch's output is written but its first commit
    record fails. Its partitions stay uncommitted, the resume rewrites their
    output, and the result equals an uninterrupted run with exactly one
    checkpoint and one metrics row per partition."""
    from docling_nlp_api_spark.schema import CHECKPOINT_SCHEMA

    ref = ExtractionPipeline(spark, str(tmp_path / "ref"), n_partitions=N_PARTS, batch_size=BATCH)
    ref.run(input_df)

    p = ExtractionPipeline(spark, str(tmp_path / "cp"), n_partitions=N_PARTS, batch_size=BATCH)
    real_write = ExtractionPipeline._write_record
    calls = []

    def failing_write(self, fs, path, schema, row):
        calls.append(path)
        if len(calls) == 1:
            raise RuntimeError("append failed")
        return real_write(self, fs, path, schema, row)

    monkeypatch.setattr(ExtractionPipeline, "_write_record", failing_write)
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


MX_PARTS = 6  # 3 commit batches of BATCH: the crash hits the second one
# Crash points in the second batch, by name: the partitions committed at
# the crash, and the 1-based record write of the run that fails (a batch
# writes BATCH metrics files, then BATCH checkpoint files); None crashes
# elsewhere.
_CRASH_POINTS = {
    "mid_output_write": ({0, 1}, None),
    "after_output": ({0, 1}, 2 * BATCH + 1),
    "after_some_metrics": ({0, 1}, 2 * BATCH + 2),
    "after_all_metrics": ({0, 1}, 3 * BATCH + 1),
    "after_some_checkpoints": ({0, 1, 2}, 3 * BATCH + 2),
    "after_all_checkpoints": ({0, 1, 2, 3}, None),
    # the output of the crashed batch is published, then a dead attempt's
    # hidden file and a stale visible file land in a pending partition
    "dead_attempt_beside_stale_file": ({0, 1}, 2 * BATCH + 1),
    "mid_move": ({0, 1}, None),
    "after_moves": ({0, 1}, None),
    # staging, in the first run: after the staging job, before any move of
    # a staged file; in the middle of the moves; after them, before the
    # _STAGED_LAYOUT marker
    "stage_before_moves": (set(), None),
    "stage_mid_move": (set(), None),
    "stage_after_moves": (set(), None),
}


def _final_state(p):
    """(output content key, metrics rows less wall_sec, checkpoint rows
    less timestamps, record files per directory) of a finished run."""
    import os

    from docling_nlp_api_spark.schema import CHECKPOINT_SCHEMA

    out = p.read_output().withColumn("metadata", F.to_json("metadata"))
    ck = p.spark.read.schema(CHECKPOINT_SCHEMA).parquet(p.ckpt_dir)
    return (
        ExtractionPipeline._content_key(out),
        sorted(tuple(r) for r in p.read_metrics().drop("wall_sec").collect()),
        sorted(tuple(r) for r in ck.drop("started_at", "committed_at").collect()),
        {d: sorted(os.listdir(d)) for d in (p.metrics_dir, p.ckpt_dir)},
    )


@pytest.fixture(scope="module")
def matrix_ref(spark, tmp_path_factory):
    p = ExtractionPipeline(
        spark, str(tmp_path_factory.mktemp("mx") / "ref"), n_partitions=MX_PARTS, batch_size=BATCH
    )
    p.run(spans_df(spark, N_DOCS))
    return _final_state(p)


def _assert_one_file_per_partition(p):
    """Each partition with docs has exactly one visible output file, and
    a partition without docs has none."""
    from pathlib import Path

    extracted = Path(p.extracted_dir)
    docs = {r["partition_id"]: r["docs_out"] for r in p.read_metrics().collect()}
    n_files = {k: len(list(extracted.glob(f"part_id={k}/*.parquet"))) for k in docs}
    assert n_files == {k: int(n > 0) for k, n in docs.items()}, n_files


def _files(root, part_ids):
    """{path relative to root: mtime_ns} of every file, hidden ones
    included, in the part_id dirs `part_ids` under root."""
    return {
        f.relative_to(root): f.stat().st_mtime_ns
        for k in part_ids
        for f in (root / f"part_id={k}").glob("*")
    }


@pytest.mark.parametrize("point", list(_CRASH_POINTS))
def test_crash_matrix_resumes_exactly(spark, tmp_path, input_df, monkeypatch, matrix_ref, point):
    """A crash at each step of a commit batch: mid-output-write (a task of
    the write job fails), mid-move (some of the batch's output files are
    visible, some still hidden attempt files), after the moves, after the
    output with a dead attempt's file and a stale visible file left in a
    pending partition, after some and after all of the batch's metrics
    files, after some and after all of its checkpoint files; and at each
    step of staging: before, in the middle of and after the moves of the
    staged files. The crash leaves exactly the partitions with a
    checkpoint file committed, the resume never touches their output
    files nor reads a file of a dead staging attempt, and the result
    equals an uninterrupted run: the same output content, the same
    metrics and checkpoint rows, and exactly one record file of each kind
    per partition, with no hidden or temp file left anywhere, _staged
    included."""
    import shutil

    from docling_nlp_api_spark.plans import pipeline

    committed, failing_write = _CRASH_POINTS[point]
    p = ExtractionPipeline(spark, str(tmp_path / point), n_partitions=MX_PARTS, batch_size=BATCH)
    writes, listings, names, publishes = [], [], [], []
    real_write, staged_parts = ExtractionPipeline._write_record, pipeline._staged_parts
    real_name, real_publish = pipeline._visible_name, pipeline._publish_output

    def counting_write(self, fs, path, schema, row):
        writes.append(row)
        if len(writes) == failing_write:
            raise RuntimeError("injected record failure")
        return real_write(self, fs, path, schema, row)

    def parts_with_missing_file(*args):
        parts = staged_parts(*args)
        listings.append(parts)
        if point == "mid_output_write" and len(listings) == 2:
            paths = parts[0][1]
            paths.append(f"{paths[0]}.missing")
        return parts

    def failing_name():
        # the first publish of the run is its staging
        if (point == "mid_move" and len(listings) == 2
                or point == "stage_mid_move" and len(publishes) == 1):
            names.append(1)
            if len(names) == 2:
                raise RuntimeError("injected move failure")
        return real_name()

    def failing_publish(*args):
        publishes.append(args[1])
        if point == "stage_before_moves" and len(publishes) == 1:
            raise RuntimeError("injected failure before the moves")
        real_publish(*args)
        if (point == "after_moves" and len(listings) == 2
                or point == "stage_after_moves" and len(publishes) == 1):
            raise RuntimeError("injected failure after the moves")

    monkeypatch.setattr(ExtractionPipeline, "_write_record", counting_write)
    monkeypatch.setattr(pipeline, "_staged_parts", parts_with_missing_file)
    monkeypatch.setattr(pipeline, "_visible_name", failing_name)
    monkeypatch.setattr(pipeline, "_publish_output", failing_publish)
    with pytest.raises(Exception, match="missing|injected"):
        p.run(input_df, fail_after_batches=2)
    assert p.committed_partitions() == committed
    staged = tmp_path / point / "_staged"
    dead = {f.name for f in staged.rglob("*") if f.is_file()}
    if point.startswith("stage_"):
        assert publishes[0].endswith("/_staged") and not listings
        assert not (staged / "_STAGED_LAYOUT").exists()
        dead_hidden = [n for n in dead if n.startswith(".")]
        if point == "stage_before_moves":
            assert dead and len(dead_hidden) == len(dead)
        if point == "stage_mid_move":
            assert dead_hidden and len(dead_hidden) < len(dead)
        if point == "stage_after_moves":
            assert dead and not dead_hidden
    n_listed = len(listings)

    extracted = tmp_path / point / "extracted"
    crashed = [f.name for f in _files(extracted, [2, 3])]
    hidden = [n for n in crashed if n.startswith(".")]
    if point == "mid_move":
        assert hidden and len(hidden) < len(crashed)
    if point == "after_moves":
        assert crashed and not hidden
    if point == "dead_attempt_beside_stale_file":
        stale = next((extracted / "part_id=0").glob("*.parquet"))
        shutil.copy(stale, extracted / "part_id=2" / f"part-stale{stale.name[4:]}")
        shutil.copy(stale, extracted / "part_id=2" / ".dead.attempt")
    kept = _files(extracted, committed)
    assert kept or not committed
    summary = p.run(input_df)
    assert summary["partitions_done"] == MX_PARTS
    assert _files(extracted, committed) == kept
    assert _final_state(p)[:3] == matrix_ref[:3]
    for d, names in _final_state(p)[3].items():
        assert names == [f"run0-{k}.parquet" for k in range(MX_PARTS)], (d, names)
    _assert_one_file_per_partition(p)
    left = list((tmp_path / point).rglob(".*"))
    assert not left, left
    if point.startswith("stage_"):
        # the resume read only files of its own staging
        read = {
            path.rsplit("/", 1)[1]
            for parts in listings[n_listed:] for _, ps in parts for path in ps
        }
        assert read and not read & dead
        assert not dead & {f.name for f in staged.rglob("*")}


def test_foreign_checkpoint_file_raises(spark, tmp_path):
    """A parquet file in _checkpoints that is no
    `<run_id>-<partition_id>.parquet`, such as a Spark part file of the
    old append layout, raises a ValueError that names it, before any
    job: passing over it would redo every partition."""
    import datetime as dt
    import re

    from docling_nlp_api_spark.schema import CHECKPOINT_SCHEMA

    p = ExtractionPipeline(spark, str(tmp_path / "ff"), n_partitions=2, batch_size=1)
    t = dt.datetime(2024, 1, 1)
    spark.createDataFrame([("run0", 0, "committed", 1, 1, t, t)], CHECKPOINT_SCHEMA).coalesce(
        1
    ).write.parquet(p.ckpt_dir)
    (part,) = (tmp_path / "ff" / "_checkpoints").glob("part-*.parquet")
    with pytest.raises(ValueError, match=re.escape(part.name)):
        p.committed_partitions()
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "foreign-checkpoint")
    try:
        with pytest.raises(ValueError, match=re.escape(part.name)):
            p.run(spans_df(spark, 3))
        assert list(sc.statusTracker().getJobIdsForGroup("foreign-checkpoint")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_run_ids_sharing_a_directory_do_not_mix(spark, tmp_path):
    """Run ids `a` and `a-1` share one _checkpoints directory: each sees
    only its own partitions (`a-1-3.parquet` is run a-1's partition 3,
    `a-10.parquet` is run a's partition 10), and a third run sees none."""
    import datetime as dt

    from docling_nlp_api_spark.schema import CHECKPOINT_SCHEMA
    from docling_nlp_api_spark.session import arrow_fs

    out = str(tmp_path / "ids")
    t = dt.datetime(2024, 1, 1)
    fs, path = arrow_fs(spark, f"{out}/_checkpoints")
    writer = ExtractionPipeline(spark, out)
    for run_id, pid in [("a", 2), ("a-1", 3), ("a-1", 0), ("a", 10)]:
        writer._write_record(fs, path, CHECKPOINT_SCHEMA, (run_id, pid, "committed", 0, 0, t, t))
    assert ExtractionPipeline(spark, out, run_id="a").committed_partitions() == {2, 10}
    assert ExtractionPipeline(spark, out, run_id="a-1").committed_partitions() == {0, 3}
    assert ExtractionPipeline(spark, out, run_id="1").committed_partitions() == set()


def test_commit_records_match_tuple_path(spark, tmp_path):
    """The pyarrow-written commit records read back, through the table
    schemas, to the same values as rows appended from Python tuples by
    Spark: naive-UTC timestamps to the microsecond and a NULL committed_at
    included, and with the same parquet schema and schema metadata on
    disk. Each record is its own `<run_id>-<partition_id>.parquet`."""
    import datetime as dt
    import glob

    import pyarrow.parquet as pq

    from docling_nlp_api_spark.schema import CHECKPOINT_SCHEMA, METRICS_SCHEMA
    from docling_nlp_api_spark.session import arrow_fs

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
        fs, path = arrow_fs(spark, arrow_dir)
        for row in rows:
            p._write_record(fs, path, schema, row)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(tuple_dir)
        got = [
            tuple(r) for r in spark.read.schema(schema).parquet(arrow_dir).orderBy("partition_id").collect()
        ]
        want = [
            tuple(r) for r in spark.read.schema(schema).parquet(tuple_dir).orderBy("partition_id").collect()
        ]
        assert got == want == rows
        arrow_files, tuple_file = (sorted(glob.glob(f"{d}/*.parquet")) for d in (arrow_dir, tuple_dir))
        assert [f.rsplit("/", 1)[1] for f in arrow_files] == ["r1-0.parquet", "r1-7.parquet"]
        assert len(tuple_file) == 1
        for f in arrow_files:
            assert pq.read_schema(f).equals(pq.read_schema(tuple_file[0]), check_metadata=True)


def _rows(df):
    """extract()-shaped rows of `df`, sorted by doc_id, as plain values."""
    return sorted(
        (
            r["doc_id"], r["status"], [tuple(s) for s in r["spans"]],
            sorted(r["metadata"].items()), list(r["span_pages"]),
            [None if b is None else list(b) for b in r["span_bboxes"]],
        )
        for r in df.select("doc_id", "spans", "status", "metadata", "span_pages", "span_bboxes")
        .collect()
    )


@pytest.fixture()
def recorded_parts(monkeypatch):
    """Every batch's listing of (part_id, staged files), in order."""
    from docling_nlp_api_spark.plans import pipeline

    listings = []
    staged_parts = pipeline._staged_parts

    def recording_staged_parts(*args):
        listings.append(staged_parts(*args))
        return listings[-1]

    monkeypatch.setattr(pipeline, "_staged_parts", recording_staged_parts)
    return listings


def test_output_independent_of_input_layout(spark, tmp_path, recorded_parts):
    """The same docs (with mega-doc 997 and two unknown-kind docs) written
    as 1 file, as 7 files, and as 1 file restaged into row groups of a
    few rows read back in 2-doc Arrow batches: every run gives the same
    output content and the same _metrics rows, and each partition with
    docs has exactly one output file. In the 7-file run some partition's
    file is built from several staged files. Staging writes a task's
    rows of a part_id as one row group, so the small row groups are made
    by rewriting the staged files before the run."""
    import pyarrow.parquet as pq

    from docling_nlp_api_spark.schema import DOCUMENTS_SPANS_SCHEMA

    bad = spark.createDataFrame(
        [(f"bad-{i}", [("blink", "x", "", 0, None)] * (i + 1)) for i in range(2)],
        DOCUMENTS_SPANS_SCHEMA,
    )
    df = spans_df(spark, 10, start=990).unionByName(bad)
    small_groups = {"spark.sql.execution.arrow.maxRecordsPerBatch": "2"}
    layouts = {
        "one_file": (1, {}),
        "seven_files": (7, {}),
        "small_row_groups": (1, small_groups),
    }
    keys, metrics, n_staged = {}, {}, {}
    for name, (n_files, conf) in layouts.items():
        src = str(tmp_path / f"in_{name}")
        df.repartition(n_files).write.parquet(src)
        old = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            p = ExtractionPipeline(spark, str(tmp_path / name), n_partitions=4, batch_size=2)
            n_listed = len(recorded_parts)
            if name == "small_row_groups":
                p._stage(spark.read.parquet(src))
                for f in (tmp_path / name / "_staged").glob("part_id=*/*.parquet"):
                    pq.write_table(pq.ParquetFile(f).read(), f, row_group_size=2)
            p.run(spark.read.parquet(src))
        finally:
            for k, v in old.items():
                spark.conf.unset(k) if v is None else spark.conf.set(k, v)
        staged = sorted((tmp_path / name / "_staged").glob("part_id=*/*.parquet"))
        if name == "small_row_groups":
            assert max(pq.ParquetFile(f).num_row_groups for f in staged) > 1
        n_staged[name] = [len(paths) for parts in recorded_parts[n_listed:] for _, paths in parts]
        _assert_one_file_per_partition(p)
        out = p.read_output().withColumn("metadata", F.to_json("metadata"))
        keys[name] = ExtractionPipeline._content_key(out)
        metrics[name] = sorted(tuple(r) for r in p.read_metrics().drop("wall_sec").collect())
    assert max(n_staged["seven_files"]) > 1  # some partition reads several files
    assert len(set(keys.values())) == 1, keys
    assert len({tuple(m) for m in metrics.values()}) == 1, metrics
    assert sum(r[2] for r in metrics["one_file"]) == 12


def test_pipeline_output_equals_extract(spark, tmp_path):
    """Pipeline output on the kernel-parity adversarial docs and mega-doc
    997 equals extract() on the same input, column for column: the same
    column names and types (nullability aside, which a parquet round trip
    relaxes) and the same rows. Its files hold what a Spark write of
    extract() holds: the same rows (content key with the metadata map as
    JSON) and, file for file, the same parquet schema and schema
    metadata, in one row group."""
    import pyarrow.parquet as pq

    from docling_nlp_api_spark.datagen import gen_doc
    from docling_nlp_api_spark.operators.extract import extract
    from docling_nlp_api_spark.schema import DOCUMENTS_SPANS_SCHEMA

    def S(k, t, r, o):
        return (k, t, r, o, None)

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
    src = str(tmp_path / "in")
    spark.createDataFrame(list(cases.items()), DOCUMENTS_SPANS_SCHEMA).unionByName(
        spans_df(spark, 1, start=997)
    ).write.parquet(src)
    df = spark.read.parquet(src)
    assert df.filter(F.col("doc_id") == gen_doc(997)[0]).count() == 1

    p = ExtractionPipeline(spark, str(tmp_path / "out"), n_partitions=4, batch_size=4)
    p.run(df)
    out = p.read_output()
    assert out.drop("part_id").dtypes == extract(df).dtypes
    want = _rows(extract(df))
    assert len(want) == 10
    assert _rows(out) == want

    ref = str(tmp_path / "spark")
    extract(df).write.parquet(ref)

    def key(d):
        rows = spark.read.parquet(d).withColumn("metadata", F.to_json("metadata"))
        return ExtractionPipeline._content_key(rows.select(*extract(df).columns))

    assert key(p.extracted_dir) == key(ref)
    spark_file = pq.read_schema(next((tmp_path / "spark").glob("*.parquet")))
    files = sorted((tmp_path / "out" / "extracted").rglob("*.parquet"))
    assert files
    for f in files:
        assert pq.read_schema(f).equals(spark_file, check_metadata=True), f
        assert pq.ParquetFile(f).metadata.num_row_groups == 1


def test_empty_batches_commit_zero_counts(spark, tmp_path, recorded_parts):
    """Batches whose partitions hold no doc list no staged file and run
    no write, yet commit one zero-count checkpoint and metrics row each."""
    from docling_nlp_api_spark.schema import CHECKPOINT_SCHEMA

    p = ExtractionPipeline(spark, str(tmp_path / "e"), n_partitions=8, batch_size=1)
    p.run(spans_df(spark, 2))
    assert [] in recorded_parts and len(recorded_parts) == 8
    metrics = {r["partition_id"]: r for r in p.read_metrics().collect()}
    ck = {r["partition_id"]: r for r in spark.read.schema(CHECKPOINT_SCHEMA).parquet(p.ckpt_dir).collect()}
    assert sorted(metrics) == sorted(ck) == list(range(8))
    for i, parts in enumerate(recorded_parts):
        m = metrics[i]
        if not parts:
            assert (m["docs_in"], m["docs_out"], m["spans_in"], m["spans_out"]) == (0, 0, 0, 0)
            assert (ck[i]["status"], ck[i]["rows_in"], ck[i]["rows_out"]) == ("committed", 0, 0)
    assert sum(m["docs_in"] for m in metrics.values()) == 2


def test_arrow_fs_resolves_local_and_rejects_s3a(spark, tmp_path, monkeypatch):
    """Local paths (absolute, relative, file://) resolve to pyarrow's local
    filesystem at the absolute path Spark writes to: a relative path is
    the JVM's, whatever the Python working directory. An s3a:// output
    root fails on the driver with a ValueError that names the scheme,
    before any job."""
    import os

    import pyarrow.fs as pafs

    from docling_nlp_api_spark.session import arrow_fs

    jvm_cwd = spark._jvm.java.lang.System.getProperty("user.dir")
    monkeypatch.chdir(tmp_path)
    assert os.path.realpath(jvm_cwd) != os.path.realpath(tmp_path)
    for uri, path in [
        (str(tmp_path / "a"), str(tmp_path / "a")),
        ("rel/dir", os.path.join(jvm_cwd, "rel", "dir")),
        (f"file://{tmp_path}/b", f"{tmp_path}/b"),
    ]:
        fs, got = arrow_fs(spark, uri)
        assert isinstance(fs, pafs.LocalFileSystem) and got == path, (uri, got)
    with pytest.raises(ValueError, match="'s3a://'"):
        arrow_fs(spark, "s3a://bucket/out/_staged")

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "s3a-output")
    try:
        p = ExtractionPipeline(spark, "s3a://bucket/out", n_partitions=2, batch_size=1)
        with pytest.raises(ValueError, match="'s3a://'"):
            p.run(spans_df(spark, 3))
        assert list(sc.statusTracker().getJobIdsForGroup("s3a-output")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_qualified_uri_follows_default_fs(spark, tmp_path):
    """Under a non-local fs.defaultFS, a path without a scheme qualifies
    against that filesystem, as Spark's writes resolve it, not against
    the local disk; a path that names its scheme and authority is left
    as it is. viewfs:// with a mount link onto tmp_path stands in for a
    cluster's hdfs:// default: it loads without touching the network."""
    from docling_nlp_api_spark.session import qualified_uri

    conf = spark._jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    conf.set("fs.defaultFS", "viewfs://cluster/")
    conf.set("fs.viewfs.mounttable.cluster.link./data", f"file://{tmp_path}")
    assert qualified_uri(spark, "/data/out/_staged", conf) == "viewfs://cluster/data/out/_staged"
    rel = qualified_uri(spark, "out/_staged", conf)
    assert rel.startswith("viewfs://cluster/") and rel.endswith("/out/_staged"), rel
    assert qualified_uri(spark, "s3a://bucket/out", conf) == "s3a://bucket/out"
    assert qualified_uri(spark, f"{tmp_path}/x") == f"file://{tmp_path}/x"


def test_empty_and_all_failed_inputs(spark, tmp_path):
    """An empty input commits zero counts and writes no output file; an
    input whose docs all fail commits them as failed, in files of the
    same schema as any other output."""
    import pyarrow.parquet as pq

    from docling_nlp_api_spark.schema import DOCUMENTS_SPANS_SCHEMA

    p = ExtractionPipeline(spark, str(tmp_path / "empty"), n_partitions=2, batch_size=1)
    summary = p.run(spark.createDataFrame([], DOCUMENTS_SPANS_SCHEMA))
    assert summary["docs_out"] == 0 and summary["tasks"] == [0, 0]
    assert [tuple(r)[2:7] for r in p.read_metrics().collect()] == [(0, 0, 0, 0, 0)] * 2
    assert not list((tmp_path / "empty").glob("extracted/**/*.parquet"))

    bad = spark.createDataFrame(
        [(f"bad-{i}", [("blink", "x", "", 0, None)] * (i + 1)) for i in range(5)],
        DOCUMENTS_SPANS_SCHEMA,
    )
    p = ExtractionPipeline(spark, str(tmp_path / "failed"), n_partitions=2, batch_size=2)
    assert p.run(bad)["docs_out"] == 5
    m = p.read_metrics().collect()
    assert sum(r["docs_failed"] for r in m) == 5 and sum(r["spans_in"] for r in m) == 15
    assert all(r["docs_failed"] == r["docs_out"] and r["spans_out"] == 0 for r in m)
    out = p.read_output()
    assert out.filter("status = 'failed' AND size(spans) = 0").count() == 5
    good = ExtractionPipeline(spark, str(tmp_path / "good"), n_partitions=2, batch_size=2)
    good.run(spans_df(spark, 4))
    want = pq.read_schema(next((tmp_path / "good" / "extracted").rglob("*.parquet")))
    for f in (tmp_path / "failed" / "extracted").rglob("*.parquet"):
        assert pq.read_schema(f).equals(want, check_metadata=True)


def test_wall_sec_is_measured_per_partition(spark, tmp_path, recorded_parts):
    """A partition's wall_sec is the measured read, kernel and write time
    of its own files: above 0 for a partition with docs, 0.0 for one
    without, and never more than its batch's write time. The summary
    carries each batch's Python task count: one per partition with
    staged files."""
    p = ExtractionPipeline(spark, str(tmp_path / "w"), n_partitions=8, batch_size=4)
    summary = p.run(spans_df(spark, 5, start=990))
    assert summary["tasks"] == [len(parts) for parts in recorded_parts]
    metrics = {r["partition_id"]: r for r in p.read_metrics().collect()}
    assert any(m["docs_in"] == 0 for m in metrics.values())
    for pid, m in metrics.items():
        if m["docs_in"]:
            assert 0 < m["wall_sec"] <= summary["write_s"][pid // 4], m
        else:
            assert m["wall_sec"] == 0.0, m


def test_stage_and_task_seconds_are_measured(spark, tmp_path):
    """The summary carries the seconds staging took, 0.0 when a committed
    staging is found, and for each batch its longest task-measured
    seconds, `task_s`: the largest wall_sec of its partitions, 0.0 for a
    batch with no task, and never more than the batch's write time, so
    that write_s - task_s is the batch's fixed job and set-up cost."""
    out, df = str(tmp_path / "s"), spans_df(spark, 5, start=990)
    summary = ExtractionPipeline(spark, out, n_partitions=8, batch_size=2).run(df)
    assert summary["stage_s"] > 0
    assert len(summary["task_s"]) == len(summary["write_s"]) == 4
    p = ExtractionPipeline(spark, out, run_id="again", n_partitions=8, batch_size=1)
    again = p.run(df)
    assert again["stage_s"] == 0.0
    wall0, wall = (
        {r["partition_id"]: r["wall_sec"] for r in p.read_metrics().filter(f"run_id = '{run}'").collect()}
        for run in ("run0", "again")
    )
    assert summary["task_s"] == [max(wall0[2 * b], wall0[2 * b + 1]) for b in range(4)]
    assert 0 in again["tasks"], again  # a batch with no staged file runs no task
    for pid, (task, write, n) in enumerate(zip(again["task_s"], again["write_s"], again["tasks"])):
        assert task == wall[pid]
        assert (0 < task <= write) if n else task == 0.0, again
