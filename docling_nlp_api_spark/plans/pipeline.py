"""End-to-end extraction pipeline with per-partition checkpoint / lineage /
metrics and exactly-once resume (north rule).

Layout (Iceberg in production; partitioned parquet + checkpoint dir in the
sandbox — same commit protocol):

    <out>/_staged/part_id=K/*.parquet       the input, restaged once by
                                            part_id = pmod(xxhash64(doc_id), N)
                                            (Iceberg bucket(N, doc_id)
                                            stand-in) by Python tasks;
                                            _STAGED_LAYOUT marks it committed
    <out>/extracted/part_id=K/*.parquet     extract()'s rows, hash-partitioned
                                            by doc_id, in extract()'s columns
                                            (part-<uuid>.c000.snappy.parquet)
    <out>/_metrics/<run_id>-<pid>.parquet   one file per committed partition:
                                            docs/spans in and out, wall_sec
    <out>/_checkpoints/<run_id>-<pid>.parquet
                                            a partition's commit: run_id,
                                            partition_id, status, rows in and
                                            out, started_at, committed_at

Ingest and output: one staging job, part_id computed on the JVM, writes
each part_id's rows with pyarrow in Python tasks. A commit batch then
runs one Python task (a row of a tiny `spark.range`) per pending
partition with staged files (`_staged_parts`): it reads them with
pyarrow, runs the kernel and extract.output_batch, writes exactly
extract()'s rows as one parquet file with the schema and metadata a
Spark write of extract() gives, and returns one small row: part_id,
path, docs, failed, spans in and out, measured seconds. A batch is one
job of one stage, with no shuffle and no span or output row crossing
between the JVM and Python. Every task body ends with
session.drop_zip_finders, so the next task on its worker does not
re-read PySpark's zip archives. batch_size should be at least the
executor core count. All file work is pyarrow's, at the URI Spark
writes to (session.qualified_uri): run() rejects an output root that
pyarrow cannot open (only local paths and file:// are tested) before
its first job, and leaves the session's configuration as it found it.

Commit protocol (mirrors Iceberg MERGE semantics with plain files):
1. pending = all partition ids minus those with a checkpoint file of this
   run_id, found by listing _checkpoints (no Spark job).
2. per batch: (a) one job writes a hidden attempt file per partition with
   staged files, `extracted/part_id=K/.<uuid>.attempt` (no *.parquet, and
   Spark's reader skips the '.'), and collects at most one row per
   partition; (b) the driver deletes every file in the batch's part_id
   dirs that is not a collected one (an earlier attempt's visible file,
   failed or retried tasks' attempt files); (c) it moves each collected
   file onto a visible part-<uuid>.c000.snappy.parquet; (d) it writes
   each partition's metrics file, then each checkpoint file, each moved
   whole from a hidden temp name.
3. a crash before a partition's checkpoint file exists leaves it pending,
   its dir holding old, hidden or moved files in any mix: the redo's step
   (b) deletes all but its own attempt file, and its metrics file
   replaces the old one, so no row and no record is ever doubled.
   Checkpoint files follow the batch's metrics files, so a committed
   partition has its metrics and is never touched again.

Skew (mega-docs): hashing doc_id spreads mega-docs over the part_ids, and
no doc is ever split. A partition is one task, so n_partitions must scale
with the input: a partition's bytes bound its task's time.
extract_arrow._bounded_slices cuts every batch the kernel sees to a span
budget, so a mega-doc bounds kernel memory by its own size.

Reference anchor: the reference absorbs per-document failures into data
rather than failing the request (docling_service.py:82-91); this pipeline
does the same at partition granularity and never fails the job for a doc.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
import uuid
from collections.abc import Callable
from datetime import datetime, timezone
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType

from ..operators.extract import EXTRACT_SPARK_SCHEMA, check_input_schema, output_batch
from ..operators.extract_arrow import extract_map_in_arrow
from ..schema import CHECKPOINT_SCHEMA, METRICS_SCHEMA
from ..session import arrow_fs, drop_zip_finders

# a task's result: the one output file it wrote; a staging task's: its files
_COUNTS = ("docs", "failed", "spans_in", "spans_out", "seconds")
_RESULT_SCHEMA = pa.schema(
    [("part_id", pa.int32()), ("path", pa.string())]
    + [(k, pa.float64() if k == "seconds" else pa.int64()) for k in _COUNTS]
)
_RESULT_SPARK_SCHEMA = from_arrow_schema(_RESULT_SCHEMA)
_STAGED_SCHEMA = pa.schema(list(_RESULT_SCHEMA)[:2])
_STAGED_SPARK_SCHEMA = from_arrow_schema(_STAGED_SCHEMA)
# Spark's parquet.block.size: a row group is flushed past this many bytes
_ROW_GROUP_BYTES = 128 << 20
# parquet writer settings of an output file: dictionaries on the
# low-cardinality columns only, which keeps the files as small as Spark's
_WRITER_OPTIONS = dict(
    compression="snappy",
    use_dictionary=[
        "spans.list.element.kind", "spans.list.element.media_ref", "status",
        "metadata.key_value.key", "metadata.key_value.value", "span_pages.list.element",
        "span_bboxes.list.element.list.element",
    ],
    column_encoding={"spans.list.element.order": "DELTA_BINARY_PACKED"},
)
# a commit record's file name: <run_id>-<partition_id>.parquet
_RECORD_NAME = re.compile(r"(?P<run_id>.+)-(?P<pid>[0-9]+)\.parquet")
# the staging marker: "<n_partitions> <input identity>" of a committed staging
_STAGED_LAYOUT = "_STAGED_LAYOUT"


class ExtractionPipeline:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        run_id: str = "run0",
        n_partitions: int = 16,
        batch_size: int = 8,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.run_id = run_id
        self.n_partitions = n_partitions
        self.batch_size = batch_size
        self.extracted_dir = os.path.join(out_dir, "extracted")
        self.ckpt_dir = os.path.join(out_dir, "_checkpoints")
        self.metrics_dir = os.path.join(out_dir, "_metrics")
        self.staged_dir = os.path.join(out_dir, "_staged")

    # -- commit records -----------------------------------------------------
    def committed_partitions(self) -> set[int]:
        """The partitions this run has committed: those with a checkpoint
        file `<run_id>-<partition_id>.parquet` in `_checkpoints`, listed
        with pyarrow, with no Spark job. A parquet file there of any other
        name (a Spark part file of the old append layout, say) raises a
        ValueError that names it: passing over it would redo every
        partition and count its metrics twice."""
        fs, root = arrow_fs(self.spark, self.ckpt_dir)
        done = set()
        for info in fs.get_file_info(pafs.FileSelector(root, allow_not_found=True)):
            name = info.base_name
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            m = _RECORD_NAME.fullmatch(name)
            if m is None:
                raise ValueError(
                    f"{self.ckpt_dir} holds {name}, which is no '<run_id>-<partition_id>.parquet' "
                    "checkpoint file: it was not written by this pipeline's commit protocol"
                )
            if m["run_id"] == self.run_id:
                done.add(int(m["pid"]))
        return done

    def pending_partitions(self) -> list[int]:
        """All partition ids less the committed ones: a set difference here,
        `LEFT ANTI JOIN committed` on a real catalog."""
        return sorted(set(range(self.n_partitions)) - self.committed_partitions())

    # -- run ----------------------------------------------------------------
    def run(self, input_df: DataFrame, fail_after_batches: int | None = None) -> dict:
        """Process all pending partitions in commit batches. Returns a
        summary dict. `fail_after_batches` injects a crash (tests)."""
        spark = self.spark
        check_input_schema(input_df.schema)
        # before any job: a scheme pyarrow cannot open fails here, not in a
        # task (tasks and driver do all file work with pyarrow)
        fs, root = arrow_fs(spark, self.out_dir)
        committed = self.committed_partitions()
        stage_s = self._stage(input_df)
        write = partial(
            _extract_files,
            fs=fs,
            out_path=f"{root}/extracted",
            batch_rows=int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
            schema=self._file_schema(EXTRACT_SPARK_SCHEMA),
        )

        pending = sorted(set(range(self.n_partitions)) - committed)
        batches = [
            pending[i : i + self.batch_size] for i in range(0, len(pending), self.batch_size)
        ]
        done = total_docs = 0
        phases: dict[str, list] = {"write_s": [], "task_s": [], "commit_s": [], "tasks": []}
        for batch in batches:
            t0 = time.time()
            started_at = datetime.now(timezone.utc).replace(tzinfo=None)
            parts = _staged_parts(fs, f"{root}/_staged", batch)
            results = {}
            if parts:
                # one task per partition; only a collected row's file is
                # published, never a failed or retried attempt's
                rows = (
                    spark.range(len(parts), numPartitions=len(parts))
                    .mapInArrow(partial(write, parts=parts), schema=_RESULT_SPARK_SCHEMA)
                    .collect()
                )
                results = {r["part_id"]: r for r in rows}
            _publish_output(fs, f"{root}/extracted", batch, results.values())

            phases["write_s"].append(time.time() - t0)
            phases["task_s"].append(max((r["seconds"] for r in results.values()), default=0.0))
            phases["tasks"].append(len(parts))
            committed_at = datetime.now(timezone.utc).replace(tzinfo=None)
            ck_rows, mt_rows = [], []
            for pid in batch:
                r = results.get(pid)
                docs, failed, spans_in, spans_out, secs = (
                    (r[k] for k in _COUNTS) if r else (0, 0, 0, 0, 0.0)
                )
                ck_rows.append(
                    (self.run_id, pid, "committed", docs, docs, started_at, committed_at)
                )
                mt_rows.append(
                    (self.run_id, pid, docs, docs, failed, spans_in, spans_out, float(secs))
                )
                total_docs += docs
            # every metrics file before any checkpoint file: a partition
            # with a checkpoint, which is never redone, has its metrics
            t1 = time.time()
            for row in mt_rows:
                self._write_record(fs, f"{root}/_metrics", METRICS_SCHEMA, row)
            for row in ck_rows:
                self._write_record(fs, f"{root}/_checkpoints", CHECKPOINT_SCHEMA, row)
            phases["commit_s"].append(time.time() - t1)
            committed |= set(batch)
            done += 1
            if fail_after_batches is not None and done >= fail_after_batches:
                raise RuntimeError(f"injected failure after {done} batches")

        return {
            "run_id": self.run_id, "batches": done, "partitions_done": len(committed),
            "docs_out": total_docs, "stage_s": stage_s, **phases,
        }

    def _file_schema(self, schema: StructType) -> pa.Schema:
        """The Arrow schema of a parquet file Spark writes for rows of
        `schema`, with Spark's version and schema JSON as file metadata."""
        return to_arrow_schema(schema).with_metadata({
            "org.apache.spark.version": self.spark.version,
            "org.apache.spark.sql.parquet.row.metadata": json.dumps(
                schema.jsonValue(), separators=(",", ":")
            ),
        })

    def _write_record(self, fs: pafs.FileSystem, path: str, schema: StructType, row: tuple) -> None:
        """Write one commit record, `row` in `schema` order led by run_id
        and partition_id, as the parquet file `<run_id>-<partition_id>.parquet`
        under `path` on `fs`. The file is what Spark writes for the row:
        the same parquet schema (INT96 timestamps, required columns) and
        Spark's schema metadata, published whole by _publish."""
        arrow_schema = self._file_schema(schema)
        fields = [
            f.with_type(pa.timestamp("ns")) if pa.types.is_timestamp(f.type) else f
            for f in arrow_schema
        ]
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, row))], schema=pa.schema(fields, metadata=arrow_schema.metadata)
        )
        _publish(
            fs, path, f"{row[0]}-{row[1]}.parquet",
            lambda f: pq.write_table(table, f, use_deprecated_int96_timestamps=True),
        )

    @staticmethod
    def _content_key(df: DataFrame) -> str:
        """Order-independent content fingerprint of `df`: row count + sum
        of per-row xxhash64. Deterministic across sessions,
        partitionings, and row orders."""
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(F.struct(*df.columns)).cast("decimal(38,0)")
            ).alias("h"),
        ).first()
        return f"content:{agg['n']}:{agg['h']}"

    def _stage(self, input_df: DataFrame) -> float:
        """Restage the input once by part_id (the stand-in for an Iceberg
        table bucketed on doc_id) and return the seconds it took, 0.0 if a
        committed staging was found. One job's Python tasks (_stage_files)
        write the files; the driver publishes the collected ones, then
        _STAGED_LAYOUT, the commit point. A missing marker wipes the dir
        first, so no dead attempt's file is ever read. The marker holds
        n_partitions and the input's identity (the md5 of its file list,
        or a content fingerprint for an in-memory input), so a staging of
        another bucket count or input is rejected, not reused; an in-place
        rewrite of the same files is not seen: delete _staged/ then."""
        files = input_df.inputFiles()
        if files:
            src_key = hashlib.md5("\n".join(sorted(files)).encode()).hexdigest()
        else:
            # a plan hash differs for a re-created in-memory input; content does not
            src_key = self._content_key(input_df)
        layout = f"{self.n_partitions} {src_key}"
        fs, root = arrow_fs(self.spark, self.staged_dir)
        marker = f"{root}/{_STAGED_LAYOUT}"
        stage_s = 0.0
        if fs.get_file_info(marker).type == pafs.FileType.NotFound:
            t0 = time.perf_counter()
            fs.delete_dir_contents(root, missing_dir_ok=True)
            src = input_df.select("doc_id", "spans")
            body = partial(_stage_files, fs=fs, path=root, schema=self._file_schema(src.schema))
            bucket = F.pmod(F.xxhash64("doc_id"), F.lit(self.n_partitions)).cast("int")
            rows = src.withColumn("part_id", bucket).mapInArrow(body, _STAGED_SPARK_SCHEMA).collect()
            _publish_output(fs, root, range(self.n_partitions), rows)
            _publish(fs, root, _STAGED_LAYOUT, lambda f: f.write(layout.encode()))
            stage_s = time.perf_counter() - t0
        with fs.open_input_stream(marker) as f:
            staged_layout = f.read().decode().strip()
        if staged_layout != layout:
            raise ValueError(
                f"staged layout at {self.staged_dir} was bucketed for '{staged_layout}', this "
                f"run expects '{layout}' (n_partitions + input identity: md5 of the file list "
                "or a content fingerprint) — delete the staging or match it"
            )
        return stage_s

    def read_output(self) -> DataFrame:
        return self.spark.read.parquet(self.extracted_dir)

    def read_metrics(self) -> DataFrame:
        return self.spark.read.schema(METRICS_SCHEMA).parquet(self.metrics_dir)


def _staged_parts(
    fs: pafs.FileSystem, staged_path: str, part_ids: list[int]
) -> list[tuple[int, list[str]]]:
    """(part_id, its staged file paths) for each of `part_ids` that has
    staged files under `staged_path` on `fs`, where the tasks read them.
    No staged files give no parts, and the batch runs no job."""
    parts = []
    for k in part_ids:
        selector = pafs.FileSelector(f"{staged_path}/part_id={k}", allow_not_found=True)
        paths = sorted(
            info.path
            for info in fs.get_file_info(selector)
            if info.base_name.endswith(".parquet") and not info.base_name.startswith(("_", "."))
        )
        if paths:
            parts.append((k, paths))
    return parts


def _stage_files(batches, fs, path: str, schema: pa.Schema):
    """mapInArrow body of the staging job: buffer the (doc_id, spans,
    part_id) rows by part_id and, at the end and each time more than
    _ROW_GROUP_BYTES are buffered, write each part_id's rows in `schema`
    as the one row group of a hidden attempt file
    `path/part_id=K/.<uuid>.attempt`. A task holds one open file, however
    many part_ids it sees. Yields the files' _STAGED_SCHEMA rows."""
    try:
        staged, bufs, buf_bytes = [], {}, 0

        def flush():
            for pid, buf in sorted(bufs.items()):
                fs.create_dir(f"{path}/part_id={pid}")
                name = f"{path}/part_id={pid}/.{uuid.uuid4().hex}.attempt"
                with pq.ParquetWriter(name, schema, filesystem=fs) as writer:
                    _write_row_group(writer, buf)
                staged.append(dict(part_id=pid, path=name))
            bufs.clear()

        for batch in batches:
            ids = batch.column(2).to_numpy()
            order = np.argsort(ids, kind="stable")
            ids, rows = ids[order], batch.select([0, 1]).take(order)
            pids, starts = np.unique(ids, return_index=True)
            for pid, lo, hi in zip(pids.tolist(), starts, [*starts[1:], len(ids)]):
                bufs.setdefault(pid, []).append(rows.slice(lo, hi - lo))
            buf_bytes += rows.nbytes
            if buf_bytes > _ROW_GROUP_BYTES:
                flush()
                buf_bytes = 0
        flush()
        yield pa.RecordBatch.from_pylist(staged, schema=_STAGED_SCHEMA)
    finally:
        drop_zip_finders()


def _extract_files(batches, fs, parts: list[tuple[int, list[str]]], **out):
    """mapInArrow body of a batch's job: for each index i in `batches`,
    write partition parts[i]'s staged files as its one output file
    (_write_part, with the `out` arguments); yield its _RESULT_SCHEMA row."""
    try:
        for ids in batches:
            for i in ids.column(0).to_pylist():
                pid, paths = parts[i]
                row = _write_part(fs, paths, pid, **out)
                yield pa.RecordBatch.from_pylist([row], schema=_RESULT_SCHEMA)
    finally:
        drop_zip_finders()


def _write_part(fs, paths: list[str], pid: int, out_path: str, batch_rows: int, schema) -> dict:
    """Read the staged files `paths` of part_id `pid` from `fs`,
    `batch_rows` docs at a time, run the kernel and extract.output_batch,
    and write the batches in `schema` as the hidden attempt file
    `out_path/part_id=<pid>/.<uuid>.attempt`: one row group, or another
    past _ROW_GROUP_BYTES. Returns the file's result row, with the
    measured seconds of its read, kernel and write."""
    t0 = time.perf_counter()
    path = f"{out_path}/part_id={pid}/.{uuid.uuid4().hex}.attempt"
    row = dict(part_id=pid, path=path, docs=0, failed=0, spans_in=0, spans_out=0)
    fs.create_dir(f"{out_path}/part_id={pid}")
    with pq.ParquetWriter(path, schema, filesystem=fs, **_WRITER_OPTIONS) as w:
        buf, buf_bytes = [], 0
        for p in paths:
            with pq.ParquetFile(p, filesystem=fs) as f:
                for batch in f.iter_batches(batch_rows, columns=["doc_id", "spans"]):
                    row["spans_in"] += pc.sum(batch.column(1).value_lengths()).as_py() or 0
                    for out in map(output_batch, extract_map_in_arrow([batch])):
                        row["docs"] += out.num_rows
                        row["failed"] += pc.sum(pc.equal(out.column(2), "failed")).as_py() or 0
                        row["spans_out"] += pc.sum(out.column(1).value_lengths()).as_py() or 0
                        buf.append(out)
                        buf_bytes += out.nbytes
                        if buf_bytes > _ROW_GROUP_BYTES:
                            _write_row_group(w, buf)
                            buf, buf_bytes = [], 0
        if buf:
            _write_row_group(w, buf)
    row["seconds"] = time.perf_counter() - t0
    return row


def _write_row_group(writer: pq.ParquetWriter, batches: list[pa.RecordBatch]) -> None:
    table = pa.Table.from_batches(batches)
    writer.write_table(table, row_group_size=table.num_rows)


def _publish_output(fs: pafs.FileSystem, out_path: str, part_ids: list[int], results) -> None:
    """Publish a job's files: in each `out_path/part_id=K` directory of
    `part_ids`, delete every file that is not one of the collected
    `results` (an earlier attempt's visible files, dead or retried
    tasks' hidden ones), then move each collected file onto a visible
    name of Spark's form."""
    winners = {r["path"] for r in results}
    for pid in part_ids:
        part_dir = pafs.FileSelector(f"{out_path}/part_id={pid}", allow_not_found=True)
        for info in fs.get_file_info(part_dir):
            if info.path not in winners:
                fs.delete_file(info.path)
    for path in sorted(winners):
        fs.move(path, f"{path.rsplit('/', 1)[0]}/{_visible_name()}")


def _visible_name() -> str:
    return f"part-{uuid.uuid4()}.c000.snappy.parquet"


def _publish(
    fs: pafs.FileSystem, path: str, name: str, write: Callable[[pa.NativeFile], object]
) -> None:
    """Publish the file `name` under the directory `path` on `fs` whole:
    `write(f)` writes it to the hidden temp name `.<name>.tmp`, which
    Spark's reader skips, and that is moved onto `name`, which a redo
    replaces."""
    fs.create_dir(path)
    tmp = f"{path}/.{name}.tmp"
    with fs.open_output_stream(tmp) as f:
        write(f)
    fs.move(tmp, f"{path}/{name}")
