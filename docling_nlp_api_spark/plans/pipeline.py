"""End-to-end extraction pipeline with per-partition checkpoint / lineage /
metrics and exactly-once resume (north rule).

Layout (Iceberg in production; partitioned parquet + checkpoint dir in the
sandbox — same commit protocol):

    <out>/_staged/part_id=K/*.parquet       the input, restaged once by
                                            part_id = pmod(xxhash64(doc_id), N)
                                            (Iceberg bucket(N, doc_id)
                                            stand-in; _STAGED_LAYOUT marks
                                            a committed staging)
    <out>/extracted/part_id=K/*.parquet     output, hash-partitioned by doc_id
                                            (part-<uuid>.c000.snappy.parquet)
    <out>/_metrics/<run_id>-<pid>.parquet   one file per committed partition:
                                            docs/spans in and out, wall_sec
    <out>/_checkpoints/<run_id>-<pid>.parquet
                                            one file per committed partition:
                                            (run_id, partition_id, status,
                                             rows_in, rows_out, started_at,
                                             committed_at); the file is the
                                            commit

Ingest and output: a commit partition is the unit of work. A commit
batch reads only its pending partitions' staged files: the driver lists
them per part_id (`_staged_parts`), and the batch runs one Python task for
each partition that has any. Each task is one row of a tiny `spark.range`;
its `mapInArrow` reads all of its partition's staged files with pyarrow,
runs the kernel and extract.output_batch on them, and writes the
partition's rows as one parquet file in Spark's parquet schema and
metadata. It returns one small row: part_id, path, docs, failed, spans in
and out, measured seconds. Neither spans nor output rows cross between the
JVM and Python, and a batch is one job of one stage with no shuffle. A
batch runs at most batch_size Python tasks, each with a fixed set-up cost,
so batch_size should be at least the executor core count. The driver and
the tasks do all file work with pyarrow at the URI Spark writes to
(session.qualified_uri), resolved once per run(), so the output root must
be on a filesystem pyarrow opens (a local path or file://); run() rejects
any other before its first job and leaves the session's configuration as
it found it.

Commit protocol (mirrors Iceberg MERGE semantics with plain files):
1. pending = all partition ids minus those with a checkpoint file of this
   run_id, found by listing _checkpoints (no Spark job).
2. per batch: (a) one job writes one hidden attempt file per partition
   with staged files, `extracted/part_id=K/.<uuid>.attempt` (Spark's
   reader skips the leading '.', and the name is no *.parquet), and
   collects their rows, at most one per partition; (b) in each part_id
   dir of the batch the driver deletes every file that is not a
   collected one (an earlier attempt's visible file, failed or retried
   tasks' attempt files); (c) it moves each collected file onto a
   visible part-<uuid>.c000.snappy.parquet; (d) it writes each
   partition's metrics file, then each checkpoint file, each under a
   hidden temp name moved onto its own name.
3. a crash anywhere before a partition's checkpoint file exists leaves
   that partition pending, with its dir holding old, hidden or moved
   files in any mix: the redo's step (b) deletes all but its own
   attempt file, and its metrics file replaces the old one under the
   same name, so no row and no record is ever doubled. A checkpoint
   file is written only after the batch's metrics files, so a committed
   partition has its metrics and is never touched again.

Skew (mega-docs): hashing doc_id spreads mega-docs over the part_ids, and
no doc is ever split. A partition's staged files are one task, so
n_partitions must scale with the input: a partition's bytes bound its
task's time. extract_arrow._bounded_slices cuts every batch the kernel
sees to a span budget, so a mega-doc bounds kernel memory by its own size
and needs no path of its own.

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

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import IntegerType, StructField, StructType

from ..operators.extract import EXTRACT_SPARK_SCHEMA, check_input_schema, output_batch
from ..operators.extract_arrow import extract_map_in_arrow
from ..schema import CHECKPOINT_SCHEMA, METRICS_SCHEMA
from ..session import arrow_fs

# an output file's columns: extract()'s rows and their span count
_FILE_SPARK_SCHEMA = StructType(
    [*EXTRACT_SPARK_SCHEMA.fields, StructField("n_spans_out", IntegerType())]
)
# a task's result: the one output file it wrote
_COUNTS = ("docs", "failed", "spans_in", "spans_out", "seconds")
_RESULT_SCHEMA = pa.schema(
    [("part_id", pa.int32()), ("path", pa.string())]
    + [(k, pa.float64() if k == "seconds" else pa.int64()) for k in _COUNTS]
)
_RESULT_SPARK_SCHEMA = from_arrow_schema(_RESULT_SCHEMA)
# Spark's parquet.block.size: a row group is flushed past this many bytes
_ROW_GROUP_BYTES = 128 << 20
# parquet writer settings of an output file: dictionaries on the
# low-cardinality columns only, which keeps the files as small as Spark's
_WRITER_OPTIONS = dict(
    compression="snappy",
    use_dictionary=[
        "spans.list.element.kind", "spans.list.element.media_ref", "status",
        "metadata.key_value.key", "metadata.key_value.value", "span_pages.list.element",
        "span_bboxes.list.element.list.element", "n_spans_out",
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
        file `<run_id>-<partition_id>.parquet`, found by listing
        `_checkpoints` through pyarrow at the URI Spark writes to, with no
        Spark job. A parquet file there with any other name (a Spark part
        file of the old append layout, say) raises a ValueError that names
        it: passing over it would redo every partition and count its
        metrics twice."""
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
        """All partition ids anti-joined against committed ones. The id set
        is tiny (metadata), so the anti-join is a set difference here; on a
        real catalog it is `pending LEFT ANTI JOIN committed`."""
        return sorted(set(range(self.n_partitions)) - self.committed_partitions())

    # -- run ----------------------------------------------------------------
    def run(self, input_df: DataFrame, fail_after_batches: int | None = None) -> dict:
        """Process all pending partitions in commit batches. Returns a
        summary dict. `fail_after_batches` injects a crash (tests)."""
        spark = self.spark
        check_input_schema(input_df.schema)
        # before any job: a scheme pyarrow cannot open fails here, not in a
        # task; tasks read the staged files and write the output, and the
        # driver publishes the output and writes the commit records, where
        # Spark writes
        fs, root = arrow_fs(spark, self.out_dir)
        committed = self.committed_partitions()
        self._stage(input_df)
        write = partial(
            _extract_files,
            fs=fs,
            out_path=f"{root}/extracted",
            batch_rows=int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
            schema=self._file_schema(_FILE_SPARK_SCHEMA),
        )

        pending = sorted(set(range(self.n_partitions)) - committed)
        batches = [
            pending[i : i + self.batch_size] for i in range(0, len(pending), self.batch_size)
        ]
        done = 0
        total_docs = 0
        write_s: list[float] = []
        commit_s: list[float] = []
        n_tasks: list[int] = []
        for batch in batches:
            t0 = time.time()
            started_at = datetime.now(timezone.utc).replace(tzinfo=None)
            parts = _staged_parts(fs, f"{root}/_staged", batch)
            results = {}
            if parts:
                # one job, one task per partition: each task writes its
                # partition's hidden attempt file and returns its row; only
                # a collected row's file is published, so a failed or
                # retried attempt's file never is
                rows = (
                    spark.range(len(parts), numPartitions=len(parts))
                    .mapInArrow(partial(write, parts=parts), schema=_RESULT_SPARK_SCHEMA)
                    .collect()
                )
                results = {r["part_id"]: r for r in rows}
            _publish_output(fs, f"{root}/extracted", batch, results.values())

            write_s.append(time.time() - t0)
            n_tasks.append(len(parts))
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
            commit_s.append(time.time() - t1)
            committed |= set(batch)
            done += 1
            if fail_after_batches is not None and done >= fail_after_batches:
                raise RuntimeError(f"injected failure after {done} batches")

        return {
            "run_id": self.run_id,
            "batches": done,
            "partitions_done": len(committed),
            "docs_out": total_docs,
            "write_s": write_s,
            "commit_s": commit_s,
            "tasks": n_tasks,
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

    def _stage(self, input_df: DataFrame) -> None:
        """One-time restage of the input PHYSICALLY partitioned by part_id
        (the sandbox stand-in for an Iceberg table bucket-partitioned on
        doc_id). After staging, a commit batch reads only its own
        partitions' files, and a resume at 90% complete reads only the
        pending 10% of input bytes. Total input read: 1 full scan
        (staging), then each staged file once. The marker is read, the
        dir wiped and the marker published through the pyarrow
        filesystem of the staging dir (session.arrow_fs).

        Crash-safe: the staging write is atomic-by-marker — the marker
        is published (_publish) only after the parquet job commits, so a
        crash mid-staging restages from scratch. A missing marker WIPES
        the staging dir first: under partitionOverwriteMode=dynamic (a
        session may set it), mode("overwrite") replaces only the part_id
        dirs present in the NEW data — without the wipe, a retry with a
        different bucket count (or an input that leaves some part_id
        empty) would union dead-attempt orphan dirs into every later
        scan. Staging is
        keyed by n_partitions AND the input's identity — the sorted
        source-file set for file-backed inputs, an order-independent
        content fingerprint for in-memory inputs (whose inputFiles() is
        empty and would otherwise collide) — so a layout staged for a
        different bucket count or a different input is rejected rather
        than silently reused (an in-place
        rewrite of the same file paths is the one change this cannot
        see — delete _staged/ when rewriting a source in place)."""
        files = input_df.inputFiles()
        if files:
            src_key = hashlib.md5("\n".join(sorted(files)).encode()).hexdigest()
        else:
            # Non-file-backed input (in-memory / createDataFrame): an
            # empty file list would make every such input hash identical
            # and silently reuse stale staged data. Plan identity
            # (semanticHash) is NOT stable for re-created inputs either
            # (the LogicalRDD identity leaks into the hash — verified on
            # PySpark 4.1.2), so fingerprint the CONTENT: row count +
            # order-independent sum of per-row xxhash64. Deterministic
            # across sessions, partitionings, and row orders, at the
            # cost of one extra scan of an input that by definition
            # fits the session; a DIFFERENT in-memory input into the
            # same out_dir is rejected, the SAME input — even re-created
            # in a fresh session — resumes. (Map-typed input columns
            # would need a to_json pre-hash; the pipeline's input
            # contract is (doc_id, spans), which xxhash64 supports.)
            src_key = self._content_key(input_df)
        layout = f"{self.n_partitions} {src_key}"
        fs, staged_path = arrow_fs(self.spark, self.staged_dir)
        marker = f"{staged_path}/{_STAGED_LAYOUT}"
        if fs.get_file_info(marker).type == pafs.FileType.NotFound:
            # no marker = no committed staging: clear any half-written
            # attempt so dynamic partition overwrite cannot leave orphans
            fs.delete_dir_contents(staged_path, missing_dir_ok=True)
            (
                input_df.withColumn(
                    "part_id",
                    F.pmod(F.xxhash64("doc_id"), F.lit(self.n_partitions)).cast("int"),
                )
                .write.mode("overwrite")
                .partitionBy("part_id")
                .parquet(self.staged_dir)
            )
            _publish(fs, staged_path, _STAGED_LAYOUT, lambda f: f.write(layout.encode()))
        with fs.open_input_stream(marker) as f:
            staged_layout = f.read().decode().strip()
        if staged_layout != layout:
            raise ValueError(
                f"staged layout at {self.staged_dir} was bucketed for "
                f"'{staged_layout}', this run expects '{layout}' "
                "(n_partitions + input identity: md5 of the file list for "
                "file-backed inputs, a content fingerprint for in-memory "
                "ones) — delete the "
                "staging or match it"
            )

    def read_output(self) -> DataFrame:
        return self.spark.read.parquet(self.extracted_dir)

    def read_metrics(self) -> DataFrame:
        return self.spark.read.schema(METRICS_SCHEMA).parquet(self.metrics_dir)


def _staged_parts(
    fs: pafs.FileSystem, staged_path: str, part_ids: list[int]
) -> list[tuple[int, list[str]]]:
    """(part_id, its staged file paths) for each of `part_ids` that has
    staged files, listed on `fs`, the filesystem the tasks read them
    from; `staged_path` is the staging dir as session.arrow_fs resolves
    it. No staged files give no parts, and the batch runs no job."""
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


def _extract_files(batches, fs, parts: list[tuple[int, list[str]]], **out):
    """mapInArrow body of a batch's job: for each index i in `batches`,
    write all staged files of partition parts[i] as its one output file
    (_write_part, with the `out` arguments) and yield its _RESULT_SCHEMA
    row."""
    for ids in batches:
        for i in ids.column(0).to_pylist():
            pid, paths = parts[i]
            row = _write_part(fs, paths, pid, **out)
            yield pa.RecordBatch.from_pylist([row], schema=_RESULT_SCHEMA)


def _write_part(fs, paths: list[str], pid: int, out_path: str, batch_rows: int, schema) -> dict:
    """Read the staged files `paths` of part_id `pid` from `fs`,
    `batch_rows` docs at a time, run the kernel and extract.output_batch
    on them, and write the rows in `schema` as the hidden attempt file
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
                        n_out = out.column(1).value_lengths()
                        row["docs"] += out.num_rows
                        row["failed"] += pc.sum(pc.equal(out.column(2), "failed")).as_py() or 0
                        row["spans_out"] += pc.sum(n_out).as_py() or 0
                        buf.append(pa.RecordBatch.from_arrays([*out.columns, n_out], schema=schema))
                        buf_bytes += buf[-1].nbytes
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
    """Publish a batch's output: in each `out_path/part_id=K` directory of
    `part_ids`, delete every file that is not one of the collected
    `results` (the visible files of an earlier attempt at the partition,
    and the hidden files of dead or retried tasks), then move each
    collected file onto a visible name of Spark's form."""
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
    `write(f)` writes its bytes to an output stream on the hidden temp
    name `.<name>.tmp`, which Spark's reader skips, and the temp file is
    moved onto `name`. A file under that name is therefore whole, and a
    redo replaces it."""
    fs.create_dir(path)
    tmp = f"{path}/.{name}.tmp"
    with fs.open_output_stream(tmp) as f:
        write(f)
    fs.move(tmp, f"{path}/{name}")
