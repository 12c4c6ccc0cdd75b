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
    <out>/_metrics/<run_id>-<pid>.parquet   one file per committed partition:
                                            docs/spans in and out, wall_sec
    <out>/_checkpoints/<run_id>-<pid>.parquet
                                            one file per committed partition:
                                            (run_id, partition_id, status,
                                             rows_in, rows_out, started_at,
                                             committed_at); the file is the
                                            commit

Ingest: a commit batch reads only its pending partitions' staged files.
The driver lists them and packs them into tasks by bytes, with Spark's
own split size, in part_id order (`plan_tasks`). Each task is one row of
a tiny `spark.range`; its `mapInArrow` reads the task's files with
pyarrow and feeds them straight to the kernel. Span data never crosses
from the JVM to Python, and nothing is shuffled: a batch is one write
job of one stage. The driver lists the staged files and the checkpoint
files, reads and writes the staging marker, wipes a dead staging
attempt and writes the commit records, and the tasks read the staged
files: all of it with pyarrow at the URI Spark writes to
(session.qualified_uri), so the output root must be on a filesystem
pyarrow opens (a local path or file://); run() rejects any other before
its first job. run() leaves the session's configuration as it found it.

Commit protocol (mirrors Iceberg MERGE semantics with plain files):
1. pending = all partition ids minus those with a checkpoint file of this
   run_id, found by listing _checkpoints (no Spark job).
2. per batch: (a) one write job overwrites the batch's output dirs
   (dynamic partition overwrite, idempotent on re-run) and observes the
   docs/spans in and out per partition; (b) the driver writes each
   partition's metrics file, then each partition's checkpoint file, with
   pyarrow, each under a hidden temp name moved onto its own name. No
   Spark job commits anything.
3. a crash anywhere before a partition's checkpoint file exists leaves
   that partition pending: the resume rewrites its output dirs and its
   metrics file under the same name, so no record is ever doubled. A
   checkpoint file is written only after the batch's metrics files, so a
   committed partition has its metrics and is never touched again.

Skew (mega-docs): hashing doc_id spreads mega-docs over the part_ids, and
no doc is ever split. A staged file larger than the split size is a task
of its own, and extract_arrow._bounded_slices cuts every batch the kernel
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
from collections.abc import Callable
from datetime import datetime, timezone
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType

from ..operators.extract import assemble, check_input_schema
from ..operators.extract_arrow import OUT_SCHEMA, _bounded_slices, extract_record_batch
from ..schema import CHECKPOINT_SCHEMA, METRICS_SCHEMA
from ..session import arrow_fs

# the kernel's output, plus each doc's part_id and input span count
_INGEST_SCHEMA = OUT_SCHEMA.append(pa.field("part_id", pa.int32())).append(
    pa.field("n_spans_in", pa.int32())
)
_INGEST_SPARK_SCHEMA = from_arrow_schema(_INGEST_SCHEMA)
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
        # task; tasks read the staged files, and the driver writes the
        # commit records, where Spark writes
        fs, root = arrow_fs(spark, self.out_dir)
        committed = self.committed_partitions()
        self._stage(input_df)
        batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

        pending = sorted(set(range(self.n_partitions)) - committed)
        batches = [
            pending[i : i + self.batch_size] for i in range(0, len(pending), self.batch_size)
        ]
        done = 0
        total_docs = 0
        write_s: list[float] = []
        commit_s: list[float] = []
        for batch in batches:
            t0 = time.time()
            started_at = datetime.now(timezone.utc).replace(tzinfo=None)
            tasks = self._plan_batch(batch, fs, f"{root}/_staged")
            counts: dict[str, int] = {}
            if tasks:
                # The per-partition counts are observed DURING the output
                # write. The write is one stage with no exchange, and Spark
                # merges each task's accumulator of that result stage once
                # per output partition: a retried task does not count twice.
                kernel_out = spark.range(len(tasks), numPartitions=len(tasks)).mapInArrow(
                    partial(_extract_files, fs=fs, tasks=tasks, batch_rows=batch_rows),
                    schema=_INGEST_SPARK_SCHEMA,
                )
                result, obs = _observed(assemble(kernel_out, "part_id", "n_spans_in"), batch)
                (
                    result.drop("n_spans_in")
                    .withColumn("n_spans_out", F.size("spans"))
                    .write.mode("overwrite")
                    # replaces only the batch's part_id dirs
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("part_id")
                    .parquet(self.extracted_dir)
                )
                counts = obs.get["counts"].asDict()

            wall = time.time() - t0
            write_s.append(wall)
            committed_at = datetime.now(timezone.utc).replace(tzinfo=None)
            ck_rows, mt_rows = [], []
            for pid in batch:
                docs, failed, spans_in, spans_out = (
                    counts.get(f"{k}_{pid}", 0) for k in ("docs", "failed", "spans_in", "spans_out")
                )
                ck_rows.append(
                    (self.run_id, pid, "committed", docs, docs, started_at, committed_at)
                )
                mt_rows.append(
                    (
                        self.run_id, pid, docs, docs, failed, spans_in, spans_out,
                        wall / max(len(batch), 1),
                    )
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
        }

    def _plan_batch(
        self, part_ids: list[int], fs: pafs.FileSystem, staged_path: str
    ) -> list[list[tuple[str, int]]]:
        """The staged files of `part_ids`, listed on `fs`, the filesystem
        the tasks read them from, and packed into tasks of (path, part_id)
        with the session's file-scan settings. `staged_path` is the staging
        dir as session.arrow_fs resolves it."""
        files = [
            (info.path, k, info.size)
            for k in part_ids
            for info in fs.get_file_info(
                pafs.FileSelector(f"{staged_path}/part_id={k}", allow_not_found=True)
            )
            if info.base_name.endswith(".parquet") and not info.base_name.startswith(("_", "."))
        ]
        conf = self.spark._jsparkSession.sessionState().conf()
        return plan_tasks(
            files,
            conf.filesMaxPartitionBytes(),
            conf.filesOpenCostInBytes(),
            self.spark.sparkContext.defaultParallelism,
        )

    def _write_record(self, fs: pafs.FileSystem, path: str, schema: StructType, row: tuple) -> None:
        """Write one commit record, `row` in `schema` order led by run_id
        and partition_id, as the parquet file `<run_id>-<partition_id>.parquet`
        under `path` on `fs`. The file is what Spark writes for the row:
        the same parquet schema (INT96 timestamps, required columns) and
        Spark's schema metadata, published whole by _publish."""
        fields = [
            f.with_type(pa.timestamp("ns")) if pa.types.is_timestamp(f.type) else f
            for f in to_arrow_schema(schema)
        ]
        meta = {
            "org.apache.spark.version": self.spark.version,
            "org.apache.spark.sql.parquet.row.metadata": json.dumps(
                schema.jsonValue(), separators=(",", ":")
            ),
        }
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, row))], schema=pa.schema(fields, metadata=meta)
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


def plan_tasks(
    files: list[tuple[str, int, int]], max_bytes: int, open_cost: int, parallelism: int
) -> list[list[tuple[str, int]]]:
    """Pack `files`, (path, part_id, bytes) tuples, into tasks of
    (path, part_id) with the split size of Spark's file scan
    (FilePartition), min(max_bytes, max(open_cost, total / parallelism)),
    where the total counts `open_cost` once per file; a task closes when
    the next file would take it past the split size. Files go by part_id,
    largest first within one, so a task covers a run of part_ids and the
    partitioned write makes about one output file per part_id (Spark's
    largest-first order over all files mixes part_ids in every task).
    A file is never split, so one larger than the split size is a task
    of its own. No files plan no tasks."""
    total = sum(size + open_cost for *_, size in files)
    split = min(max_bytes, max(open_cost, total // parallelism))
    tasks: list[list[tuple[str, int]]] = []
    cur: list[tuple[str, int]] = []
    cur_bytes = 0
    for path, pid, size in sorted(files, key=lambda f: (f[1], -f[2])):
        if cur and cur_bytes + size > split:
            tasks.append(cur)
            cur, cur_bytes = [], 0
        cur.append((path, pid))
        cur_bytes += size + open_cost
    if cur:
        tasks.append(cur)
    return tasks


def _extract_files(batches, fs, tasks: list[list[tuple[str, int]]], batch_rows: int):
    """mapInArrow body of a batch's write: for each task index in
    `batches`, read the task's staged files from `fs` with pyarrow,
    `batch_rows` docs at a time, and run the kernel on span-bounded
    slices. Each output row carries its doc's part_id and input span
    count (_INGEST_SCHEMA)."""
    for ids in batches:
        for t in ids.column(0).to_pylist():
            for path, pid in tasks[t]:
                with fs.open_input_file(path) as f:
                    reader = pq.ParquetFile(f)
                    for batch in reader.iter_batches(batch_rows, columns=["doc_id", "spans"]):
                        for piece in _bounded_slices(batch):
                            out = extract_record_batch(piece)
                            yield pa.RecordBatch.from_arrays(
                                [
                                    *out.columns,
                                    pa.array(np.full(out.num_rows, pid, dtype=np.int32)),
                                    piece.column(1).value_lengths().fill_null(0),
                                ],
                                schema=_INGEST_SCHEMA,
                            )


def _observed(df: DataFrame, batch: list[int]) -> tuple[DataFrame, Observation]:
    """`df` with per-partition counts observed on it, for each part_id p
    in `batch`: `docs_{p}`, `failed_{p}` (status = 'failed'), `spans_in_{p}`
    (total n_spans_in) and `spans_out_{p}` (total size(spans)). sum()
    over no rows is NULL, hence the coalesce: a partition may hold no doc
    at all. The aggregates are the fields of one SQL struct, `counts`, so
    building them costs one call into the JVM."""
    exprs = []
    for p in batch:
        exprs += [
            f"count_if(part_id = {p}) AS docs_{p}",
            f"count_if(part_id = {p} AND status = 'failed') AS failed_{p}",
            f"coalesce(sum(if(part_id = {p}, n_spans_in, NULL)), 0) AS spans_in_{p}",
            f"coalesce(sum(if(part_id = {p}, size(spans), NULL)), 0) AS spans_out_{p}",
        ]
    obs = Observation()
    return df.observe(obs, F.expr(f"struct({', '.join(exprs)}) AS counts")), obs


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
