"""End-to-end extraction pipeline with per-partition checkpoint / lineage /
metrics and exactly-once resume (north rule).

Layout (Iceberg in production; partitioned parquet + checkpoint dir in the
sandbox — same commit protocol):

    <out>/extracted/part_id=K/*.parquet     output, hash-partitioned by doc_id
    <out>/_checkpoints/*.parquet            (run_id, partition_id, status,
                                             rows_in, rows_out, started_at,
                                             committed_at)
    <out>/_metrics/*.parquet                per-partition docs/spans/wall_sec
    <out>/_staged/part_id=K/*.parquet       optional (stage_input=True): the
                                            input restaged by part_id so
                                            batch/resume scans prune to
                                            pending partitions (the flat-
                                            parquet stand-in for an Iceberg
                                            source bucketed on doc_id)

Commit protocol (mirrors Iceberg MERGE semantics with plain files):
1. pending = all partition ids LEFT ANTI JOIN committed checkpoint rows
2. per batch of partitions: dynamic-partition-overwrite the output dirs
   (idempotent on re-run of an uncommitted partition), then append
   checkpoint + metrics rows.
3. a crash between (2a) and (2b) re-processes that batch only; committed
   partitions are never touched again -> no double-counted metrics.

Skew (mega-docs): docs with size(spans) > MEGA_SPAN_THRESHOLD are routed
through a dedicated pass that spreads one doc per task; the Arrow batch cap
(session.py) bounds per-batch memory for the rest. At cluster scale the
same split becomes a salted repartition — a doc is never split (span order
is per-doc), only re-balanced.

Reference anchor: the reference absorbs per-document failures into data
rather than failing the request (docling_service.py:82-91); this pipeline
does the same at partition granularity and never fails the job for a doc.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime, timezone

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import CHECKPOINT_SCHEMA, METRICS_SCHEMA
from ..spec import MEGA_SPAN_THRESHOLD
from ..operators.extract import extract


class ExtractionPipeline:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        run_id: str = "run0",
        n_partitions: int = 16,
        batch_size: int = 8,
        stage_input: bool = False,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.run_id = run_id
        self.n_partitions = n_partitions
        self.batch_size = batch_size
        self.stage_input = stage_input
        self.extracted_dir = os.path.join(out_dir, "extracted")
        self.ckpt_dir = os.path.join(out_dir, "_checkpoints")
        self.metrics_dir = os.path.join(out_dir, "_metrics")
        self.staged_dir = os.path.join(out_dir, "_staged")

    # -- checkpoint table ---------------------------------------------------
    def committed_partitions(self) -> set[int]:
        # Hadoop-FS existence check, NOT os.path.isdir: with an
        # hdfs://s3a:// out_dir (the documented cluster invocation) the
        # local check is always False, which would silently disable
        # exactly-once resume — every re-run would reprocess ALL
        # partitions and append duplicate checkpoint + metrics rows.
        from ..session import fs_exists

        if not fs_exists(self.spark, self.ckpt_dir):
            return set()
        df = self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.ckpt_dir)
        rows = (
            df.filter((F.col("run_id") == self.run_id) & (F.col("status") == "committed"))
            .select("partition_id")
            .distinct()
            .collect()
        )
        return {r["partition_id"] for r in rows}

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
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

        if self.stage_input:
            src = self._staged_src(input_df)
        else:
            # each commit batch's `part_id IN (...)` filter below scans the
            # WHOLE input: part_id is computed, so nothing prunes. Fine when
            # the source table is already bucket-partitioned on doc_id
            # (Iceberg `bucket(N, doc_id)` — the production layout, where
            # the filter becomes partition pruning for free); for a flat
            # source at scale, pass stage_input=True.
            src = input_df.withColumn(
                "part_id",
                F.pmod(F.xxhash64("doc_id"), F.lit(self.n_partitions)).cast("int"),
            )

        pending = self.pending_partitions()
        batches = [
            pending[i : i + self.batch_size] for i in range(0, len(pending), self.batch_size)
        ]
        done = 0
        total_docs = 0
        for bi, batch in enumerate(batches):
            t0 = time.time()
            started_at = datetime.now(timezone.utc).replace(tzinfo=None)
            chunk = src.filter(F.col("part_id").isin(batch))

            # skew split: mega-docs one-per-task, normal docs hash-balanced
            is_mega = F.size("spans") > MEGA_SPAN_THRESHOLD
            normal = chunk.filter(~is_mega)
            mega = chunk.filter(is_mega)

            # part_id is a pure function of doc_id — recompute it on the
            # extract output instead of joining back to the input (the join
            # was a full shuffle of the extracted spans per commit batch)
            part_col = F.pmod(F.xxhash64("doc_id"), F.lit(self.n_partitions)).cast("int")
            ext_n = extract(normal.repartition(max(len(batch) * 2, 2), "doc_id")).withColumn(
                "part_id", part_col
            )
            ext_m = extract(mega.repartition(8)).withColumn("part_id", part_col)
            result = ext_n.unionByName(ext_m)

            # one pass: write output + collect per-partition metrics.
            # DISK_ONLY: a commit batch of extracted docs is gigabytes at
            # the 50x tier — deserialized in-heap caching evicts nothing
            # fast enough and OOMs the executors (sf5 run, 16g heap);
            # disk blocks cost one serialization the parquet write needs
            # anyway and keep task heap for the kernel
            result = result.persist(StorageLevel.DISK_ONLY)
            try:
                (
                    result.withColumn("n_spans_out", F.size("spans"))
                    .write.mode("overwrite")
                    .partitionBy("part_id")
                    .parquet(self.extracted_dir)
                )
                stats = {
                    r["part_id"]: r
                    for r in result.groupBy("part_id")
                    .agg(
                        F.count("*").alias("docs"),
                        F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("failed"),
                        F.sum(F.size("spans")).alias("spans_out"),
                    )
                    .collect()
                }
                ins = {
                    r["part_id"]: r
                    for r in chunk.groupBy("part_id")
                    .agg(F.count("*").alias("docs_in"), F.sum(F.size("spans")).alias("spans_in"))
                    .collect()
                }
            finally:
                result.unpersist()

            wall = time.time() - t0
            committed_at = datetime.now(timezone.utc).replace(tzinfo=None)
            ck_rows, mt_rows = [], []
            for pid in batch:
                s = stats.get(pid)
                i = ins.get(pid)
                docs_in = int(i["docs_in"]) if i else 0
                docs_out = int(s["docs"]) if s else 0
                ck_rows.append(
                    (self.run_id, pid, "committed", docs_in, docs_out, started_at, committed_at)
                )
                mt_rows.append(
                    (
                        self.run_id,
                        pid,
                        docs_in,
                        docs_out,
                        int(s["failed"]) if s else 0,
                        int(i["spans_in"]) if i else 0,
                        int(s["spans_out"]) if s else 0,
                        wall / max(len(batch), 1),
                    )
                )
                total_docs += docs_out
            spark.createDataFrame(ck_rows, CHECKPOINT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(self.ckpt_dir)
            spark.createDataFrame(mt_rows, METRICS_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(self.metrics_dir)
            done += 1
            if fail_after_batches is not None and done >= fail_after_batches:
                raise RuntimeError(f"injected failure after {done} batches")

        return {
            "run_id": self.run_id,
            "batches": done,
            "partitions_done": len(self.committed_partitions()),
            "docs_out": total_docs,
        }

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

    def _staged_src(self, input_df: DataFrame) -> DataFrame:
        """One-time restage of the input PHYSICALLY partitioned by part_id
        (the sandbox stand-in for an Iceberg table bucket-partitioned on
        doc_id). After staging, every commit batch's `part_id IN (...)`
        filter is PARTITION PRUNING — a batch reads only its own files,
        and a resume at 90% complete reads only the pending 10% of input
        bytes instead of re-scanning the whole table once per remaining
        batch. Total input read: 1 full scan (staging) + 1 partition-
        pruned scan per batch, vs n_batches full scans unstaged
        (BENCH/pipeline_resume_sf5.json quantifies both).

        Crash-safe: the staging write is atomic-by-marker — the marker
        is written only after the parquet job commits, so a crash
        mid-staging restages from scratch. A missing marker WIPES the
        staging dir first: run() sets partitionOverwriteMode=dynamic
        (for the output tables), under which mode("overwrite") replaces
        only the part_id dirs present in the NEW data — without the
        wipe, a retry with a different bucket count (or an input that
        leaves some part_id empty) would union dead-attempt orphan
        dirs into every later scan. Staging is
        keyed by n_partitions AND the input's identity — the sorted
        source-file set for file-backed inputs, an order-independent
        content fingerprint for in-memory inputs (whose inputFiles() is
        empty and would otherwise collide) — so a layout staged for a
        different bucket count or a different input is rejected rather
        than silently reused (an in-place
        rewrite of the same file paths is the one change this cannot
        see — delete _staged/ when rewriting a source in place)."""
        import hashlib

        marker = os.path.join(self.staged_dir, "_STAGED_LAYOUT")
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
        # marker + wipe go through the Hadoop FS so staging works under
        # any --output scheme (open()/shutil only resolve local paths;
        # on hdfs://s3a:// they would either fail or silently restage)
        from ..session import fs_delete, read_text_file, write_text_file

        layout = f"{self.n_partitions} {src_key}"
        staged_layout = read_text_file(self.spark, marker)
        if staged_layout is None:
            # no marker = no committed staging: clear any half-written
            # attempt so dynamic partition overwrite cannot leave orphans
            fs_delete(self.spark, self.staged_dir)
            (
                input_df.withColumn(
                    "part_id",
                    F.pmod(F.xxhash64("doc_id"), F.lit(self.n_partitions)).cast("int"),
                )
                .write.mode("overwrite")
                .partitionBy("part_id")
                .parquet(self.staged_dir)
            )
            write_text_file(self.spark, marker, layout)
            staged_layout = layout
        staged_layout = staged_layout.strip()
        if staged_layout != layout:
            raise ValueError(
                f"staged layout at {self.staged_dir} was bucketed for "
                f"'{staged_layout}', this run expects '{layout}' "
                "(n_partitions + input identity: md5 of the file list for "
                "file-backed inputs, a content fingerprint for in-memory "
                "ones) — delete the "
                "staging or match it"
            )
        return self.spark.read.option("basePath", self.staged_dir).parquet(
            self.staged_dir
        )

    def read_output(self) -> DataFrame:
        return self.spark.read.parquet(self.extracted_dir)

    def read_metrics(self) -> DataFrame:
        return self.spark.read.schema(METRICS_SCHEMA).parquet(self.metrics_dir)


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
