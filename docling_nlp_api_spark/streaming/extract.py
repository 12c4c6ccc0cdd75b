"""Streaming extraction — the north-rule pipeline's CONTINUOUS-INGESTION
form (SURVEY §2.9 extension): a file-source readStream over a spans
drop-zone runs the SAME Arrow extraction kernel (operators/extract.py)
and appends to a checkpointed sink, giving exactly-once file processing
across restarts from the engine's own write-ahead commit log.

Relationship to plans/pipeline.py: the batch pipeline is the
partition-checkpointed BACKFILL (explicit per-partition lineage rows,
Iceberg-style dynamic overwrite); this module is the steady-state tail —
new documents land in the drop zone, each micro-batch extracts only the
new files, and a restart resumes from the streaming checkpoint without
reprocessing (test_streaming.py asserts byte-equal results and
exactly-once counts across a stop/stage-more/restart cycle).

At cluster scale the sink is `writeStream.toTable("extracted")` on an
Iceberg table partitioned by bucket(doc_id) and the drop zone is an
object-store prefix with file-notification discovery; the sandbox uses a
parquet path sink + local checkpoint dir — the commit contract
(offsets/ + commits/ WAL, idempotent sink manifest) is the same engine
code either way. The kernel is stateless per doc, so no watermark is
needed: a document's spans arrive as ONE row (never split across files),
which is exactly the batch pipeline's skew invariant too.

Reference anchor: the reference extracts synchronously per uploaded file
(docling_service.py:36-91); this is that request path re-expressed as an
at-scale ingest stream."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..datagen import spans_df
from ..operators.extract import extract
from ..schema import DOCUMENTS_SPANS_SCHEMA


def stage_span_chunks(
    spark: SparkSession,
    out_dir: str,
    n_docs: int,
    n_chunks: int = 3,
    start_doc: int = 0,
) -> list[str]:
    """Stage n_docs deterministic fixture docs as n_chunks FLAT parquet
    files under out_dir (the file source must not partition-infer; see
    stage_event_chunks). start_doc lets a test stage LATER arrivals into
    the same drop zone — chunk names embed the doc range so re-staging
    is idempotent and ordering deterministic."""
    os.makedirs(out_dir, exist_ok=True)
    per = (n_docs + n_chunks - 1) // n_chunks
    written = []
    for k in range(n_chunks):
        lo = start_doc + k * per
        hi = min(start_doc + (k + 1) * per, start_doc + n_docs)
        if lo >= hi:
            break
        tmp = os.path.join(out_dir, "_stage_tmp")
        # generate exactly [lo, hi) — the previous generate-[0, hi)-then-
        # filter made staging O(chunks x total_docs)
        df = spans_df(spark, hi - lo, start=lo)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(out_dir, f"docs_{lo:09d}_{hi:09d}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp)
        written.append(dst)
    return written


def read_span_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """readStream over the spans drop zone with the explicit fixture
    schema; maxFilesPerTrigger=1 makes every staged file its own
    micro-batch so commit-log granularity is exercised."""
    reader = spark.readStream.schema(DOCUMENTS_SPANS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(src_dir)


def run_extract_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
) -> int:
    """One availableNow pass: extract every file the checkpoint has not
    committed yet, append to the parquet sink, stop. Returns the number
    of micro-batches executed (0 on a no-new-data restart — the
    exactly-once evidence). The extraction itself is the unmodified
    batch kernel: mapInArrow is stateless, so Structured Streaming
    applies it per micro-batch with no semantic delta vs batch.
    max_files_per_trigger=1 (default) exercises per-file commit
    granularity (tests); None drains everything in one micro-batch —
    the throughput configuration measured in BENCH/stream_bench.json.
    The session's configuration is left as it was found."""
    # recentProgress is a ring buffer capped at
    # spark.sql.streaming.numRecentProgressUpdates (default 100) — a drop
    # of >100 files would silently undercount; raise the cap for the
    # drain so the returned batch count stays exact, and restore the
    # caller's value once the progress has been read
    key = "spark.sql.streaming.numRecentProgressUpdates"
    prev = spark.conf.get(key)
    spark.conf.set(key, "100000")
    try:
        stream = extract(read_span_stream(spark, src_dir, max_files_per_trigger))
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = q.recentProgress
    finally:
        spark.conf.set(key, prev)
    return len([p for p in progress if p["numInputRows"] > 0])
