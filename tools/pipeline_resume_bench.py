#!/usr/bin/env python
"""North-rule resume evidence at the 50x tier: run the checkpointed
extraction pipeline (plans/pipeline.py) over the sf5 spans corpus
(2.5M docs, ~203M spans, 17 GB parquet), inject a crash after the first
commit batch, resume with the SAME run_id, and prove:

1. exactly-once: the resumed run processes only the pending partitions
   (committed ones are never touched again), each partition id appears
   exactly once in the metrics table, and sum(docs_in) over metrics ==
   the corpus row count (no double counting across the crash);
2. output equality: an order-insensitive corpus checksum (sum of
   per-doc xxhash64 over doc_id/status/spans/metadata) of the pipeline's
   on-disk output equals the checksum of the pure extraction kernel run
   directly on the same input — the crash/resume path changes nothing;
3. proportionality: resumed wall time tracks the pending-partition
   fraction (the crash committed 1 of 4 batches, so resume does ~3/4 of
   the work). The crash phase also pays the one-time restage of the
   input by part_id; every batch after it reads only its own
   partitions' staged files.

The small-scale correctness twin is tests/test_pipeline_resume.py; this
tool is the evidence that the protocol HOLDS at a tier where a partition
is gigabytes, not kilobytes.

Usage: python tools/pipeline_resume_bench.py [--input .data/spans_sf5_v2]
       [--out /tmp/pipeline_resume_sf5] [--json BENCH/pipeline_resume_sf5_arrow.json]

BENCH/pipeline_resume_sf5.json is the frozen record of the earlier
two-layout (staged / unstaged) version of this run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from docling_nlp_api_spark.session import get_spark  # noqa: E402

N_PARTITIONS = 32
BATCH_SIZE = 8  # -> 4 commit batches; crash after batch 1 leaves 24/32 pending


def checksum(df):
    """Order-insensitive corpus digest: exact decimal(38,0) sum of a
    per-doc hash over every output column (int64 sums overflow under
    ANSI mode at corpus scale). Collision-safe for equality evidence
    (any per-doc difference shifts the sum with probability 1 - 2^-64)."""
    from pyspark.sql import functions as F

    h = F.xxhash64("doc_id", "status", F.to_json(F.struct("spans", "metadata")))
    row = df.agg(
        F.sum(h.cast("decimal(38,0)")).alias("s"), F.count("*").alias("n")
    ).collect()[0]
    return int(row["s"]), int(row["n"])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=".data/spans_sf5_v2")
    ap.add_argument("--out", default="/tmp/pipeline_resume_sf5")
    ap.add_argument("--json", default="BENCH/pipeline_resume_sf5_arrow.json")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from docling_nlp_api_spark.operators.extract import extract
    from docling_nlp_api_spark.plans.pipeline import ExtractionPipeline

    spark = get_spark("pipeline_resume_bench")
    src = spark.read.parquet(args.input)

    # reference: the pure kernel, no pipeline, no write
    t0 = time.time()
    ref_sum, ref_n = checksum(extract(src))
    ref_sec = round(time.time() - t0, 1)
    print(f"reference kernel checksum over {ref_n} docs in {ref_sec}s", flush=True)

    shutil.rmtree(args.out, ignore_errors=True)
    pipe = ExtractionPipeline(
        spark, args.out, run_id="sf5bench", n_partitions=N_PARTITIONS, batch_size=BATCH_SIZE,
    )
    t0 = time.time()
    crashed = False
    try:
        pipe.run(src, fail_after_batches=1)
    except RuntimeError as exc:
        crashed = True
        print(f"injected crash: {exc}", flush=True)
    crash_sec = round(time.time() - t0, 1)
    committed_after_crash = sorted(pipe.committed_partitions())
    assert crashed, "fail_after_batches did not fire"
    assert len(committed_after_crash) == BATCH_SIZE, committed_after_crash

    t0 = time.time()
    summary = pipe.run(src)
    resume_sec = round(time.time() - t0, 1)
    assert summary["partitions_done"] == N_PARTITIONS, summary

    # exactly-once accounting
    m = pipe.read_metrics()
    per_pid = m.groupBy("partition_id").agg(F.count("*").alias("k")).collect()
    dup_pids = [r["partition_id"] for r in per_pid if r["k"] != 1]
    assert not dup_pids, f"partitions metered more than once: {dup_pids}"
    tot = m.agg(
        F.sum("docs_in").alias("di"), F.sum("docs_out").alias("do"),
        F.sum("spans_in").alias("si"), F.sum("spans_out").alias("so"),
    ).collect()[0]
    assert int(tot["di"]) == ref_n, (tot, ref_n)

    out_sum, out_n = checksum(pipe.read_output().select("doc_id", "status", "spans", "metadata"))
    assert (out_sum, out_n) == (ref_sum, ref_n), (
        f"pipeline output != kernel output: {(out_sum, out_n)} vs {(ref_sum, ref_n)}"
    )
    shutil.rmtree(args.out, ignore_errors=True)
    result = {
        "input": args.input,
        "n_docs": ref_n,
        "n_partitions": N_PARTITIONS,
        "batch_size": BATCH_SIZE,
        "crash_after_batches": 1,
        "pending_fraction_at_resume": (N_PARTITIONS - BATCH_SIZE) / N_PARTITIONS,
        "reference_kernel_sec": ref_sec,
        "crash_phase_sec": crash_sec,
        "resume_phase_sec": resume_sec,
        "resume_to_crash_ratio": round(resume_sec / crash_sec, 2),
        "metrics_totals": {k: int(tot[k2]) for k, k2 in
                           [("docs_in", "di"), ("docs_out", "do"),
                            ("spans_in", "si"), ("spans_out", "so")]},
        "checksum_match": True,
        "exactly_once": True,
        "note": "crash committed 1 of 4 batches; resume re-derived pending "
        "partitions from the checkpoint table and never rewrote committed "
        "ones; output checksum equals the pure kernel's. The crash phase "
        "includes the one-time restage of the input by part_id.",
    }
    with open(args.json, "w") as f:
        json.dump(result, f, indent=2)
        f.write("\n")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
