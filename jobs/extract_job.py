#!/usr/bin/env python
"""spark-submit entrypoint for the extraction pipeline (north rule).

Cluster usage (ships the package to executors via --py-files):

    python tools/make_pyfiles_zip.py          # -> dist/docling_nlp_api_spark.zip
    spark-submit \
        --master <cluster-master> \
        --driver-memory 16g \
        --py-files dist/docling_nlp_api_spark.zip \
        jobs/extract_job.py \
        --input  <spans parquet/iceberg path> \
        --output <output root> \
        --run-id prod-2026-08-16 \
        --partitions 32768 --batch-size 512

    The pipeline restages --input once under <output>/_staged/ by
    hash(doc_id); every commit batch then runs one extraction task per
    partition, which reads all of the partition's staged files with
    pyarrow and writes its one output parquet file itself; the driver
    publishes the files and writes the commit records. A partition is
    one task, so --partitions scales with the input: the example's
    32768 partitions put about 300 MB of a 10 TB input in each task.
    A batch runs at most --batch-size tasks, so --batch-size is at
    least the executor core count: 512 fills 512 cores. This sizing was
    measured at 4 local cores only (BENCH/pipeline_tasks_sf0.1.json).
    The output root must be on a filesystem pyarrow opens; local paths
    and file:// are tested. A root that pyarrow cannot open (Hadoop-only
    schemes such as s3a://, abfs://, viewfs://) is rejected before any
    job runs.

    NOTE: memory MUST be sized on the submit line (--driver-memory /
    --executor-memory): under spark-submit the JVM exists before the
    session builder runs, so get_spark's spark.driver.memory config is
    silently ignored (the spark-submit scaling run recorded in
    BENCH/submit_scaling.json found the 1g default OOMs a local[4] run
    at the sf0.5 tier).

Sandbox smoke (local[32], synthetic tier):

    python jobs/extract_job.py --tier sf0.001 --output /tmp/extract_out

Re-running the same --run-id resumes: committed partitions, those with a
checkpoint file under _checkpoints, are skipped; the job is idempotent at
partition granularity.

Prints one JSON summary line: batches, partitions_done, docs_out, the job
phase wall_sec, the seconds staging took (`stage_s`, 0.0 on a resume that
finds the input staged), and per commit batch the measured seconds of the
output write and publish (`write_s`), its longest task-measured seconds
(`task_s`; `write_s - task_s` is the batch's fixed job and task set-up
cost), of writing its metrics and checkpoint files (`commit_s`), and its
Python task count (`tasks`): one per partition of the batch that has
staged input.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs find the package from the repo checkout; cluster runs get it
# from --py-files and this insert is a harmless no-op
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="spans table path (parquet dir)")
    p.add_argument("--tier", help="synthetic tier instead of --input (e.g. sf0.01)")
    p.add_argument("--output", required=True, help="output root (extracted/_checkpoints/_metrics)")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--partitions", type=int, default=64, help="logical commit partitions")
    p.add_argument("--batch-size", type=int, default=16, help="partitions per commit batch")
    p.add_argument("--cores", type=int, default=None, help="local[N] cores (sandbox only)")
    args = p.parse_args(argv)
    if not args.input and not args.tier:
        p.error("one of --input / --tier is required")

    from docling_nlp_api_spark.plans.pipeline import ExtractionPipeline
    from docling_nlp_api_spark.session import get_spark

    spark = get_spark(f"extract_{args.run_id}", cores=args.cores)
    if args.input:
        spans = spark.read.parquet(args.input)
    else:
        from docling_nlp_api_spark.datagen import ensure_spans_parquet

        spans = spark.read.parquet(ensure_spans_parquet(spark, args.tier))

    pipe = ExtractionPipeline(
        spark,
        args.output,
        run_id=args.run_id,
        n_partitions=args.partitions,
        batch_size=args.batch_size,
    )
    import time

    t0 = time.time()
    summary = pipe.run(spans)
    # job-phase wall time (excludes JVM/session startup): the number that
    # amortizes on a long-running cluster job; BENCH/submit_scaling.json
    # reports it alongside total submit wall time
    summary["wall_sec"] = round(time.time() - t0, 2)
    summary["stage_s"] = round(summary["stage_s"], 3)
    for phase in ("write_s", "task_s", "commit_s"):
        summary[phase] = [round(x, 3) for x in summary[phase]]
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
