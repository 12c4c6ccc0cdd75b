#!/usr/bin/env python
"""spark-submit entrypoint for the full near-dup pipeline: the dedup
operators (operators/dedup.py) composed end-to-end the way a corpus
snapshot is actually cleaned —

    exact groups -> MinHash/LSH candidates -> Jaccard verify ->
    connected components -> canonical keep-set + audit tables + metrics

Cluster usage (ships the package to executors via --py-files):

    python tools/make_pyfiles_zip.py          # -> dist/docling_nlp_api_spark.zip
    spark-submit \
        --master <cluster-master> \
        --py-files dist/docling_nlp_api_spark.zip \
        jobs/dedup_job.py \
        --input <documents parquet/iceberg path> \
        --output <output root> --threshold 0.5

Sandbox smoke (local cores, synthetic tier):

    python jobs/dedup_job.py --tier sf0.001 --output /tmp/dedup_out

Outputs under --output:
    keep/      parquet (doc_id, text_md5)      the deduplicated corpus keys
    clusters/  parquet (doc_id, canonical_id, is_canonical)  near-dup audit
    exact/     parquet (content_hash, n_docs, representative) exact-dup audit
    metrics.json                               one JSON object (also printed)

Scale notes: every stage is the already-audited operator — candidate
generation is a bucket equi-join, verification touches LSH candidates
only, components run on the verified EDGE set, and the keep-set is an
anti-join of the drop list against the corpus (un-hinted: the drop list
scales with the corpus dup mass, so AQE chooses broadcast vs shuffle).
The only corpus-wide exchanges are the shingle->signature aggregation,
the exact-hash join, and the final anti-join; text never shuffles.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_dedup(
    spark, docs, output: str, threshold: float = 0.5, bands: int = 8, rows: int = 4
) -> dict:
    """Compose the dedup operators over `docs` (doc_id, text) and write
    keep/clusters/exact tables + metrics under `output`. Returns the
    metrics dict. Resolution runs ONCE; the keep-set reuses its labels
    (keep_corpus's anti-join inlined on the resolved frame)."""
    from pyspark.sql import functions as F

    from docling_nlp_api_spark.operators.dedup import (
        connected_components,
        candidate_pairs_jaccard,
        exact_dedup,
    )

    n_in = docs.count()

    exact = exact_dedup(docs)
    exact.write.mode("overwrite").parquet(os.path.join(output, "exact"))
    exact_stats = (
        spark.read.parquet(os.path.join(output, "exact"))
        .agg(
            F.count("*").alias("groups"),
            F.coalesce(F.sum(F.col("n_docs") - 1), F.lit(0)).alias("excess"),
        )
        .collect()[0]
    )

    # 8x4 banding is the production default per the measured recall/cost
    # sweep (BENCH/lsh_curve.md): 0.948 recall of the
    # planted truth at near-1.0 candidate precision — loose 16x2 buys
    # recall 1.0 only at 4.3x the candidate volume (the verify-join input
    # at 100 TB), tight 16x8 drops recall to 0.90 and doubles minhash cost
    pairs = candidate_pairs_jaccard(docs, threshold, bands=bands, rows=rows).select(
        "doc_a", "doc_b"
    )
    resolved = connected_components(pairs)
    resolved.write.mode("overwrite").parquet(os.path.join(output, "clusters"))
    resolved = spark.read.parquet(os.path.join(output, "clusters"))

    drop_near = resolved.filter(~F.col("is_canonical")).select("doc_id")
    # exact duplicates the LSH plane cannot see: a doc with < 3 tokens
    # emits no shingles, so byte-identical copies of it never become
    # candidates — without this leg BOTH copies would land in keep/.
    # Every non-representative member of an exact group is dropped; for
    # >= 3-token docs this overlaps the near-dup drop list (Jaccard 1.0
    # clusters them too), hence the distinct union.
    hashed = docs.select("doc_id", F.md5("text").alias("content_hash"))
    # exact/ holds only n_docs > 1 groups by exact_dedup's contract
    # (operators/dedup.py) — no re-filter here, one source of truth
    exact_groups = (
        spark.read.parquet(os.path.join(output, "exact"))
        .select("content_hash", "representative")
    )
    drop_exact = (
        hashed.join(exact_groups, "content_hash")
        .filter(F.col("doc_id") != F.col("representative"))
        .select("doc_id")
    )
    # persist: the drop list feeds BOTH the keep anti-join and the
    # accounting count below — without the pin its lineage (full-corpus
    # md5 scan + exact-groups join) runs twice
    drop = drop_near.unionByName(drop_exact).distinct().persist()
    try:
        # NO broadcast hint on the drop list: it is one row per duplicate
        # doc — proportional to the corpus dup mass (tens of percent of a
        # web corpus), not a constant. Forcing a broadcast would collect
        # billions of rows to the driver at the advertised scale; a plain
        # anti-join lets AQE pick broadcast when the list is small.
        # text_md5 comes from the single `hashed` frame, not a second
        # md5(text) pass over the corpus.
        keep = hashed.join(drop, "doc_id", "left_anti").select(
            "doc_id", F.col("content_hash").alias("text_md5")
        )
        keep.write.mode("overwrite").parquet(os.path.join(output, "keep"))
        n_dropped_total = drop.count()
    finally:
        drop.unpersist()

    cl = resolved.agg(
        F.count("*").alias("docs"),
        F.countDistinct("canonical_id").alias("clusters"),
        F.sum(F.when(~F.col("is_canonical"), 1).otherwise(0)).alias("dropped"),
    ).collect()[0]
    n_kept = spark.read.parquet(os.path.join(output, "keep")).count()

    metrics = {
        "n_docs_in": n_in,
        "n_exact_dup_groups": exact_stats["groups"],
        "n_exact_dup_excess": int(exact_stats["excess"]),
        "n_clustered_docs": cl["docs"],
        "n_clusters": cl["clusters"],
        "n_dropped_neardup": int(cl["dropped"] or 0),
        "n_dropped_total": n_dropped_total,
        "n_kept": n_kept,
        "threshold": threshold,
        "bands": bands,
        "rows": rows,
    }
    # exact accounting: every input doc is either kept or in the distinct
    # drop list (near-dup non-canonicals U exact-group non-representatives)
    assert metrics["n_kept"] + metrics["n_dropped_total"] == n_in, metrics
    assert metrics["n_dropped_total"] >= metrics["n_dropped_neardup"], metrics
    from docling_nlp_api_spark.session import write_text_file

    # through the Hadoop FS so an hdfs://s3a:// --output root works
    write_text_file(spark, os.path.join(output, "metrics.json"), json.dumps(metrics))
    return metrics


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="documents table path (parquet dir with doc_id, text)")
    p.add_argument("--tier", help="synthetic tier instead of --input (e.g. sf0.001)")
    p.add_argument("--output", required=True, help="output root (keep/clusters/exact/metrics)")
    p.add_argument("--threshold", type=float, default=0.5, help="Jaccard verify threshold")
    p.add_argument("--bands", type=int, default=8,
                   help="LSH bands for candidate generation (BENCH/lsh_curve.md)")
    p.add_argument("--rows", type=int, default=4, help="signature rows per band")
    p.add_argument("--cores", type=int, default=None, help="local[N] cores (sandbox only)")
    args = p.parse_args(argv)
    if not args.input and not args.tier:
        p.error("one of --input / --tier is required")

    from docling_nlp_api_spark.session import get_spark

    spark = get_spark("dedup_job", cores=args.cores)
    if args.input:
        docs = spark.read.parquet(args.input).select("doc_id", "text")
    else:
        # synthetic tier incl. the planted near-dups so the smoke run
        # exercises the whole pipeline, not a no-op corpus
        from docling_nlp_api_spark.operators.dedup import with_planted_dups

        tier_dir = os.environ.get("SPARK_GRAFT_DATA_ROOT", "/root/testdata")
        docs = with_planted_dups(
            spark.read.parquet(os.path.join(tier_dir, args.tier, "documents.parquet"))
        )

    metrics = run_dedup(
        spark, docs, args.output,
        threshold=args.threshold, bands=args.bands, rows=args.rows,
    )
    print(json.dumps(metrics))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
