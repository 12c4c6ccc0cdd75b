"""End-to-end test for the dedup job entrypoint (jobs/dedup_job.py):
the operators are oracle-verified individually; this pins their
composition — table coherence, metrics arithmetic, and idempotent
re-runs over the same input."""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

from dedup_job import main, run_dedup  # noqa: E402

from docling_nlp_api_spark.operators.dedup import (  # noqa: E402
    PLANT_OFFSET,
    with_planted_dups,
)


def _docs(spark, sf_dir):
    return with_planted_dups(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def test_dedup_job_end_to_end(spark, sf_dir):
    out = tempfile.mkdtemp(prefix="dedup_job_")
    try:
        docs = _docs(spark, sf_dir)
        m = run_dedup(spark, docs, out)

        keep = spark.read.parquet(os.path.join(out, "keep"))
        clusters = spark.read.parquet(os.path.join(out, "clusters"))
        disk = json.load(open(os.path.join(out, "metrics.json")))
        assert disk == m

        # arithmetic: every input doc is kept or dropped, exactly once
        # (total = near-dup non-canonicals U exact-group non-representatives)
        assert m["n_kept"] + m["n_dropped_total"] == m["n_docs_in"] == docs.count()
        assert m["n_dropped_total"] >= m["n_dropped_neardup"]
        assert keep.count() == m["n_kept"]
        assert keep.select("doc_id").distinct().count() == m["n_kept"]

        # coherence: canonical cluster members kept, non-canonical dropped
        kept_ids = {r.doc_id for r in keep.select("doc_id").collect()}
        for r in clusters.collect():
            assert (r.doc_id in kept_ids) == bool(r.is_canonical)
            assert r.is_canonical == (r.doc_id == r.canonical_id)

        # the planted near-dups (doc_id + PLANT_OFFSET, truncated text) must
        # cluster with their sources, and the source (min id) wins
        planted = {r.doc_id for r in clusters.filter(f"doc_id >= {PLANT_OFFSET}").collect()}
        assert planted, "no planted dup was clustered"
        canon = {r.doc_id: r.canonical_id for r in clusters.collect()}
        for pid in planted:
            assert canon[pid] < PLANT_OFFSET

        # idempotence: a second run over the same input reproduces the
        # metrics and the keep-set byte-for-byte
        out2 = tempfile.mkdtemp(prefix="dedup_job2_")
        try:
            m2 = run_dedup(spark, docs, out2)
            assert m2 == m
            keep2 = spark.read.parquet(os.path.join(out2, "keep"))
            assert sorted(map(tuple, keep2.collect())) == sorted(map(tuple, keep.collect()))
        finally:
            shutil.rmtree(out2, ignore_errors=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_multiband_candidates_beat_single_band_recall(spark, sf_dir):
    """The production multi-band path (bands>1) of candidate_pairs_jaccard:
    planted-truth recall must beat the 1-band demo banding (the curve in
    BENCH/lsh_curve.md is the full instrument; this pins its direction),
    every emitted pair must clear the threshold, and pairs colliding in
    several bands must be emitted once (the pre-verify DISTINCT)."""
    from pyspark.sql import functions as F

    from docling_nlp_api_spark.operators.dedup import candidate_pairs_jaccard

    docs = _docs(spark, sf_dir)
    planted = {
        (r.doc_id, r.doc_id + PLANT_OFFSET)
        for r in docs.filter(f"doc_id % 10 = 0 AND doc_id < {PLANT_OFFSET}")
        .select("doc_id").collect()
    }

    def verified(bands, rows):
        rows_ = candidate_pairs_jaccard(docs, 0.5, bands=bands, rows=rows).collect()
        pairs = [(r.doc_a, r.doc_b) for r in rows_]
        assert len(pairs) == len(set(pairs)), "duplicate pair emitted"
        assert all(r.jaccard >= 0.5 for r in rows_)
        return set(pairs)

    one_band = verified(1, 2)
    multi = verified(8, 4)
    assert len(planted & multi) > len(planted & one_band)
    assert len(planted & multi) >= int(0.9 * len(planted))


def test_exact_dups_below_shingle_floor_are_dropped(spark, sf_dir):
    """The LSH plane cannot see docs with < 3 tokens (zero shingles, so
    no signature, no candidates). Byte-identical copies of such a doc
    must STILL deduplicate via the exact leg of the drop list — before
    the fix both copies landed in keep/."""
    docs = _docs(spark, sf_dir).unionByName(
        spark.createDataFrame(
            [
                (900_000_001, "ok go"),   # 2 tokens: invisible to LSH
                (900_000_002, "ok go"),   # byte-identical twin
                (900_000_003, "lone"),    # 1 token, unique: must be kept
            ],
            "doc_id long, text string",
        )
    )
    out = tempfile.mkdtemp(prefix="dedup_job_floor_")
    try:
        m = run_dedup(spark, docs, out)
        kept = {r.doc_id for r in
                spark.read.parquet(os.path.join(out, "keep")).select("doc_id").collect()}
        assert 900_000_001 in kept       # representative (min doc_id)
        assert 900_000_002 not in kept   # exact twin dropped despite no shingles
        assert 900_000_003 in kept       # unique short doc survives
        assert m["n_kept"] + m["n_dropped_total"] == m["n_docs_in"]
        assert m["n_dropped_total"] > m["n_dropped_neardup"]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_main_writes_uri_output_only_through_spark(spark, sf_dir, tmp_path, monkeypatch):
    """main() with a file:// --output root writes its tables and
    metrics.json there, and creates no local directory named after the
    URI (`./file:/...`) under the working directory."""
    from pyspark.sql import SparkSession

    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("SPARK_GRAFT_DATA_ROOT", os.path.dirname(sf_dir))
    # main() stops its session; keep the shared one alive
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    assert main(["--tier", "sf0.001", "--output", f"file://{tmp_path}/out"]) == 0
    assert (tmp_path / "out" / "metrics.json").exists()
    assert not (tmp_path / "file:").exists()
