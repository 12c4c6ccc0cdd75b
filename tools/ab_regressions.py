#!/usr/bin/env python
"""Interleaved A/B re-measure of the four BENCH_r02 regressions (VERDICT
r2 'Next round' #1): tq_fingerprint 0.82->1.54, dedup_minhash_signatures
0.94->1.19, dedup_simhash 0.80->1.10, a8_corpus_keywords 0.33->0.54.

Only tq_fingerprint CHANGED SHAPE between rounds (r1: repartition(doc_id)
barrier + array-lambda transform; r2: generator-indexed explode into a
partial-min agg, shuffle-free) — so it gets a true A/B: the r1 form is
reconstructed here verbatim and alternated with the current one inside
the same round. The other three are byte-identical code across rounds;
for them the question is purely whether the r2 wall-times were
noisy-neighbor windows (documented up to 25x on this VM), so they are
re-measured interleaved with a stable control (q1).

Protocol (as for BENCH/scaling.json): every round runs each item once,
rounds alternate item order, best-of over all rounds wins; `--update`
merges additional rounds from a later time window into
BENCH/regress_ab.json so no conclusion rests on one window.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from docling_nlp_api_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "BENCH", "regress_ab.json")

R1_TIMES = {  # BENCH_r01.json, the times to beat / explain
    "tq_fingerprint": 0.82,
    "dedup_minhash_signatures": 0.94,
    "dedup_simhash": 0.80,
    "a8_corpus_keywords": 0.33,
}


def fingerprint_r1_form(docs):
    """The exact r1-end fingerprint shape (git 9395ace): normalized text
    materialized behind a repartition(doc_id) exchange, stride-4 grams via
    array-lambda transform + array_min. Kept ONLY as the A/B counterpart —
    the repartition is a full-corpus exchange, wrong at 100 TB."""
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    base = docs.select("doc_id", norm.alias("nt")).repartition("doc_id")
    nt = F.col("nt")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(nt) - 7, F.lit(1)), F.lit(4)),
        lambda i: F.md5(nt.substr(i, F.lit(8))),
    )
    return base.select(
        "doc_id",
        F.array_min(grams).alias("min_gram_hash"),
        F.md5(nt).alias("doc_hash"),
    )


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from docling_nlp_api_spark.catalog import QUERIES

    update = "--update" in sys.argv
    rounds = int(next((a.split("=")[1] for a in sys.argv if a.startswith("--rounds=")), "4"))

    spark = get_spark("ab_regress", cores=32, shuffle_partitions=32)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    items = {
        "tq_fingerprint": lambda: run_noop(QUERIES["tq_fingerprint"](spark, SF_DIR)),
        "tq_fingerprint_r1form": lambda: run_noop(fingerprint_r1_form(docs)),
        "dedup_minhash_signatures": lambda: run_noop(QUERIES["dedup_minhash_signatures"](spark, SF_DIR)),
        "dedup_simhash": lambda: run_noop(QUERIES["dedup_simhash"](spark, SF_DIR)),
        "a8_corpus_keywords": lambda: run_noop(QUERIES["a8_corpus_keywords"](spark, SF_DIR)),
        "control_q1": lambda: run_noop(QUERIES["q1_pricing_summary"](spark, SF_DIR)),
    }

    # warm-up: one untimed pass of everything (JIT/codegen/worker pool)
    for fn in items.values():
        fn()

    trials: dict[str, list[float]] = {k: [] for k in items}
    order = list(items)
    for r in range(rounds):
        seq = order if r % 2 == 0 else list(reversed(order))  # alternate to decorrelate
        for name in seq:
            t0 = time.time()
            items[name]()
            trials[name].append(round(time.time() - t0, 3))
    spark.stop()

    window = {
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "rounds": rounds,
        "trials": trials,
        "best": {k: min(v) for k, v in trials.items()},
    }

    doc = {"sf_dir": SF_DIR, "r1_times": R1_TIMES, "windows": []}
    if update and os.path.exists(OUT):
        with open(OUT) as f:
            doc = json.load(f)
    doc["windows"].append(window)

    best = {k: min(min(w["trials"][k]) for w in doc["windows"] if k in w["trials"])
            for k in trials}
    doc["best_overall"] = best
    doc["conclusion"] = {
        k: {
            "r1": R1_TIMES[k],
            "best_now": best[k],
            "noise_confirmed": best[k] <= R1_TIMES[k] * 1.15,
        }
        for k in R1_TIMES
    }
    doc["fingerprint_shape_delta"] = {
        "current_shuffle_free_best": best["tq_fingerprint"],
        "r1_repartition_form_best": best["tq_fingerprint_r1form"],
        "note": "same-session, same-rounds, alternated back-to-back",
    }
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({"windows": len(doc["windows"]), "best": best,
                      "conclusion": doc["conclusion"]}, indent=1))


if __name__ == "__main__":
    main()
