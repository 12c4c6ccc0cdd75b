#!/usr/bin/env python
"""Physical-plan audit -> BENCH/plans.md.

Captures `.explain("formatted")` (+ simple mode for codegen markers) for
the headline queries and asserts the plan properties the engine is
designed around:
- filters/projections pushed to the parquet scan (PushedFilters/ReadSchema)
- dimension joins broadcast (BroadcastHashJoin), no accidental
  sort-merge on small dims
- top-k compiled to TakeOrderedAndProject (no global Sort)
- the extraction path free of Exchange (zero shuffles)
- relational ops inside whole-stage codegen spans (`*(n)` markers)

AQE is disabled for this session only, so the static plan (which carries
codegen spans and the full Exchange structure) is what gets audited; the
production sessions keep AQE on.

Usage: python tools/dump_plans.py   (writes BENCH/plans.md)
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from docling_nlp_api_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

CODEGEN = "CODEGEN"  # sentinel: check `*(n)` markers in the simple plan

# query -> (positive properties that MUST appear, negative that MUST NOT)
AUDITS: dict[str, tuple[list[str], list[str]]] = {
    "q1_pricing_summary": ([r"PushedFilters: \[IsNotNull\(l_shipdate\)", CODEGEN, "HashAggregate"], ["SortMergeJoin"]),
    "q6_forecast_revenue": ([r"PushedFilters: .*LessThan", CODEGEN], ["Exchange hashpartitioning"]),
    "q5_revenue_by_nation": (["BroadcastHashJoin", CODEGEN], []),
    "q3_shipping_priority": (["TakeOrderedAndProject", "BroadcastHashJoin"], []),
    "q10_returned_items": (["TakeOrderedAndProject", r"PushedFilters: .*EqualTo\(l_returnflag,R\)"], []),
    "j_broadcast_part_stats": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    "a8_corpus_keywords": (["TakeOrderedAndProject", "HashAggregate"], []),
    "a11_multi_window": (["HashAggregate"], [r"(Exchange[\s\S]*){3,}"]),
    "w1_top_event_types": (["Window"], []),
    "u1_u3_extract_spans": (["ArrowEvalPython|MapInArrow|PythonUDF"], ["Exchange"]),
    # render plane: ONE kernel pass, zero shuffle/join, and the staged
    # Generate barriers (keywords + full-text/splits + page segments)
    # present — if CollapseProject ever eats them, the tokenizer/splitter
    # re-evaluates per referencing lambda (measured 7-25x)
    "s4_s8_extract_render": (
        ["ArrowEvalPython|MapInArrow|PythonUDF", r"(Generate[\s\S]*){6,}"],
        ["Exchange", "Join"],
    ),
    # generator-indexed minhash: shingle starts explode through ONE
    # Generate, no Window/sort of the token stream; the tokenizer appears
    # once per Union branch (docs + injected dups = 2), never per shingle
    "dedup_minhash_signatures": (
        ["Generate", "HashAggregate"],
        ["Window", r"(regexp_extract_all[\s\S]*){3,}"],
    ),
    # fingerprint: the normalized text is staged behind ONE
    # inline-struct Generate (so the normalizer regex appears exactly
    # once, never per gram) and the stride-gram min is row-local —
    # zero Exchange anywhere in the plan (round 2's explode+agg shape
    # re-measured 1.7x slower locally; BENCH/regress_ab.json)
    "tq_fingerprint": (["Generate"], ["Exchange", r"(regexp_replace[\s\S]*){2,}"]),
    # PII redaction: pure map pass — three regexp_replace fused into one
    # codegen stage, zero shuffle anywhere
    "pii_redact": ([CODEGEN], ["Exchange", "Join"]),
    # exact percentile trim: the corpus side is a broadcast semi probe on
    # the kept-length set, and the scan is pruned to exactly the two
    # columns the op emits; the cumsum Window runs over the histogram
    # subtree only (post-HashAggregate), never the corpus
    "sample_length_trim": (
        ["BroadcastHashJoin", r"LeftSemi", r"ReadSchema: struct<doc_id:bigint,n_chars:bigint>"],
        ["SortMergeJoin"],
    ),
    # sequence packing: ONE hash exchange (the shard repartition for the
    # per-shard cumsum window); no second shuffle, no global sort
    "sample_pack_sequences": (
        ["Window", r"hashpartitioning\(shard"],
        [r"(\(\d+\) Exchange[\s\S]*){2,}", "rangepartitioning"],
    ),
    # dataset card: grouping sets compile to ONE scan + Expand + partial
    # aggs — not a 4-scan Union of separate rollups
    "sample_dataset_card": (["Expand", "HashAggregate"], ["Union"]),
    # temperature resample: O(langs) rate table broadcast back onto the
    # narrow (doc_id, lang) pass
    "sample_temperature_resample": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    # CCNet segment dedup: the frequent-segment set probes back as a
    # broadcast join; the distinct-doc count shuffles md5 hashes only
    "dedup_segment_boilerplate": (["BroadcastHashJoin", "HashAggregate"], ["SortMergeJoin"]),
    # passage dedup: cross-doc gram set broadcasts to the gram stream;
    # region merge is row-local after one doc_id regroup — no sort join,
    # no cross join, gram TEXT never crosses an exchange (hashes only)
    "dedup_passages": (
        ["BroadcastHashJoin", "Generate"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    # keep-one-copy rewrite: same broadcast shape; the region merge and
    # token re-slicing are row-local aggregates, never a window shuffle
    "dedup_passage_rewrite": (
        ["BroadcastHashJoin", "Generate"],
        ["SortMergeJoin", "CartesianProduct", "Window"],
    ),
    # BPE pair counting: vocabulary-sized explode, partial-agg rollups,
    # top-k must be TakeOrderedAndProject (never a global Sort)
    "lm_bpe_pair_stats": (["TakeOrderedAndProject", "HashAggregate"], ["Sort "]),
    # tf-idf: df table broadcasts (vocabulary-sized); the top-k window
    # partitions by doc_id — per-doc state, never a global sort
    "nlp_tfidf_top_terms": (["BroadcastHashJoin", "Window"], ["SortMergeJoin"]),
    # DSIR: vocabulary-sized weight table broadcasts to the token
    # stream; per-doc mean partial-aggregates map-side
    "sample_dsir_weights": (["BroadcastHashJoin", "HashAggregate"], ["SortMergeJoin"]),
    # bigram LM: row-local bigram build behind a Generate; count-table
    # probes are equi-joins (AQE broadcasts at this scale), no cross join
    "lm_bigram_logprob": (
        ["Generate", "HashAggregate"],
        ["CartesianProduct"],
    ),
    # zipf fit: top-N via TakeOrderedAndProject (never a global corpus
    # sort); the regression runs over integer sums of the N-row frame
    "tq_zipf_fit": (["TakeOrderedAndProject", "HashAggregate"], ["CartesianProduct"]),
    # JPEG pixel decode: one mapInPandas pass over the image rows — no
    # exchange anywhere (embarrassingly parallel decode)
    "mm_decode_jpeg": (["MapInPandas"], ["Exchange", "SortMergeJoin"]),
    # HLL sketch: fixed m register rows per group cross the exchange
    # (max partial-agg map-side), never the value stream
    "sk_hll_distinct": (["HashAggregate"], ["SortMergeJoin", "CartesianProduct"]),
    # bloom decon: probe side is a row-local bit test against a LITERAL
    # bitmap — the only join left is the exact-ground-truth broadcast
    "decon_bloom_overlap": (["BroadcastHashJoin", "Generate"], ["SortMergeJoin"]),
    # CMS: vocabulary-sized rollup feeds <= d*w counter rows; the top-20
    # probe joins a broadcast sketch — no sort join, no global sort
    "sk_cms_word_counts": (["HashAggregate", "TakeOrderedAndProject"], ["SortMergeJoin"]),
    # incremental dedup: candidates come from a (band, bucket) equi-join
    # of the two index frames — never a cross join of new x base
    "dedup_incremental": (
        ["HashAggregate", "Join"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # quality-gate funnel: all gates share one tokenize+sort behind TWO
    # staged Generates; the whole funnel is a map pass — no shuffle/join,
    # and the tokenizer regex appears exactly once
    "tq_filter_funnel": (
        [r"(Generate[\s\S]*){2,}"],
        ["Exchange", "Join", r"(regexp_extract_all\(lower[\s\S]*){2,}"],
    ),
    # sequence materialization: the corpus text crosses exactly ONE
    # exchange (the shard window's hashpartitioning, which the
    # (shard, seq_idx) aggregate reuses — shard is a subset of the
    # grouping keys); fragment slicing is row-local, no join, no Python
    "sample_pack_materialize": (
        ["Window", "Generate"],
        [r"(Exchange hashpartitioning[\s\S]*){2,}", "Join", "Python"],
    ),
    # URL normalize+parse: pure codegen'd string algebra fused into the
    # scan — zero shuffle, zero join
    "url_parse_normalize": ([CODEGEN], ["Exchange", "Join"]),
    # domain blocklist: the curation list joins as a broadcast, never a
    # sort-merge of corpus x list
    "url_blocklist_summary": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    # NB classifier: the model tables (class counts/totals/priors) are
    # all broadcast — the corpus-sized word-count stream never sort-merge
    # joins; the |classes| fan-out is the intended BroadcastNestedLoop
    "clf_nb_predict": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    # Gopher quality rules: one staged map pass — the \S+ word array is
    # built exactly once behind its Generate; no shuffle, no join
    "tq_gopher_rules": (
        ["Generate"],
        ["Exchange hashpartitioning", r"(regexp_extract_all\(text#\d+, \\S\+[\s\S]*){2,}"],
    ),
    # C4 line cleaning: line split + retained subset staged behind one
    # Generate; page verdicts are column algebra — map-only
    "tq_c4_line_filters": (["Generate"], ["Exchange hashpartitioning"]),
    # PageRank: every iteration is an equi-join + hash agg on graph keys;
    # the final top-k is TakeOrderedAndProject, never a global Sort, and
    # nothing degenerates to a cross join
    "graph_pagerank_topk": (
        ["HashAggregate", "TakeOrderedAndProject"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # snapshot diff: both sides reduce to (doc_id, md5) BEFORE the
    # full-outer join — the text column must not appear in the join's
    # ReadSchema-side projections beyond the hash input
    "snap_diff_summary": (["FullOuter", "HashAggregate"], ["CartesianProduct"]),
    # char entropy: one map pass — char sort and run boundaries each
    # staged behind their own inline-struct Generate; zero shuffle, zero
    # join, the char regex evaluated exactly once per row
    "tq_char_entropy": (
        [r"(Generate[\s\S]*){2,}"],
        ["Exchange", "Join", r"(regexp_extract_all[\s\S]*){2,}"],
    ),
    # BM25: per-doc tf/dl in one staged map pass + a single-row global
    # stats agg broadcast back (the intended 1-row BroadcastNestedLoop);
    # top-k is TakeOrderedAndProject; NO hash shuffle anywhere — the
    # token stream is never grouped. The tokenizer appears exactly TWICE
    # (the stats branch and the probe branch each scan — the inherent
    # two-pass shape of global-stats-then-score), never per term
    "nlp_bm25_topk": (
        ["TakeOrderedAndProject", "BroadcastNestedLoopJoin", "HashAggregate"],
        ["SortMergeJoin", "Exchange hashpartitioning",
         r"(regexp_extract_all\(lower[\s\S]*){3,}"],
    ),
    # SemDeDup: the pairwise stage is an equi-join on the learned cluster
    # id (lo < hi rides as a join filter) — it must never degenerate to a
    # nested-loop/cartesian pair enumeration
    "dedup_semdedup": (
        ["HashAggregate", "Join"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # containment: rarity-gated candidates via shingle-hash equi-joins;
    # verification attaches hash-set arrays by id equi-join — no
    # cross/nested-loop pair enumeration anywhere
    "dedup_containment": (
        ["HashAggregate", "Join"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # language mixing: sentence explode -> two hash aggs on (doc[, lang])
    # carrying counts only; dominant is a struct-min AGGREGATE, no window
    "tq_lang_mix": (["Generate", "HashAggregate"], ["Window", "SortMergeJoin"]),
    # badwords gate: one tokenize map pass, list literal in-plan, hit
    # scan is a row-local HOF filter — zero shuffle, zero join, zero
    # explode, single tokenizer evaluation
    "tq_badwords_gate": (
        [CODEGEN],
        ["Exchange", "Join", "Generate",
         r"(regexp_extract_all\(lower[\s\S]*){2,}"],
    ),
    # tokenizer fertility: one map pass + narrow groupBy(lang); EACH of
    # the two regexes (ws words, BPE tokens) evaluated exactly once, no
    # join, one exchange on lang
    "tq_token_fertility": (
        ["HashAggregate"],
        ["Join", "Generate",
         r"(regexp_extract_all\(text#\d+, \\S\+[\s\S]*){2,}",
         r"(\[A-Za-z\]\+\|\[0-9\]\+[\s\S]*){2,}"],
    ),
    # as-of join: the union-tag shape — ONE exchange on the key feeding
    # a partitioned running-last window; ZERO join operators of any kind
    # (a naive as-of is a per-key quadratic theta-join), both scans
    # pruned by pushed event_type filters
    "j6_asof_view_purchase": (
        ["Union", "Window",
         r"hashpartitioning\(_k#\d+L",
         r"PushedFilters: \[IsNotNull\(event_type\), EqualTo\(event_type,purchase\)\]"],
        ["Join", "CartesianProduct"],
    ),
    # pure range join (no equi key): bucketization must turn the time-
    # range predicate into an EQUI-join on bucket with the exact |dt|
    # residual attached — never a nested-loop/cartesian evaluation of
    # the inequality; probe fan-out is the single Generate (explode to
    # 3 buckets). The join operator may be hash OR sort-merge (above
    # the broadcast threshold the planner legitimately picks
    # SortMergeJoin on bucket — still the bucketized equi shape); the
    # invariant is the bucket equi-keys + no nested loop.
    "j7_range_join_nearby": (
        ["Generate", r"HashJoin|SortMergeJoin",
         r"Left keys \[1\]: \[bucket#\d+L\]",
         r"Right keys \[1\]: \[bucket#\d+L\]"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    # split leakage: hash-only semi-joins (probe hashes / band buckets
    # vs the distinct train sets) + tiny per-split aggregates. The
    # corpus-reading normalize/tokenize passes run INSIDE the two eager
    # localCheckpoint pins (each exactly once), so the assembled plan
    # must scan the pinned index RDDs and contain NO tokenizer at all —
    # a regex reappearing here means the pin was lost and the branches
    # went back to re-scanning the corpus
    "sample_split_leakage": (
        ["LeftSemi", "HashAggregate", "ExistingRDD"],
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "regexp_extract_all", "Scan parquet"],
    ),
    # caption pairing: explode -> ONE doc_id exchange feeding both
    # frame-bounded windows (prev/next caption share the sort) ->
    # row-local nearest/tie arithmetic; no join, no global sort
    "mm_caption_pairs": (
        ["Generate", "Window", r"hashpartitioning\(doc_id"],
        ["Join", "rangepartitioning",
         r"(hashpartitioning\([\s\S]*){2,}"],
    ),
    # unicode normalization: pure map pass (translate/replace/regexp
    # fused into the scan-union); zero shuffle, zero join
    "tq_normalize_text": ([CODEGEN], ["Exchange", "Join"]),
    # token-budget selection: NO global sort — buckets above the
    # histogram-located threshold are plain filters; the only Sort/Window
    # runs over the single boundary (quality, md5-prefix) slice
    "sample_token_budget": (
        ["Window", "Union"],
        ["rangepartitioning", "SortMergeJoin"],
    ),
    # corpus overlap: per-side k-min sketch rows partial-agg map-side
    # (single-row frames broadcast-crossed); the only non-broadcast join
    # is the exact intersection equi-join on the distinct hash sets
    "snap_corpus_overlap": (
        ["HashAggregate", "BroadcastNestedLoopJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # overlapping chunking: row-local slices behind a Generate barrier +
    # one posexplode — zero shuffle, zero join, single tokenizer pass
    "sample_chunk_overlap": (
        ["Generate"],
        ["Exchange", "Join", r"(regexp_extract_all\(lower[\s\S]*){2,}"],
    ),
    # multi-probe LSH (kernel scorer): the probe fan-out lives in the
    # broadcast query-group map — the corpus crosses Arrow ONCE through
    # MapInPandas keyed by its single bucket, no join materializes
    # candidates at all, and ranking is a per-query window
    # (WindowGroupLimit). The Generate-explode + equi-join shape it
    # replaced is measured in BENCH/ann_ab*.json.
    "ann_lsh_multiprobe_topk": (
        ["MapInPandas", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "Join"],
    ),
    # per-language perplexity terciles: since the r3-advice cache-leak
    # fix the score frame is localCheckpoint-ed (nothing stays cached
    # after return), so the end plan is a pure map-side CASE over
    # LITERAL per-language cutoffs on the checkpointed (doc_id, lang,
    # mean_nll) frame — no window/join/shuffle over the corpus can
    # exist downstream of the histogram-derived cutoffs
    "lm_perplexity_buckets_by_lang": (
        ["Scan ExistingRDD", r"CASE WHEN .*head.*middle.*tail"],
        ["CartesianProduct", "Window", "Join", "Exchange"],
    ),
    # PMI: Zipf-bounded count tables, one-row totals broadcast (the BNLJ
    # cross is the intended one-row broadcast); top-k compiles to
    # TakeOrderedAndProject, never a global Sort
    "lm_pmi_collocations": (
        ["TakeOrderedAndProject", "HashAggregate"],
        ["CartesianProduct"],
    ),
    # salted skew join: the shuffle key must INCLUDE the salt (5 hot keys
    # become 5*k reducer keys) and the join is the deliberate SMJ the
    # pattern exists for — a broadcast here would make the demo vacuous
    "j_salted_skew_join": (
        [r"hashpartitioning\(event_type#\d+, salt#\d+", "SortMergeJoin"],
        ["BroadcastHashJoin"],
    ),
    # inverted index: one distinct + one groupBy(term) over (term, id)
    # pairs — no join, no window, and the text column never reaches an
    # exchange (only term + doc_id shuffle)
    "nlp_inverted_index": (
        ["HashAggregate"],
        ["Join", "Window", r"\(\d+\) Exchange\nInput[^\n]*text#\d+"],
    ),
    # stratified sample: the Window/WindowGroupLimit partition spec must
    # BE [lang] (bounded per-language state) and the exchange must key on
    # lang — never an unpartitioned global window
    "sample_stratified_exact": (
        [r"Window(GroupLimit)?[\s\S]{0,200}Arguments: \[lang#\d+\]",
         r"hashpartitioning\(lang#\d+"],
        ["Join"],
    ),
    # cohort retention: distinct user-week pairs first (two ints per
    # user-week cross the exchange), user-keyed join, no cross join
    "a14_cohort_retention": (
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # ordered funnel: ONE lazy plan — per-step count aggregates unioned
    # (no per-step collect, no LocalTableScan smuggling driver results)
    "a15_event_funnel": (
        ["Union", "HashAggregate"],
        ["LocalTableScan", "CartesianProduct"],
    ),
    # daily anomalies: the stats window runs over the calendar-dense
    # daily aggregate (post-HashAggregate), never the event rows; exact
    # integer window sums, no stddev aggregate in the plan
    "a16_daily_anomalies": (
        ["Window", "HashAggregate"],
        ["stddev", "CartesianProduct"],
    ),
    # conjunctive index search: one staged map pass (tokenizer appears
    # once, behind its Generate) + TakeOrderedAndProject; no shuffle/join
    "nlp_index_search": (
        ["Generate", "TakeOrderedAndProject"],
        ["Exchange hashpartitioning", "Join",
         r"(regexp_extract_all\(lower[\s\S]*){2,}"],
    ),
    # fused near-dup CC edge stream (the subplan embedding_dup_clusters
    # feeds into connected_components; the CC loop's eager checkpoints
    # hide it from the end plan): the star kernel groups on the SALTED
    # bucket key, and no distinct/agg over the (id_a, id_b) pair stream
    # exists anywhere — the quadratic pair set never leaves the kernel
    "neardup_fused_star_edges": (
        ["FlatMapGroupsInPandas",
         r"hashpartitioning\(label#\d+, band#\d+, bucket#\d+, salt#\d+"],
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         r"Keys \[\d+\]: \[id_a"],
    ),
}

# audited subplans that are not catalog entries: name -> (spark, sf_dir) -> df
def _fused_star_edges(spark, sf_dir):
    from docling_nlp_api_spark.operators.dedup import _near_dup_cc_edges

    return _near_dup_cc_edges(spark, sf_dir)


EXTRA_FRAMES = {
    "neardup_fused_star_edges": _fused_star_edges,
}


def plans_of(df) -> tuple[str, str]:
    fbuf, sbuf = io.StringIO(), io.StringIO()
    with redirect_stdout(fbuf):
        df.explain("formatted")
    with redirect_stdout(sbuf):
        df.explain()
    return fbuf.getvalue(), sbuf.getvalue()


def main() -> int:
    from docling_nlp_api_spark.catalog import QUERIES

    spark = get_spark(
        "plans",
        cores=8,
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    sections = []
    failures = []
    for name, (pos, neg) in AUDITS.items():
        build = EXTRA_FRAMES.get(name) or QUERIES[name]
        formatted, simple = plans_of(build(spark, SF_DIR))
        checks = []
        for pat in pos:
            if pat == CODEGEN:
                ok = re.search(r"\*\(\d", simple) is not None
                label = "has whole-stage codegen spans `*(n)`"
            else:
                ok = re.search(pat, formatted) is not None
                label = f"has `{pat}`"
            checks.append((label, ok))
            if not ok:
                failures.append((name, f"missing {pat}"))
        for pat in neg:
            ok = re.search(pat, formatted) is None
            checks.append((f"free of `{pat}`", ok))
            if not ok:
                failures.append((name, f"unexpected {pat}"))
        check_md = "\n".join(f"- {'PASS' if ok else 'FAIL'}: {label}" for label, ok in checks)
        head = "\n".join(formatted.splitlines()[:40])
        sections.append(f"## {name}\n\n{check_md}\n\n```\n{head}\n```\n")
    spark.stop()

    os.makedirs("BENCH", exist_ok=True)
    status = "ALL CHECKS PASS" if not failures else f"{len(failures)} FAILED: {failures}"
    with open("BENCH/plans.md", "w") as f:
        f.write(
            "# Physical-plan audit\n\n"
            "Generated by `python tools/dump_plans.py` at sf0.01 (AQE off for\n"
            "static-plan inspection). Each query's plan is checked for the\n"
            "properties the engine is designed around (pushdown, broadcast,\n"
            "top-k without global sort, shuffle-free extraction, codegen).\n"
            f"**{status}**\n\n" + "\n".join(sections)
        )
    print(status)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
