"""Corpus sampling / split / mixing plane — the ops a training-data
pipeline runs AFTER dedup and quality filtering to assemble the actual
training mix (driver brief: large-scale training-data pipeline ops).

Everything here is DETERMINISTIC hash bucketing, never rand(): at
10^12 docs a sample must be reproducible across reruns, stable under
re-partitioning, and joinable back to its source (the same doc always
lands in the same split). md5-derived buckets give all three and are
bit-identical in the DuckDB oracles; `rand(seed)` is neither
engine-portable nor row-stable under repartition.

Scale notes: every op is a narrow map pass (doc_id + a few int columns)
followed by at most one partial-agg — no shuffle of text, no window, no
driver-side sampling state. The mixing-rate table is a handful of rows,
inlined as literals (a broadcast join degenerates to a CASE)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SPLIT_SALT = "split:v1"     # versioned salt -> resampling = bump the salt
VAL_PCT = 5                 # val = 5% of the corpus
TEST_PCT = 5                # test = next 5%

# per-language mixing rates (a training-mix config: keep-fraction of each
# language's docs, in percent) — deliberately uneven to exercise the op
MIX_RATES_PCT = {"en": 100, "de": 60, "fr": 60, "es": 40, "zh": 25}
MIX_DEFAULT_PCT = 10        # languages outside the config keep 10%
MIX_SALT = "mix:v1"


def _bucket(salt: str, key: F.Column, mod: int = 100) -> F.Column:
    """Deterministic bucket in [0, mod): first 4 hex digits of
    md5(salt || key) mod `mod` — uniform enough for split/mix rates at any
    corpus size, identical arithmetic in DuckDB (conv/hex parity is the
    same trick the dedup plane pins)."""
    hx = F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 4)
    return (F.conv(hx, 16, 10).cast("long") % mod).alias("bucket")


def split_col(
    key: F.Column | None = None, val_pct: int = VAL_PCT, test_pct: int = TEST_PCT
) -> F.Column:
    """THE split-assignment rule as a reusable expression (pure doc_id
    arithmetic — any frame carrying doc_id can recompute its split
    without a join). Shared by with_split and split_leakage so the two
    can never drift."""
    b = _bucket(SPLIT_SALT, F.col("doc_id") if key is None else key)
    return (
        F.when(b < val_pct, "val")
        .when(b < val_pct + test_pct, "test")
        .otherwise("train")
    )


def with_split(docs: DataFrame, val_pct: int = VAL_PCT, test_pct: int = TEST_PCT) -> DataFrame:
    """Assign every doc a stable train/val/test split: bucket < val_pct
    -> val, next test_pct -> test, rest train. Adding corpus later never
    moves an existing doc between splits (the bucket depends only on
    doc_id + salt)."""
    return docs.withColumn("split", split_col(val_pct=val_pct, test_pct=test_pct))


def split_summary(docs: DataFrame) -> DataFrame:
    """Split sizes + word mass per split (the sanity table every
    training run prints). One narrow agg; text never shuffles — the
    word count is computed in the map stage."""
    words = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
    return (
        with_split(docs)
        .select("split", words.alias("w"))
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("w").alias("n_words"))
    )


def _mix_keep_pred() -> F.Column:
    """THE mixing contract: keep a doc iff its md5 mix bucket < its
    language's configured rate. Shared by mixed_corpus (the filter) and
    mix_summary (the report) so the two can never drift."""
    b = _bucket(MIX_SALT, F.col("doc_id"))
    rate = F.lit(MIX_DEFAULT_PCT)
    for lang, pct in sorted(MIX_RATES_PCT.items()):
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return b < rate


def mixed_corpus(docs: DataFrame) -> DataFrame:
    """Language-stratified downsampling: one deterministic filter pass
    over the shared keep predicate."""
    return docs.filter(_mix_keep_pred())


def mix_summary(docs: DataFrame) -> DataFrame:
    """Per-language kept/total counts + realized keep rate after
    mixed_corpus — the mixing report. Computed in ONE pass over the
    corpus (conditional agg on the keep predicate), not a self-join of
    kept against total."""
    kept = _mix_keep_pred().cast("long")
    return (
        docs.select("lang", kept.alias("kept"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.round(F.sum("kept") / F.count("*"), 4).alias("keep_rate"),
        )
    )


def temperature_weights(docs: DataFrame) -> DataFrame:
    """Multilingual temperature-sampling weights (XLM-R / mT5 recipe,
    public): upweight low-resource languages by sampling language l with
    probability proportional to p_l^alpha instead of its corpus share
    p_l. alpha is pinned to 0.5 so the exponent is sqrt() — IEEE-754
    sqrt is CORRECTLY ROUNDED (unlike pow), which makes the weights
    bit-identical in the DuckDB oracle with no epsilon contract.

    Emits per language: doc count, corpus share p, and the normalized
    temperature weight w = sqrt(n_l) / sum_l sqrt(n_l)  (equal to
    p^0.5 / sum p^0.5 — the 1/sqrt(N) factors cancel).

    Scale: one narrow groupBy(lang) — language cardinality is O(100) —
    then a broadcast of the one-row total; the corpus text never leaves
    the scan projection."""
    per_lang = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = per_lang.agg(
        F.sum("n_docs").alias("total"),
        F.sum(F.sqrt("n_docs")).alias("qsum"),
    )
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.round(F.col("n_docs") / F.col("total"), 6).alias("p_share"),
        F.round(F.sqrt("n_docs") / F.col("qsum"), 6).alias("temp_weight"),
    )


TRIM_LO_PCT = 5             # drop docs below the 5th length percentile
TRIM_HI_PCT = 95            # ... and above the 95th
TEMP_SALT = "temp:v1"       # temperature-resample bucket salt
PACK_SALT = "pack:v1"       # sequence-packing shard salt
PACK_MAX_TOKENS = 512       # training sequence length
PACK_SHARDS = 8             # packing shards (per-shard streams at scale)


def length_percentile_trim(
    docs: DataFrame, lo_pct: int = TRIM_LO_PCT, hi_pct: int = TRIM_HI_PCT
) -> DataFrame:
    """EXACT length-percentile trimming (the Gopher/C4 'drop the freak
    tails' filter): keep a doc iff its length's percentile interval
    overlaps (lo_pct, hi_pct) — i.e. cum_incl*100 > N*lo AND
    cum_excl*100 < N*hi, all-integer arithmetic so both engines agree
    bit-for-bit (no approx_percentile epsilon contract needed).

    Scale shape: the quantile cutoffs come from a HISTOGRAM of the
    integer length column — groupBy(n_chars) output is bounded by the
    number of distinct lengths (~max doc length, independent of corpus
    size), so the unpartitioned cumsum window runs over thousands of
    rows, not the corpus. The kept-length set broadcasts back as a
    semi-join probe; the corpus itself is one filter pass with no
    shuffle and no global sort. This replaces the classic anti-pattern
    (percent_rank over a corpus-wide ORDER BY length)."""
    hist = docs.groupBy("n_chars").agg(F.count("*").alias("c"))
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("n_chars", "c", F.sum("c").over(w).alias("cum_incl"))
    tot = hist.agg(F.sum("c").alias("n"))
    keep = (
        cum.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("cum_incl") * 100 > F.col("n") * lo_pct)
            & ((F.col("cum_incl") - F.col("c")) * 100 < F.col("n") * hi_pct)
        )
        .select("n_chars")
    )
    return docs.join(F.broadcast(keep), "n_chars", "semi").select("doc_id", "n_chars")


def temperature_resample(docs: DataFrame) -> DataFrame:
    """Materialize the alpha=0.5 temperature mix that temperature_weights
    only reports: downsample each language to keep-rate sqrt(n_min/n_l)
    (the downsample-only normalization — the smallest language keeps
    everything, others shrink toward it, realizing p^0.5 proportions
    without upsampling/duplication). The rate is quantized to basis
    points via floor(10000*sqrt(n_min/n_l)) — division, sqrt, and the
    *10000 are all IEEE correctly-rounded, floor is exact, so keep_bps
    is bit-identical in the DuckDB oracle — and docs are kept by the
    deterministic md5 bucket mod 10000 (same machinery as with_split).

    Emits the per-language resample report: totals, kept counts, the
    target keep_bps, and the realized rate.

    Scale: pass 1 is a narrow groupBy(lang) count; the O(langs) rate
    table broadcasts back onto a second narrow pass (doc_id + lang
    only) with a conditional agg — text never leaves the scan."""
    per_lang = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    nmin = per_lang.agg(F.min("n_l").alias("n_min"))
    rates = per_lang.crossJoin(F.broadcast(nmin)).select(
        "lang",
        F.floor(F.lit(10000) * F.sqrt(F.col("n_min") / F.col("n_l"))).alias("keep_bps"),
    )
    b = _bucket(TEMP_SALT, F.col("doc_id"), mod=10000)
    kept = (b < F.col("keep_bps")).cast("long")
    return (
        docs.select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(kept).alias("n_kept"),
            F.min("keep_bps").alias("keep_bps"),
            F.round(F.sum(kept) / F.count("*"), 4).alias("realized_rate"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    max_tokens: int = PACK_MAX_TOKENS,
    n_shards: int = PACK_SHARDS,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: docs are concatenated
    in a deterministic order and cut into fixed max_tokens training
    sequences; each doc is assigned the sequence where it STARTS plus
    its token offset inside it (docs may straddle a boundary — that is
    the concat-and-chunk contract).

    A single global concatenation order would need a corpus-wide sort,
    so the corpus is first split into md5 shards (the standard
    pack-within-shards deployment: each shard is an independent training
    stream, embarrassingly parallel, and adding shards scales the width).
    Within a shard the running token offset is a cumsum window ordered
    by doc_id — per-shard state, bounded by corpus/n_shards, no global
    order anywhere. All arithmetic (cumsum, DIV, %) is integer-exact
    cross-engine.

    extra_keys: additional packing-stream keys AHEAD of the md5 shard —
    e.g. ("split",) so train/val/test pack into disjoint sequence
    streams and no training sequence ever straddles a split boundary
    (jobs/pack_job.py). Default () is the oracle-pinned single-corpus
    form (sample_pack_sequences) — same plan, bit for bit."""
    ntok = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
    shard = _bucket(PACK_SALT, F.col("doc_id"), mod=n_shards)
    keys = list(extra_keys)
    base = docs.select(
        "doc_id", *keys, shard.alias("shard"), ntok.cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy(*keys, "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_off")
    return base.select("doc_id", *keys, "shard", "n_tokens", start).select(
        "doc_id",
        *keys,
        "shard",
        "n_tokens",
        "start_off",
        F.expr(f"start_off DIV {max_tokens}").alias("seq_idx"),
        (F.col("start_off") % max_tokens).alias("seq_off"),
    )


def materialize_sequences(
    docs: DataFrame,
    max_tokens: int = PACK_MAX_TOKENS,
    n_shards: int = PACK_SHARDS,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """The CONTENT half of sequence packing: where pack_sequences emits
    each doc's placement, this emits the packed sequences themselves —
    (shard, seq_idx, tokens, doc_starts) with every sequence exactly
    max_tokens long except each stream's tail. The step a trainer
    actually consumes: doc_starts lists the in-sequence offsets where a
    NEW document begins, ascending — the carry-over fragment of a doc
    straddling in is not a start (its start lies in an earlier
    sequence); a doc beginning exactly on the boundary appears at
    offset 0. Exactly the positions an attention mask or EOD insertion
    needs, emitted here because they are irrecoverable from the token
    stream alone.

    Same deterministic layout as pack_sequences (identical md5 shard,
    identical cumsum-by-doc_id offsets — the two operators tile the same
    token axis). Each doc then cuts its OWN token array into per-sequence
    fragments row-locally (a doc touches ceil(n/max_tokens)+1 sequences
    at most: explode(sequence(first_seq, last_seq)) + slice — no
    corpus-wide state), and one groupBy (shard, seq_idx) exchange
    reassembles fragments in start_off order. That exchange necessarily
    carries the corpus text ONCE — sequences are made of it — keyed by
    the uniform md5 shard, so it balances at any corpus size; everything
    else is map-side. Zero-token docs occupy no tokens and emit no
    fragment (their placement still exists in pack_sequences).

    extra_keys: as in pack_sequences — e.g. ("split",) for split-isolated
    streams in jobs/pack_job.py."""
    keys = list(extra_keys)
    toks = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
    shard = _bucket(PACK_SALT, F.col("doc_id"), mod=n_shards)
    base = docs.select(
        "doc_id", *keys, shard.alias("shard"), toks.alias("toks")
    ).withColumn("n_tokens", F.size("toks").cast("long"))
    w = (
        Window.partitionBy(*keys, "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    placed = base.withColumn(
        "start_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    frags = placed.select(
        *keys,
        "shard",
        "start_off",
        F.explode(
            F.sequence(
                F.expr(f"start_off DIV {max_tokens}"),
                F.expr(f"(start_off + n_tokens - 1) DIV {max_tokens}"),
            )
        ).alias("seq_idx"),
        "toks",
        "n_tokens",
    ).select(
        *keys,
        "shard",
        "seq_idx",
        "start_off",
        F.expr(
            f"slice(toks, CAST(greatest(seq_idx * {max_tokens}, start_off)"
            f" - start_off + 1 AS INT),"
            f" CAST(least((seq_idx + 1) * {max_tokens}, start_off + n_tokens)"
            f" - greatest(seq_idx * {max_tokens}, start_off) AS INT))"
        ).alias("frag"),
    )
    return (
        frags.groupBy(*keys, "shard", "seq_idx")
        .agg(
            F.expr("array_sort(collect_list(struct(start_off, frag)))").alias("fs")
        )
        .select(
            *keys,
            "shard",
            "seq_idx",
            F.expr("flatten(transform(fs, x -> x.frag))").alias("tokens"),
            F.expr(
                f"transform(filter(fs, x -> x.start_off >= seq_idx * {max_tokens}),"
                f" x -> x.start_off - seq_idx * {max_tokens})"
            ).alias("doc_starts"),
        )
    )


def dataset_card(docs: DataFrame) -> DataFrame:
    """The dataset-card rollup every corpus release publishes: doc and
    char mass per (lang x source) cell PLUS both marginals and the grand
    total, in ONE pass via CUBE grouping sets (Catalyst expands the sets
    map-side with partial aggs — one scan, one narrow exchange of
    O(cells) rows, vs the naive 4-scan union). grouping() flags
    disambiguate a real NULL cell from a rollup row, mirrored by
    DuckDB's GROUPING() in the oracle."""
    return docs.cube("lang", "source").agg(
        F.grouping("lang").cast("int").alias("g_lang"),
        F.grouping("source").cast("int").alias("g_source"),
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("chars_total"),
        F.round(F.avg("n_chars"), 4).alias("mean_chars"),
    )


# Fixed-point contract for cross-engine float MEANS (round-5 hardening,
# the PageRank/HLL pattern from graph.py:80 / sketches.py:85): a float mean
# AVG(double) is not summation-order-free, so a doc whose mean sits within
# ~1 ulp of a 4th-decimal boundary can round differently depending on
# partial-aggregation order — the exact flake the round-4 driver caught on
# sample_dsir_weights. Every per-item log score is therefore quantized to
# micro-unit BIGINT (CAST(ROUND(x * 1e6) AS BIGINT), identical in both
# engines: Spark's BigDecimal HALF_UP and DuckDB's std::round agree at
# scale 0 because x.5 integer boundaries are exactly representable
# doubles), SUMmed as integers (associative, order-free), and divided +
# rounded once at the end. The quantization shifts each mean by < 1e-6 —
# invisible at the round-4 contract — and makes the hash invariant under
# any shuffle-partition / input-split configuration.
FXP = 1_000_000


def fxp_q(col):
    """Quantize a double column to micro-unit BIGINT — the order-free
    summation contract; SQL mirror: CAST(ROUND(x * 1000000) AS BIGINT)."""
    return F.round(col * FXP).cast("long")


def fxp_mean(qcol: str, ndigits: int = 4):
    """Order-free mean of a micro-unit column: integer SUM, one double
    division, final round. SQL mirror:
    ROUND(CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1000000.0), ndigits)."""
    return F.round(F.sum(qcol) / (F.count(F.lit(1)) * F.lit(float(FXP))), ndigits)


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Unigram-LM quality score: mean -ln p(token) per doc under the
    corpus's OWN unigram distribution (the classic cheap LM filter — docs
    of rare/garbage tokens score high, fluent text low).

    Two aggregations and one equi-join on the token string:
      1. corpus pass: (word, count) + total token mass — vocabulary-sized
         output (Zipf: ~sqrt of corpus mass), NOT corpus-sized;
      2. per-doc token stream joins the frequency table (at 100 TB the
         vocab table is a few GB: either a shuffle-join on word — both
         sides narrow — or a broadcast once it is pruned to the top-k
         vocab that covers 99.9% of mass);
      3. per-doc partial agg of -ln(cnt/total).
    No OOV handling needed: the vocabulary is built from the same corpus.
    ln parity: both engines bind IEEE double ln; the per-token NLL (a
    pure function of the word's corpus count) quantizes to micro-unit
    BIGINT so the per-doc mean is an order-free integer sum — see the
    FXP contract above."""
    toks = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z0-9]+"), 0)).alias("word"),
    )
    freqs = toks.groupBy("word").agg(F.count("*").alias("cnt"))
    total = freqs.agg(F.sum("cnt").alias("total"))
    scored = (
        toks.join(freqs, "word")
        .crossJoin(F.broadcast(total))
        .select("doc_id", fxp_q(-F.log(F.col("cnt") / F.col("total"))).alias("nll_q"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            fxp_mean("nll_q").alias("mean_nll"),
        )
    )


def bpe_pair_stats(docs: DataFrame, top_n: int = 20) -> DataFrame:
    """Tokenizer-training primitive: ONE BPE merge step over the corpus —
    the frequency of every adjacent symbol pair (here: character bigrams
    inside words, the first-iteration state), weighted by word frequency.
    The top row is the pair BPE would merge next; at scale each training
    iteration re-runs this with the merged vocab substituted in.

    Scale shape (the standard map-reduce BPE design, e.g. SentencePiece's
    distributed mode): pair counting runs over the DISTINCT-word
    frequency table, never the raw token stream — Zipf makes |vocab|
    ~sqrt(corpus mass), so the explode-pairs stage is vocabulary-sized.
    Two narrow shuffles (word rollup, pair rollup; both partial-agg
    map-side) and a TakeOrderedAndProject top-k — no global sort.

    Emits (pair, n_words = distinct words containing it, pair_count =
    occurrence count weighted by word frequency), count-desc, pair-asc
    tiebreak for cross-engine determinism. Repeats inside one word
    ("aaa" -> "aa" twice) count per occurrence, as BPE requires."""
    from ..spec import TOKEN_RE

    words = (
        docs.select(F.explode(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    # the <2-char guard matters: Spark's sequence(1, 0) is DESCENDING
    # ([1, 0]) and would fabricate self-pairs for 1-char words if the
    # tokenizer is ever relaxed below TOKEN_RE's 3-letter minimum
    pairs = words.select(
        "w",
        "wc",
        F.explode(
            F.expr(
                "CASE WHEN length(w) >= 2 THEN sequence(1, length(w) - 1) "
                "ELSE CAST(array() AS array<int>) END"
            )
        ).alias("i"),
    ).select("w", "wc", F.expr("substr(w, i, 2)").alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(
            F.count_distinct("w").alias("n_words"),
            F.sum("wc").alias("pair_count"),
        )
        .orderBy(F.desc("pair_count"), "pair")
        .limit(top_n)
    )


def importance_weights(docs: DataFrame, target_lang: str = "en") -> DataFrame:
    """Data Selection with Importance Resampling (DSIR; Xie et al. 2023,
    public): score every doc by the mean per-token log-ratio
    ln(p_target(w) / p_raw(w)) between add-1-smoothed unigram models of
    a TARGET domain (here: lang = target_lang) and the raw corpus. High
    scores mark raw-corpus docs that look like the target — the
    selection signal DSIR resamples by; [[sample_temperature_resample]]
    provides the materialization step.

    Scale shape (same contract as unigram_logprob): both unigram models
    are vocabulary-sized rollups (Zipf ~sqrt corpus mass); the joint
    weight table — one log-ratio per word — broadcasts back to the
    token stream, and the per-doc mean partial-aggregates map-side.
    Smoothing uses the raw-corpus vocabulary V for both models (the
    target is a subset, so V covers it); every quantity is an exact
    integer until the per-word division + ln, which quantizes ONCE PER
    WORD (in the broadcast weight table, before the token-stream join)
    to micro-unit BIGINT so the per-doc mean is an order-free integer
    sum — the FXP contract; this was the round-4 driver's one red row
    (hash flake under a different partial-agg order) before hardening."""
    toks = docs.select(
        "doc_id",
        (F.col("lang") == target_lang).cast("int").alias("in_target"),
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z0-9]+"), 0)).alias("word"),
    )
    counts = toks.groupBy("word").agg(
        F.count("*").alias("cc"),
        F.sum("in_target").alias("ct"),
    )
    totals = counts.agg(
        F.sum("cc").alias("tc"),
        F.sum("ct").alias("tt"),
        F.count("*").alias("v"),
    )
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "word",
        fxp_q(
            F.log(
                ((F.col("ct") + 1) * (F.col("tc") + F.col("v")))
                / ((F.col("cc") + 1) * (F.col("tt") + F.col("v")))
            )
        ).alias("lr_q"),
    )
    return (
        toks.join(F.broadcast(weights), "word")
        .groupBy("doc_id", "in_target")
        .agg(
            F.count("*").alias("n_tokens"),
            fxp_mean("lr_q").alias("mean_log_ratio"),
        )
        .select("doc_id", "in_target", F.col("n_tokens").cast("long").alias("n_tokens"),
                "mean_log_ratio")
    )


def _adjacent_bigrams(docs: DataFrame) -> DataFrame:
    """Row-local adjacent-bigram stream (doc_id, prev, w): ONE tokenizer
    pass staged behind an inline-struct Generate barrier, then the pair
    transform and a single explode — shared by bigram_logprob and
    pmi_collocations so the LM and association paths can never drift."""
    toks = F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z0-9]+"), 0)
    base = docs.select("doc_id", F.inline(F.array(F.struct(toks.alias("toks")))))
    return base.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN "
                "transform(sequence(1, size(toks) - 1), "
                "          i -> struct(toks[i-1] AS prev, toks[i] AS w)) "
                "ELSE CAST(array() AS array<struct<prev:string,w:string>>) END"
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.prev").alias("prev"), F.col("bg.w").alias("w"))


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Bigram-LM quality scoring — the n-gram step past unigram_logprob
    toward CCNet's KenLM filter: per-doc mean -ln p(w_i | w_{i-1}) under
    an add-1 model, p(w|prev) = (c2(prev,w)+1) / (c1(prev)+V) with
    c1(prev) = sum_w c2(prev,w) (context occurrences) and V = corpus
    distinct-word count. Higher mean NLL = text the corpus-level model
    finds surprising (noise, mojibake, wrong-language).

    Scale shape: bigrams are built ROW-LOCALLY behind a Generate barrier
    (one tokenizer pass, struct-pair transform) before the explode; the
    bigram count table is Zipf-bounded but larger than the vocab, so the
    probe is an equi-join on (prev, w) — both sides narrow — rather than
    a forced broadcast; AQE picks broadcast when it fits (it does at
    sandbox scale). c1 and V are vocabulary-sized and always broadcast.
    Per-doc mean partial-aggregates map-side over micro-unit BIGINT NLLs
    (the FXP contract — order-free, so the perplexity-tercile cutoffs
    derived from mean_nll are partition-invariant too); round-4 final."""
    toks = F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z0-9]+"), 0)
    big = _adjacent_bigrams(docs)
    c2 = big.groupBy("prev", "w").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    v = (
        docs.select(F.explode(toks).alias("word"))
        .agg(F.count_distinct("word").alias("v"))
    )
    scored = (
        big.join(c2, ["prev", "w"])
        .join(F.broadcast(c1), "prev")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            fxp_q(F.log((F.col("c1") + F.col("v")) / (F.col("c2") + 1))).alias("nll_q"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        fxp_mean("nll_q").alias("mean_nll"),
    )


def _bpe_loop(docs: DataFrame, n_merges: int):
    """Shared BPE training loop: returns (merge list, final word->symbols
    frame, localCheckpoint-ed so callers are free of cache lifetimes).
    See bpe_learn for the algorithm/scale notes."""
    from ..spec import TOKEN_RE

    words = (
        docs.select(F.explode(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    cur = words.select(
        "w", "wc", F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))").alias("syms")
    ).persist()
    merges: list[tuple[int, str, str, int]] = []
    try:
        for rnd in range(1, n_merges + 1):
            pairs = cur.select(
                "wc",
                F.explode(
                    F.expr(
                        "CASE WHEN size(syms) >= 2 THEN "
                        "transform(sequence(1, size(syms) - 1), "
                        "          i -> struct(syms[i-1] AS a, syms[i] AS b)) "
                        "ELSE CAST(array() AS array<struct<a:string,b:string>>) END"
                    )
                ).alias("p"),
            )
            best = (
                pairs.groupBy("p.a", "p.b")
                .agg(F.sum("wc").alias("cnt"))
                .orderBy(F.desc("cnt"), "a", "b")
                .limit(1)
                .collect()
            )
            if not best:
                break
            a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
            merges.append((rnd, a, b, cnt))
            la, lb, lm = F.lit(a), F.lit(b), F.lit(a + b)
            nxt = cur.select(
                "w",
                "wc",
                F.aggregate(
                    "syms",
                    F.expr("CAST(array() AS array<string>)"),
                    lambda acc, s: F.when(
                        (F.size(acc) > 0)
                        & (F.element_at(acc, -1) == la)
                        & (s == lb),
                        F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lm)),
                    ).otherwise(F.concat(acc, F.array(s))),
                ).alias("syms"),
            ).persist()
            nxt.count()  # materialize before dropping the parent cache
            cur.unpersist()
            cur = nxt
        final = cur.localCheckpoint()
    finally:
        cur.unpersist()
    return merges, final


def bpe_learn(docs: DataFrame, n_merges: int = 5) -> DataFrame:
    """Full BPE vocabulary LEARNING — n_merges greedy iterations of the
    merge step bpe_pair_stats counts once. Classic driver-loop iterative
    algorithm on tiny state (the Lloyd's-k-means pattern of
    similarity.py): the distributed side only ever touches the
    DISTINCT-word symbol table (vocabulary-sized, persisted between
    rounds); each round one (pair, count) row reaches the driver and
    returns as three literals in a row-local fold.

    Merge semantics match standard BPE training: greedy left-to-right
    non-overlapping replacement ("aaaa" under merge (a,a) -> [aa, aa]),
    ties broken (count desc, a asc, b asc). Emits the learned merge
    table (rank, a, b, pair_count) — rows-only by design (iterative,
    not SQL-expressible; pinned by the property test against a Python
    reference in test_bpe_learn_property.py)."""
    merges, _ = _bpe_loop(docs, n_merges)
    return docs.sparkSession.createDataFrame(
        merges or [], "rank int, a string, b string, pair_count long"
    )


def bpe_token_counts(docs: DataFrame, n_merges: int = 5) -> DataFrame:
    """BPE APPLY — the second half of tokenizer training: encode the
    corpus under the learned merges. The at-scale design tokenizes the
    VOCABULARY, not the corpus: the training loop's final word->symbols
    frame (vocabulary-sized) already IS the encoder table, so encoding
    reduces to a broadcast join of the corpus word stream against
    (word, n_subword_tokens) and a per-doc rollup — the corpus text is
    never re-folded. Emits per doc: n_words, n_bpe_tokens, and the mean
    subword fan-out round(n_bpe_tokens / n_words, 4) (compression the
    learned vocab achieves; 1.0 = every word became one token).

    Rows-only by design (iterative upstream); pinned against a Python
    learn+apply mirror in test_bpe_learn_property.py."""
    from ..spec import TOKEN_RE

    _, final = _bpe_loop(docs, n_merges)
    mapping = final.select("w", F.size("syms").alias("n_sub"))
    stream = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)).alias("w"),
    )
    return (
        stream.join(F.broadcast(mapping), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sub").alias("n_bpe_tokens"),
            F.round(F.sum("n_sub") / F.count("*"), 4).alias("tokens_per_word"),
        )
    )


TRIGRAM_ALPHA = 0.4      # stupid-backoff discount (Brants et al. 2007)
TRIGRAM_TRAIN_MOD = 2    # train split: doc_id % mod == 0; score the rest


def trigram_backoff_logprob(docs: DataFrame, alpha: float = TRIGRAM_ALPHA) -> DataFrame:
    """Held-out trigram LM scoring with stupid backoff (Brants et al.
    2007 — the web-scale LM that drops normalization for countability):
    count tables come from the doc_id%2==0 split, the OTHER split is
    scored, so unseen n-grams actually occur and every backoff tier
    exercises (a self-corpus trigram model never backs off).

        S(w3|w1 w2) = c3/c2(w1 w2)                 if the trigram was seen
                    = alpha * c2(w2 w3)/c1(w2)     elif the bigram was seen
                    = alpha^2 * (c1(w3)+1)/(N+V)   else (add-1 unigram floor)

    Per eval doc: mean -ln S over its trigrams — micro-unit BIGINT
    quantized per trigram (the FXP order-free contract), round-4 final —
    the CCNet-style perplexity gate one tier past bigram_logprob.

    Scale shape: the three count tables are n-gram-Zipf-bounded (real
    deployments prune singletons, shrinking c3 by ~half; the plan is
    unchanged) and join the eval trigram stream as equi-joins — AQE
    broadcasts whatever fits, and every join key is already corpus-
    partitioned narrow strings. The token arrays Generate row-locally
    (the shingle_hashes_flat pattern); nothing corpus-sized shuffles
    except the eval trigram stream itself, once per count-table probe."""
    from ..spec import TOKEN_RE  # noqa: F401  (tokenizer parity note: LM plane uses [a-z0-9]+)

    toks = F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z0-9]+"), 0)
    base = docs.select("doc_id", toks.alias("toks"))
    train = base.filter(F.col("doc_id") % TRIGRAM_TRAIN_MOD == 0)
    evald = base.filter(F.col("doc_id") % TRIGRAM_TRAIN_MOD != 0)

    def ngrams(df: DataFrame, n: int, names: list[str]) -> DataFrame:
        idx = F.explode(
            F.expr(
                f"CASE WHEN size(toks) >= {n} THEN sequence(0, size(toks) - {n}) "
                "ELSE CAST(array() AS array<int>) END"
            )
        ).alias("i")
        flat = df.select("doc_id", "toks", idx)
        return flat.select(
            "doc_id", *[F.expr(f"toks[i+{j}]").alias(names[j]) for j in range(n)]
        )

    c3 = ngrams(train, 3, ["w1", "w2", "w3"]).groupBy("w1", "w2", "w3").agg(
        F.count("*").alias("c3")
    )
    c2 = ngrams(train, 2, ["a", "b"]).groupBy("a", "b").agg(F.count("*").alias("c2"))
    c1 = ngrams(train, 1, ["w"]).groupBy("w").agg(F.count("*").alias("c1"))
    nv = c1.agg(F.sum("c1").cast("double").alias("n"), F.count("*").alias("v"))

    ev = ngrams(evald, 3, ["w1", "w2", "w3"])
    joined = (
        ev.join(c3, ["w1", "w2", "w3"], "left")
        .join(
            c2.select(F.col("a").alias("w1"), F.col("b").alias("w2"), F.col("c2").alias("ctx")),
            ["w1", "w2"],
            "left",
        )
        .join(
            c2.select(F.col("a").alias("w2"), F.col("b").alias("w3"), F.col("c2").alias("bo")),
            ["w2", "w3"],
            "left",
        )
        .join(c1.select(F.col("w").alias("w2"), F.col("c1").alias("d2")), ["w2"], "left")
        .join(c1.select(F.col("w").alias("w3"), F.col("c1").alias("u3")), ["w3"], "left")
        .crossJoin(F.broadcast(nv))
    )
    s = (
        F.when(F.col("c3").isNotNull(), F.col("c3") / F.col("ctx"))
        .when(F.col("bo").isNotNull(), F.lit(alpha) * F.col("bo") / F.col("d2"))
        .otherwise(
            F.lit(alpha * alpha) * (F.coalesce(F.col("u3"), F.lit(0)) + 1) / (F.col("n") + F.col("v"))
        )
    )
    return (
        joined.select("doc_id", fxp_q(-F.log(s)).alias("nll_q"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_trigrams"), fxp_mean("nll_q").alias("mean_nll"))
    )


BUCKET_STEP = 64          # length-bucket granularity (tokens)
BUCKET_CAP = 512          # docs above this truncate to the cap bucket


def length_buckets(docs: DataFrame, step: int = BUCKET_STEP, cap: int = BUCKET_CAP) -> DataFrame:
    """Length-bucketed batching stats — the padding-waste audit an
    inference/training batcher runs before choosing bucket boundaries
    (pad-to-bucket beats pad-to-max; this op quantifies by how much).
    Docs are assigned the smallest step-multiple bucket >= their token
    count (capped: longer docs truncate to the cap bucket); per bucket:
    doc count, real token mass, padded slot mass, and the padding-waste
    fraction. One codegen map pass + one tiny-key partial agg.

    Cross-engine contract: pure integer arithmetic until the final
    round(waste, 4); token counts use the whitespace tokenizer shared
    with token_count_bpe."""
    n = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
    bucket = F.least(
        F.ceil(F.greatest(n, F.lit(1)) / F.lit(step)).cast("long") * step, F.lit(cap)
    )
    eff = F.least(n.cast("long"), F.lit(cap))  # tokens that actually occupy slots
    b = docs.select(bucket.alias("bucket"), eff.alias("eff"))
    agged = b.groupBy("bucket").agg(
        F.count("*").alias("n_docs"), F.sum("eff").alias("token_mass")
    )
    padded = (F.col("n_docs") * F.col("bucket")).alias("padded_mass")
    return agged.select(
        "bucket",
        "n_docs",
        "token_mass",
        padded,
        F.round(1.0 - F.col("token_mass") / (F.col("n_docs") * F.col("bucket")), 4).alias(
            "waste_frac"
        ),
    )


# Driver-side guard for the histogram collects below: the round-4 score
# quantization bounds distinct values by score-range × 1e4 (≈1e5 at any
# corpus size), but if a future score column stops being quantized the
# collect would silently scale with the corpus. Cap it hard: limit(N+1)
# never ships more than N+1 rows to the driver, and overflowing the cap
# raises instead of OOMing.
HIST_MAX_ROWS = 1_000_000


def _collect_hist(hist_df: DataFrame, what: str) -> list:
    rows = hist_df.limit(HIST_MAX_ROWS + 1).collect()
    if len(rows) > HIST_MAX_ROWS:
        raise RuntimeError(
            f"{what}: score histogram exceeded {HIST_MAX_ROWS:,} distinct rows — "
            "quantize the score more coarsely (round-4 contract) before collecting"
        )
    return rows


def _tercile_cuts(hist: list[tuple[float, int]]) -> tuple[float, float] | None:
    """THE tercile-cutoff contract, shared by both perplexity bucketers
    (and mirrored twice in SQL): c_k = smallest score whose cumulative
    count >= ceil(k*n/3), integer arithmetic. None for an empty
    histogram. `hist` must be pre-sorted by score."""
    n = sum(c for _, c in hist)
    if n == 0:
        return None
    t1, t2 = (n + 2) // 3, (2 * n + 2) // 3
    c1 = c2 = None
    cum = 0
    for v, c in hist:
        cum += c
        if c1 is None and cum >= t1:
            c1 = v
        if c2 is None and cum >= t2:
            c2 = v
    return c1, c2


def perplexity_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, public):
    split the corpus into head / middle / tail terciles by LM score
    (bigram_logprob mean NLL standing in for KenLM — same shape, oracle-
    exact), lowest-NLL third = head. Downstream mixing samples buckets at
    different rates (head-heavy for quality, tail kept for diversity).

    Scale shape: NO global sort/ntile window — the tercile cutoffs are
    derived from the histogram of ROUND-4 scores, whose distinct-value
    count is bounded by the score range × 1e4 (≈1e5 rows) INDEPENDENT of
    corpus size, so the collect is metadata-scale (the CCNet
    compute-cutoffs-from-sample pattern made exact). Bucket assignment is
    then a map-side comparison against two literal cutoffs. Ties share a
    bucket by value (no doc_id tiebreak), which keeps the rule
    deterministic and engine-order-free; tercile sizes are therefore
    exact only up to tie mass. Docs with <2 tokens have no score and are
    excluded (mirrors the SQL side).

    Cross-engine contract: cutoff c_k = smallest score with cumulative
    count >= ceil(k*n/3), computed on integer arithmetic both sides."""
    # persist: the scoring pipeline (tokenize -> bigram explode -> two
    # aggs -> three joins) feeds BOTH the histogram collect and the
    # returned frame; without the pin it runs twice. After the collect
    # the pin is swapped for an eager localCheckpoint + unpersist (the
    # connected_components pattern) so the returned frame holds no cache
    # blocks past this call (round-3 advice: cached-partition leak).
    pinned = bigram_logprob(docs).select("doc_id", "mean_nll").persist()
    hist = sorted(
        (r.mean_nll, r.cnt)
        for r in _collect_hist(
            pinned.groupBy("mean_nll").agg(F.count("*").alias("cnt")),
            "perplexity_buckets",
        )
    )
    scores = pinned.localCheckpoint(eager=True)
    pinned.unpersist()
    cuts = _tercile_cuts(hist)
    if cuts is None:
        return scores.select("doc_id", "mean_nll", F.lit("head").alias("bucket"))
    c1, c2 = cuts
    bucket = (
        F.when(F.col("mean_nll") <= c1, "head")
        .when(F.col("mean_nll") <= c2, "middle")
        .otherwise("tail")
    )
    return scores.select("doc_id", "mean_nll", bucket.alias("bucket"))


CHUNK_SIZE = 32    # tokens per chunk (fixture-scale; production ~512-8192)
CHUNK_STRIDE = 24  # chunk start spacing -> 8-token overlap


def chunk_overlap(
    docs: DataFrame, size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Sliding-window token chunking with overlap — the context-window
    prep step (RAG indexing / long-doc training samples): chunk i covers
    tokens [i*stride, i*stride + size), so consecutive chunks share
    size - stride tokens; the last chunk starts at the final stride
    boundary that still has any token (short docs emit one short chunk,
    empty docs none). Complements pack_sequences (which concatenates
    docs) by splitting them.

    Emits (doc_id, chunk_idx, n_tokens, chunk_hash): the md5 stands in
    for the chunk text through the comparator; a materializing variant
    selects the text column instead, same plan.

    Scale shape: chunk index and slices are computed ROW-LOCALLY behind
    an inline-struct Generate barrier (one tokenizer pass; the
    CollapseProject guard), then a single posexplode fans out chunks —
    zero shuffle/join, fuses into the corpus scan. Overlap multiplies
    output bytes by size/stride, a declared cost, not a plan defect."""
    from ..spec import TOKEN_RE

    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
    base = docs.select("doc_id", F.inline(F.array(F.struct(toks.alias("toks")))))
    n_chunks = F.expr(
        "CASE WHEN size(toks) = 0 THEN 0 "
        f"WHEN size(toks) <= {size} THEN 1 "
        f"ELSE CAST(ceil((size(toks) - {size}) / {stride}.0) AS INT) + 1 END"
    )
    staged = base.select(
        "doc_id",
        "toks",
        F.inline(F.array(F.struct(n_chunks.alias("n_chunks")))),
    )
    chunk_arr = F.expr(
        "CASE WHEN n_chunks = 0 THEN CAST(array() AS array<array<string>>) "
        "ELSE transform(sequence(0, n_chunks - 1), "
        f"     i -> slice(toks, i * {stride} + 1, {size})) END"
    )
    fanned = staged.select(
        "doc_id", F.posexplode(chunk_arr).alias("chunk_idx", "chunk")
    )
    return fanned.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("chunk").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "chunk")).alias("chunk_hash"),
    )


def perplexity_buckets_by_lang(docs: DataFrame) -> DataFrame:
    """CCNet's bucketing as actually deployed (Wenzek et al. 2020 §3.3):
    head/middle/tail terciles computed WITHIN each language — a single
    global cutoff would shunt entire low-resource languages into "tail"
    because LM scores aren't comparable across languages. Same
    histogram-derived-cutoff machinery as perplexity_buckets, keyed by
    (lang, score): the collected histogram stays metadata-scale (distinct
    round-4 scores × O(100) languages, independent of corpus size), and
    bucket assignment compiles to one map-side CASE over per-language
    literal cutoffs — no window, no global sort, no per-language loop
    over the corpus.

    Cross-engine contract: per-language cutoff c_k(lang) = smallest score
    with cumulative count >= ceil(k*n_lang/3), integer arithmetic both
    sides; docs with <2 tokens have no score and are excluded."""
    pinned = (
        bigram_logprob(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .filter(F.col("lang").isNotNull())  # no language -> no per-lang cutoff
        .select("doc_id", "lang", "mean_nll")
        .persist()
    )
    hist = _collect_hist(
        pinned.groupBy("lang", "mean_nll").agg(F.count("*").alias("cnt")),
        "perplexity_buckets_by_lang",
    )
    # swap the pin for an eager localCheckpoint so no cache blocks leak
    # past this call (round-3 advice; connected_components pattern)
    scores = pinned.localCheckpoint(eager=True)
    pinned.unpersist()
    per_lang: dict[str, list[tuple[float, int]]] = {}
    for r in hist:
        per_lang.setdefault(r.lang, []).append((r.mean_nll, r.cnt))
    cuts: dict[str, tuple[float, float]] = {}
    for lang, vals in per_lang.items():
        vals.sort()
        cuts[lang] = _tercile_cuts(vals)
    if not cuts:
        return scores.select(
            "doc_id", "lang", "mean_nll", F.lit("head").alias("bucket")
        )
    bucket = None
    for lang in sorted(cuts):
        c1, c2 = cuts[lang]
        this = (
            F.when(F.col("mean_nll") <= c1, "head")
            .when(F.col("mean_nll") <= c2, "middle")
            .otherwise("tail")
        )
        bucket = (
            this if bucket is None
            else F.when(F.col("lang") == lang, this).otherwise(bucket)
        )
        # NB: the FIRST lang's expr ends up as the CASE fallthrough (the
        # innermost otherwise); that's safe because every lang in the
        # frame is enumerated — cuts came from the same frame being
        # bucketed, so no row can miss its own branch
    return scores.select("doc_id", "lang", "mean_nll", bucket.alias("bucket"))


PMI_MIN_COUNT = 5   # collocation support floor
PMI_TOP_K = 20


def pmi_collocations(docs: DataFrame) -> DataFrame:
    """Top-k adjacent-bigram collocations by pointwise mutual information
    (Church & Hanks 1990; the phrase-detection statistic in word2vec-style
    preprocessing): pmi(a,b) = ln( p(a,b) / (p(a)p(b)) ) with bigram and
    unigram probabilities from the corpus, support floor PMI_MIN_COUNT.

    Cross-engine contract: the ratio is computed in DOUBLE with a pinned
    operation order — (c2/T) / ((c1a/U) * (c1b/U)) — then ln, then
    round-4; identical IEEE ops in both engines, and integer counts never
    multiply (no int64-overflow path at corpus scale). Ties after
    rounding break on (w1, w2) ascending.

    Scale shape: same as bigram_logprob's count tables — the bigram
    stream comes from the SHARED _adjacent_bigrams helper (row-local
    build behind a Generate), both count tables are Zipf-bounded
    aggregations, the unigram table joins twice (AQE broadcasts it), and
    the final top-k is a TakeOrderedAndProject."""
    toks = F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z0-9]+"), 0)
    big = _adjacent_bigrams(docs).select(
        F.col("prev").alias("w1"), F.col("w").alias("w2")
    )
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    tot = c2.agg(F.sum("c2").alias("t")).crossJoin(
        uni.agg(F.sum("c1").alias("u"))
    )
    pmi = F.round(
        F.log(
            (F.col("c2") / F.col("t"))
            / ((F.col("c1a") / F.col("u")) * (F.col("c1b") / F.col("u")))
        ),
        4,
    )
    return (
        c2.filter(F.col("c2") >= PMI_MIN_COUNT)
        .join(uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1b")), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c2", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOP_K)
    )


STRAT_N_PER_LANG = 40
STRAT_SALT = "strat:v1"


def stratified_sample_exact(docs: DataFrame, n_per_group: int = STRAT_N_PER_LANG) -> DataFrame:
    """Exactly-n-per-language deterministic sample — balanced eval-set
    construction (every language contributes the same count regardless
    of corpus share; groups smaller than n contribute everything).
    Selection key is md5(salt || doc_id): reproducible across reruns and
    repartitioning (the plane's no-rand() rule), and disjoint salts make
    this sample independent of the split/mix/temperature buckets.

    Scale shape: one window ranked within lang over the md5 key —
    per-language state only (language cardinality bounds the partition
    count, the heaviest language bounds the partition size; at 10^12
    docs swap row_number for a per-lang rank-threshold computed from the
    key histogram, the length_percentile_trim pattern). Emits
    (doc_id, lang, pick_rank) for auditability."""
    key = F.md5(F.concat(F.lit(STRAT_SALT), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(key, "doc_id")
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("pick_rank"))
        .filter(F.col("pick_rank") <= n_per_group)
    )


TOKEN_BUDGET = 15_000  # default selection budget (tokens = \S+ words);
                       # ~55% of the sf0.01 corpus, so the oracle tier
                       # exercises the boundary-bucket refinement


def token_budget_select(docs: DataFrame, budget: int = TOKEN_BUDGET) -> DataFrame:
    """Quality-greedy corpus selection under an exact token budget: keep
    whole docs in (quality DESC, md5(doc_id) ASC) order while the running
    token total stays <= budget — the maximal prefix rule every
    fixed-budget training-set cut uses. Emits the kept docs as
    (doc_id, quality, n_tokens).

    The naive form is a GLOBAL ordered cumsum — a total sort of the
    corpus, the exact anti-pattern this repo bans. Instead the prefix is
    located through bounded histograms, the percentile/tercile machinery
    pattern:
      1. quality is already round-4 quantized (the repo float contract),
         so groupBy(quality) is <= ~10^4 rows -> collect (guarded by
         _collect_hist), greedy bucket fill top-down => the threshold
         bucket qt and its remaining budget.
      2. buckets ABOVE qt are kept wholesale (a filter, no ordering).
      3. the ONE boundary bucket refines by md5 2-hex prefix (<= 256
         histogram rows, same greedy) so the only ordered cumsum window
         left runs over a single (quality, prefix) slice — ~1/2560000 of
         the corpus; recurse on more prefix hex chars if a pathological
         quality spike ever makes that slice large.
    Ordering by md5 string equals (prefix, remainder) ordering, so the
    slice window + prefix greedy reproduce the global rule EXACTLY —
    the DuckDB oracle is the one-window global cumsum, which at sf0.01
    is cheap and unambiguous.

    Scale shape: ONE quality map pass, pinned: the regex-heavy scorer
    runs once into a persist that feeds the first histogram collect,
    then swaps to an eager localCheckpoint + unpersist (the
    perplexity_buckets / connected_components pattern) so the boundary
    collect and the kept-set branches replay 3-column checkpointed
    blocks (doc_id, quality, n_tokens — the text itself is dropped
    before the pin) instead of re-scoring the corpus; nothing stays in
    the session cache after return. Plus two metadata-scale collects
    (10^4 and 256 rows), two filters, one bucket-slice window. The
    corpus text never crosses an exchange; the kept set streams out as
    a filter of the pinned pass."""
    from .textquality import quality_score

    pinned = quality_score(docs).select(
        "doc_id", "quality", F.col("words").alias("n_tokens")
    ).persist()
    hist = _collect_hist(
        pinned.groupBy("quality").agg(F.sum("n_tokens").alias("toks")),
        "token_budget_select",
    )
    scored = pinned.localCheckpoint(eager=True)
    pinned.unpersist()
    cum, qt, rem = 0, None, 0
    for r in sorted(hist, key=lambda r: -r["quality"]):
        if cum + r["toks"] <= budget:
            cum += r["toks"]
        else:
            qt, rem = r["quality"], budget - cum
            break
    if qt is None:
        return scored  # the whole corpus fits the budget
    kept_full = scored.filter(F.col("quality") > qt)

    bnd = scored.filter(F.col("quality") == qt).withColumn(
        "_m", F.md5(F.col("doc_id").cast("string"))
    )
    pre = F.substring("_m", 1, 2)
    pre_hist = _collect_hist(
        bnd.groupBy(pre.alias("p")).agg(F.sum("n_tokens").alias("toks")),
        "token_budget_select boundary",
    )
    cum2, pt, rem2 = 0, None, rem
    for r in sorted(pre_hist, key=lambda r: r["p"]):
        if cum2 + r["toks"] <= rem:
            cum2 += r["toks"]
        else:
            pt, rem2 = r["p"], rem - cum2
            break
    if pt is None:  # defensive: loop always breaks (bucket total > rem)
        return kept_full.unionByName(bnd.drop("_m"))
    # whole kept prefixes + the boundary slice in ONE branch: the cumsum
    # window is PARTITIONED by prefix (so no global-sort WindowExec);
    # only the pt partition's cumsum is consulted — pre < pt rows are
    # kept wholesale by the disjunction
    w = (
        Window.partitionBy(pre)
        .orderBy("_m")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    boundary_kept = (
        bnd.filter(pre <= pt)
        .withColumn("_cum", F.sum("n_tokens").over(w))
        .filter((pre < pt) | (F.col("_cum") <= rem2))
        .drop("_m", "_cum")
    )
    return kept_full.unionByName(boundary_kept)


# ---------------------------------------------------------------------------
# cross-split leakage audit (eval-set contamination)


def split_leakage(docs: DataFrame) -> DataFrame:
    """Cross-split contamination audit — the eval-integrity check every
    training pipeline must run before trusting a benchmark number: a
    val/test document whose content also exists in train (exactly, or as
    a near-duplicate) leaks the eval set into training. One row per
    probe split ('val', 'test'):

      n_docs            docs in the probe split
      n_exact_leaks     probe docs whose NORMALIZED content hash
                        (dedup.normalize_for_hash — case/accent/
                        punctuation variants count as the same text)
                        also occurs in train
      n_neardup_cands   probe docs sharing >= 1 minhash-LSH band bucket
                        with any train doc (the candidate tier of the
                        near-dup plane: an upper bound that a Jaccard
                        verify pass — candidate_pairs_jaccard — would
                        confirm; candidates are what you triage first)
      exact_rate / cand_rate   the two ratios

    Scale shape: split assignment is map-stage md5 arithmetic on doc_id
    (split_col — recomputed where needed, never joined). The corpus text
    is read exactly TWICE (the normalize+hash pass and the
    shingle+minhash pass); each pass materializes a NARROW index frame
    — (split, doc_id, hash) and (band, bucket, split, doc_id) — via an
    eager localCheckpoint, so the probe/train branches replay pinned
    hash rows instead of re-scanning the corpus (without the pin, the
    split filters push through the aggregates and each branch re-reads
    the corpus: 4+ scans). These are the same artifacts an incremental
    audit persists as tables at 10^12 docs (the _shingle_index
    pattern); totals derive from the pinned hash frame for free. The
    semi-joins carry 16-byte hashes only; the final assembly joins
    three <=2-row aggregates."""
    from .dedup import banded_frame, normalize_for_hash

    hashes = docs.select(
        split_col().alias("split"),
        "doc_id",
        F.md5(normalize_for_hash(F.col("text"))).alias("h"),
    ).localCheckpoint(eager=True)
    train_h = hashes.filter(F.col("split") == "train").select("h").distinct()
    exact = (
        hashes.filter(F.col("split") != "train")
        .join(train_h, "h", "left_semi")
        .groupBy("split")
        .agg(F.countDistinct("doc_id").alias("n_exact_leaks"))
    )

    bb = (
        banded_frame(docs)
        .withColumn("split", split_col())
        .localCheckpoint(eager=True)
    )
    train_bb = (
        bb.filter(F.col("split") == "train").select("band", "bucket").distinct()
    )
    cand = (
        bb.filter(F.col("split") != "train")
        .join(train_bb, ["band", "bucket"], "left_semi")
        .groupBy("split")
        .agg(F.countDistinct("doc_id").alias("n_neardup_cands"))
    )

    totals = (
        hashes.filter(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"))
    )
    ex = F.coalesce("n_exact_leaks", F.lit(0)).cast("long")
    cd = F.coalesce("n_neardup_cands", F.lit(0)).cast("long")
    return (
        totals.join(exact, "split", "left")
        .join(cand, "split", "left")
        .select(
            "split",
            F.col("n_docs").cast("long").alias("n_docs"),
            ex.alias("n_exact_leaks"),
            cd.alias("n_neardup_cands"),
            F.round(ex / F.col("n_docs"), 4).alias("exact_rate"),
            F.round(cd / F.col("n_docs"), 4).alias("cand_rate"),
        )
    )
