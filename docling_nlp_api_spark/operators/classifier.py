"""Model-based classification plane: a multinomial Naive Bayes text
classifier trained AND applied distributed — the "model-based quality
filter" step of a training-data pipeline (CCNet's fastText language ID,
the GPT-3/LLaMA quality classifier) expressed as pure DataFrame algebra.

The reference hardcodes language detection to "en"
(/root/reference/app/services/docling_service.py:236) and has no trained
model anywhere; this plane supplies what a 100 TB corpus actually needs:
a classifier whose TRAINING is a corpus aggregation and whose INFERENCE
is a broadcast-model join — no MLlib, no driver-side fit, no Python UDF.

Two model families, matching the two ways production pipelines train:
- Naive Bayes (nb_*): closed-form counting — training is ONE groupBy
  producing the vocabulary-sized (class, word, count) model (Zipf:
  ~sqrt of corpus mass, so it broadcasts); inference is exact integer
  counts pushed through ln() (the sampling.unigram_logprob contract).
  At small vocabularies NB is literally a linear model over one-hot
  token counts — fastText's hypothesis class with counting training.
- Logistic regression (lr_*): iterative full-batch gradient descent as
  a driver loop over a dim-sized weight vector (the kmeans_fit
  pattern) — the evidence that gradient-TRAINED models, not just
  counted ones, are bit-reproducible cross-engine.

Scale shape (10^12 docs):
  1. token pass -> per-doc word counts (doc_id, word, k): map-side
     partial agg, shuffle keyed on (doc_id, word) — narrow rows;
  2. model: class counts (lang, word, c) + class totals — both
     vocabulary-sized, broadcast;
  3. scoring: word-count stream x |classes| fan-out (a handful), joined
     against the broadcast model, partial-agg per (doc, class), then a
     per-doc argmax window over |classes| rows/doc.
  The corpus text crosses an exchange exactly once (step 1); everything
  model-sized stays broadcast.

Numeric contract (cross-engine exactness): scores are
  sum_w k_w * ln(c_wc + 1)  -  n_d * ln(tot_c + V)  +  ln(nd_c / nd)
with add-1 (Laplace) smoothing over the GLOBAL vocabulary V. Every ln is
IEEE double in both engines; the per-class score is rounded to 4
decimals (the repo's float contract) BEFORE the argmax, and ties break
lang-ascending, so the predicted class is a deterministic function of
the quantized scores on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# the portable tokenizer shared with sampling.unigram_logprob: identical
# semantics in Spark and DuckDB regex engines (no \b, no classes)
WORD_RE = r"[a-z0-9]+"


def _tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, word) token stream — one row per occurrence."""
    return docs.select(
        "doc_id",
        "lang",
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit(WORD_RE), 0)).alias("word"),
    )


def nb_class_stats(docs: DataFrame) -> DataFrame:
    """Training-side summary of the fitted model: per class (language
    label) the document count, token mass, and class vocabulary size.
    Pure integer aggregation — the cheapest possible cross-engine pin of
    the model-fitting pass (the full model table is asserted indirectly
    through every nb_classify score)."""
    return (
        _tokens(docs)
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_tokens"),
            F.countDistinct("word").alias("class_vocab"),
        )
    )


def nb_classify(docs: DataFrame) -> DataFrame:
    """Train on the corpus's own (text, lang) pairs and emit the argmax
    class per document: (doc_id, pred_lang, score).

    Self-labeling (train == score corpus) is the oracle-friendly setup;
    the planted pytest proves real separation on distinctive vocabularies
    (tests/test_classifier.py). In production the model table comes from
    a labeled slice and the scoring corpus is the other 10^12 docs — the
    plan is identical because the model side is broadcast either way."""
    toks = _tokens(docs)

    # per-doc features: distinct words with multiplicity (corpus-sized,
    # narrow) — the one exchange the text pays
    wc = toks.groupBy("doc_id", "word").agg(F.count("*").alias("k"))

    # the model: class-conditional counts + class totals (vocab-sized)
    cc = toks.groupBy("lang", "word").agg(F.count("*").alias("c"))
    ct = cc.groupBy("lang").agg(F.sum("c").alias("tot"))
    vocab = toks.agg(F.countDistinct("word").alias("vocab"))
    priors = docs.groupBy("lang").agg(F.count("*").alias("nd"))
    nd_tot = docs.agg(F.count("*").cast("double").alias("nd_tot"))

    # fan the word-count stream out over the |classes| rows and join the
    # broadcast model: term = k * ln(c+1), absent (word,class) -> c = 0
    per_class = (
        wc.crossJoin(F.broadcast(ct))
        .join(F.broadcast(cc), ["word", "lang"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("k") * F.log(F.coalesce(F.col("c"), F.lit(0)) + F.lit(1))).alias("s"),
            F.sum("k").alias("ntok"),
        )
    )

    scored = (
        per_class.join(F.broadcast(ct), "lang")
        .join(F.broadcast(priors), "lang")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(nd_tot))
        .select(
            "doc_id",
            "lang",
            F.round(
                F.col("s")
                - F.col("ntok") * F.log(F.col("tot") + F.col("vocab"))
                + F.log(F.col("nd"))
                - F.log(F.col("nd_tot")),
                4,
            ).alias("score"),
        )
    )

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("lang").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"), "score")
    )


# --- trained linear model: logistic regression via distributed GD --------

LR_DIM = 64        # hashing-trick feature dimension (weights stay literal)
LR_RATE = 0.1      # full-batch learning rate
LR_ITERS = 3       # unrolled verbatim in the DuckDB oracle
LR_TARGET_LANG = "en"


def _lr_features(docs: DataFrame, dim: int = LR_DIM) -> DataFrame:
    """Hashing-trick bag-of-words: (doc_id, bucket, cnt) with
    bucket = first-32-bits-of-md5(word) mod dim — the repo's portable
    universal hash (dedup.shingle_hashes_flat's idiom), exact in DuckDB.
    Collisions are the hashing trick's feature, not a bug: the model
    learns over the folded space on both engines identically."""
    b = F.conv(F.substring(F.md5("word"), 1, 8), 16, 10).cast("long") % dim
    return (
        _tokens(docs)
        .select("doc_id", b.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def _lr_fit(
    docs: DataFrame,
    dim: int = LR_DIM,
    lr: float = LR_RATE,
    iters: int = LR_ITERS,
    target_lang: str = LR_TARGET_LANG,
) -> tuple[list[float], DataFrame]:
    """Full-batch gradient descent as a driver loop over tiny state — the
    kmeans_fit pattern (similarity.py): each iteration is two distributed
    aggregations (per-doc margin, per-bucket gradient) and only the
    dim-sized gradient vector ever reaches the driver; the next
    iteration's weights return as literals in the plan. w0 = 0.

    This is exactly how a fastText-style quality classifier trains on a
    corpus too large for single-node fitters: the feature table is
    corpus-sized but narrow (doc_id, bucket, cnt), checkpointed once and
    re-scanned per iteration (at 100 TB: staged to parquet instead).

    Cross-engine contract (the kmeans ROUND(…,6) rule, compounded): the
    per-doc margin z, the sigmoid p, and each weight update are all
    rounded to 6 decimals — aggregation order differs between engines,
    and an unrounded 1e-15 drift at iteration 1 would compound into
    visibly different weights by iteration 3. Featureless docs are
    excluded from the margin join: x = 0 contributes nothing to any
    gradient component, so inner joins are exact, not an approximation.

    Gradient-signal note: sigma(0) = 0.5 at w0 = 0, so iteration 1's
    gradient is (1/n) * sum x_i (0.5 - y_i) — buckets whose mass skews
    toward the target class start positive immediately; no symmetry
    breaking is needed (unlike k-means init)."""
    feat = _lr_features(docs, dim).localCheckpoint(eager=True)
    labels = docs.select("doc_id", (F.col("lang") == target_lang).cast("int").alias("y"))
    n = docs.count()

    w = [0.0] * dim
    for _ in range(iters):
        wlit = F.array(*[F.lit(v) for v in w])
        z = feat.groupBy("doc_id").agg(
            F.round(
                F.sum(F.col("cnt") * F.element_at(wlit, (F.col("bucket") + 1).cast("int"))), 6
            ).alias("z")
        )
        p = labels.join(z, "doc_id").select(
            "doc_id",
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6).alias("p"),
            "y",
        )
        grad = (
            feat.join(p, "doc_id")
            .groupBy("bucket")
            .agg(F.sum(F.col("cnt") * (F.col("p") - F.col("y"))).alias("g"))
            .collect()
        )
        gd = {r["bucket"]: r["g"] for r in grad}
        w = [round(w[j] - lr * gd.get(j, 0.0) / n, 6) for j in range(dim)]
    return w, feat


def lr_weights_df(spark: SparkSession, docs: DataFrame, dim: int = LR_DIM) -> DataFrame:
    """The trained model as a table: (bucket, weight) — dim rows. This is
    the catalog's evidence that distributed TRAINING (not just inference)
    is bit-reproducible cross-engine."""
    w, _ = _lr_fit(docs, dim)
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(w)], "bucket int, weight double"
    )


def lr_scores(docs: DataFrame, dim: int = LR_DIM) -> DataFrame:
    """Inference with the freshly trained model: per-doc sigmoid score
    (rounded to 4) and thresholded prediction. The weights enter the plan
    as literals — at 10^12 docs scoring is one map-side join-free pass
    over the feature aggregation (the model never shuffles)."""
    w, feat = _lr_fit(docs, dim)
    wlit = F.array(*[F.lit(v) for v in w])
    z = feat.groupBy("doc_id").agg(
        F.round(
            F.sum(F.col("cnt") * F.element_at(wlit, (F.col("bucket") + 1).cast("int"))), 6
        ).alias("z")
    )
    labels = docs.select("doc_id", (F.col("lang") == LR_TARGET_LANG).cast("int").alias("y"))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 4)
    return labels.join(z, "doc_id").select(
        "doc_id",
        "y",
        score.alias("score"),
        (score >= 0.5).cast("int").alias("pred"),
    )
