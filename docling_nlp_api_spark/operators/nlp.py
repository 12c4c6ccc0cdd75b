"""NLP plane over plain-text document tables (SURVEY.md §2.8 X1-X4, A6-A8,
W2) — built-in JVM functions only (regexp_extract_all / split / explode),
whole-stage-codegen friendly; no Python in the hot path.

Reference anchors: tokenizer docling_service.py:341, keyword top-k :335-353,
word counts :200-201, paragraph/sentence splits :283,296-298."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..spec import STOPWORDS_40, TOKEN_RE, TOP_K_KEYWORDS


def tokens_col(text=None):
    """X3: regex word tokenizer (lowercased, >=3 latin letters)."""
    text = F.col("text") if text is None else text
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), 0)


def word_count_col(text=None):
    """A6/X4: Python str.split() parity — count of \\S+ runs."""
    text = F.col("text") if text is None else text
    return F.size(F.regexp_extract_all(text, F.lit(r"\S+"), 0))


def doc_counts(docs: DataFrame) -> DataFrame:
    """A6/A7: per-doc word/char counts."""
    return docs.select(
        "doc_id",
        word_count_col().alias("word_count"),
        F.length("text").alias("char_count"),
        F.size(tokens_col()).alias("token_count"),
    )


def corpus_keywords(docs: DataFrame, k: int = TOP_K_KEYWORDS) -> DataFrame:
    """A8 corpus-level: tokenize -> stopword filter -> hash agg -> top-k.
    Ties pinned (cnt DESC, word ASC). The stopword filter is an isin on a
    40-term literal set (broadcast-anti-join equivalent, F9/J4)."""
    toks = docs.select(F.explode(tokens_col()).alias("word"))
    filtered = toks.filter(~F.col("word").isin(*STOPWORDS_40))
    counts = filtered.groupBy("word").agg(F.count("*").alias("cnt"))
    # distributed top-k (TakeOrderedAndProject) instead of a global window,
    # which would shuffle every distinct word to one partition; the rank
    # window then runs over only the k surviving rows. WindowExec's
    # all-to-one-partition warning is expected and harmless here — the
    # window input is capped at k rows by the limit, not the corpus.
    # (Round 2 swapped this for a collect_list+posexplode rank to silence
    # the warning; interleaved A/B showed the extra stage costs a fixed
    # ~0.1s per run for zero scale benefit — BENCH/regress_ab.json.)
    topk = counts.orderBy(F.desc("cnt"), F.asc("word")).limit(k)
    w = Window.orderBy(F.desc("cnt"), F.asc("word"))
    return topk.withColumn("rk", F.row_number().over(w))


def per_doc_keywords(docs: DataFrame, k: int = 3) -> DataFrame:
    """W2: top-k keywords per doc with frequency score (score = cnt/total
    pre-stopword tokens, like the reference's freq/len(words))."""
    # tokenize ONCE behind a Generate barrier: explode(tokens) and
    # size(tokens) in one projection would each re-run the regex
    # tokenizer per row (CollapseProject inlines sibling expressions) —
    # the same staging every other corpus-pass operator here uses
    toks = tokens_col()
    staged = docs.select(
        "doc_id", F.inline(F.array(F.struct(toks.alias("toks"))))
    )
    base = staged.select("doc_id", F.explode("toks").alias("word"),
                         F.size("toks").alias("total"))
    counts = (
        base.filter(~F.col("word").isin(*STOPWORDS_40))
        .groupBy("doc_id", "word", "total")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("word"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "word", "cnt", F.round(F.col("cnt") / F.col("total"), 6).alias("score"), "rk")
    )


def paragraph_split(docs: DataFrame) -> DataFrame:
    """X1/W4: paragraphs (split on blank line, trimmed, empties dropped)
    with per-doc position ids via posexplode (reference
    docling_service.py:283 enumerate)."""
    paras = F.filter(
        F.transform(F.split(F.col("text"), r"\n\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    return docs.select("doc_id", F.posexplode(paras).alias("paragraph_id", "paragraph"))


def sentence_split(docs: DataFrame) -> DataFrame:
    """X2/W4: sentences with per-doc position ids (posexplode)."""
    sents = F.filter(
        F.transform(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    return docs.select("doc_id", F.posexplode(sents).alias("sentence_id", "sentence"))


def hashes(docs: DataFrame) -> DataFrame:
    """X6/X7: md5 naming prefix + sha256 content hash."""
    return docs.select(
        "doc_id",
        F.substring(F.md5(F.col("text")), 1, 8).alias("name_hash"),
        F.sha2(F.col("text"), 256).alias("content_hash"),
    )


def stopword_anti_join(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """J4/F9 as an explicit broadcast LEFT ANTI join against a stopword
    dimension (the join-shaped form of the isin filter)."""
    stop = spark.createDataFrame([(w,) for w in STOPWORDS_40], ["word"])
    toks = docs.select(F.explode(tokens_col()).alias("word"))
    return (
        toks.join(F.broadcast(stop), "word", "left_anti")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 50)
    )


def token_positions(docs: DataFrame, every: int = 25) -> DataFrame:
    """W4: explicit posexplode enumeration — (doc_id, pos, token) for a
    deterministic doc sample; position ids come from array order, no window
    shuffle (the reference's enumerate at docling_service.py:284-307)."""
    return docs.filter(F.col("doc_id") % every == 0).select(
        "doc_id", F.posexplode(tokens_col()).alias("pos", "token")
    )


def page_concat(docs: DataFrame) -> DataFrame:
    """X15: the reference's `page_text += text + " "` concat — every item
    contributes `text + ' '`, leaving a trailing space (docling_service.py
    :272). Re-split the doc into \\S+ items and rebuild byte-identically;
    md5 keeps the comparison payload small."""
    items = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
    page_text = F.concat(F.array_join(items, " "), F.lit(" "))
    return docs.select(
        "doc_id",
        F.length(page_text).alias("page_text_len"),
        F.md5(page_text).alias("page_text_md5"),
    )


def doc_range_rollup(docs: DataFrame) -> DataFrame:
    """A4: document-processing range roll-up per lang — doc counts, size
    and word totals, success rate with div-by-zero guard (the reference's
    ternaries, analytics_service.py:375-378); 'success' = doc fits the
    400-char size guard (F2)."""
    ok = F.when(F.col("n_chars") <= 400, 1).otherwise(0)
    agg = docs.groupBy("lang").agg(
        F.count("*").alias("documents_processed"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(word_count_col()).alias("total_words"),
        F.sum(ok).alias("successful"),
    )
    rate = F.when(
        F.col("documents_processed") > 0,
        F.round(F.col("successful") * 100.0 / F.col("documents_processed"), 2),
    ).otherwise(0.0)
    avg_words = F.when(
        F.col("documents_processed") > 0,
        F.round(F.col("total_words") * 1.0 / F.col("documents_processed"), 4),
    ).otherwise(0.0)
    return agg.select(
        "lang", "documents_processed", "total_chars", "total_words",
        rate.alias("success_rate"), avg_words.alias("avg_words"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """idf-weighted keyword extraction: top-k terms per doc by
    tf x ln(N/df), N = docs with >= 1 token, df = docs containing the
    term. No stopword list needed — idf is the statistical form of one
    (corpus-wide terms get ln(N/df) -> 0), which is why this op
    complements the reference-parity frequency keywords (W2/A8).

    Rank key is round(score, 4) with a term-asc tiebreak: ln differs
    from DuckDB's by <= 1 ulp, so ordering raw doubles cross-engine is
    a latent flake; 4-decimal quantization is the repo's float
    contract. Scale shape: tf and df are both vocabulary/doc-term
    sized partial-agg rollups, the df table is vocabulary-sized (Zipf)
    and broadcasts, and the only row-expansion is the token explode the
    tf rollup immediately collapses. The top-k window partitions by
    doc_id — per-doc state, never a global sort."""
    base = docs.select("doc_id", F.explode(tokens_col()).alias("term"))
    tf = base.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = tf.select("doc_id").distinct().agg(F.count("*").alias("n_docs"))
    df_tab = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_tab), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


INDEX_MAX_POSTINGS = 20


def inverted_index(docs: DataFrame, max_postings: int = INDEX_MAX_POSTINGS) -> DataFrame:
    """Term -> posting-list index build (the search-engine primitive a
    curated corpus ships with): per term, the document frequency and the
    first max_postings doc_ids in sorted order, with an explicit
    `truncated` flag — capping is declared per row, never silent (the
    repo's no-silent-caps rule).

    Postings are emitted as a comma-joined string so the cross-engine
    comparator sees a scalar; a consuming system splits or keeps the
    array form upstream of the final select.

    Scale shape: one distinct on (term, doc_id) — the exchange carries
    8-byte ids plus the term, never document text — then a single
    groupBy(term). Zipf head terms (stopwords) produce heavy reducer
    keys; the cap bounds their OUTPUT, and the exchange itself is the
    salting candidate if profiling shows reducer skew (see
    relational.salted_skew_join_rollup for the pattern). Real engines
    shard the index by doc partition; this is the global-term variant
    whose df column is exact."""
    pairs = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens_col())).alias("term"),
    )
    return pairs.groupBy("term").agg(
        F.count("*").alias("df"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, max_postings), ","
        ).alias("postings_csv"),
        (F.count("*") > max_postings).alias("truncated"),
    )


SEARCH_TERMS = ("table", "hash")  # fixture-frequent conjunctive query


def index_search(docs: DataFrame, terms: tuple[str, ...] = SEARCH_TERMS) -> DataFrame:
    """Conjunctive (AND) term search — the consumer of inverted_index's
    posting lists, expressed Spark-first as the equivalent streaming
    form: per doc, the tf of every query term computed in one map pass,
    kept iff ALL terms occur, ranked by (tf_sum desc, doc_id asc) with a
    TakeOrderedAndProject top-k. At serving scale the same query runs as
    a posting-list intersection against the materialized index table
    (semi-join per term on the term column); this operator IS the
    batch-side oracle such a serving path must agree with.

    One codegen map pass + one top-k; zero shuffle/join (the query terms
    are literals, |terms| tf columns per row)."""
    if not terms:
        raise ValueError("index_search needs at least one query term")
    if len(set(terms)) != len(terms):
        raise ValueError(f"duplicate query terms: {terms}")
    staged = docs.select(
        "doc_id", F.inline(F.array(F.struct(tokens_col().alias("toks"))))
    )
    # NB: HOF lambdas must stay single-parameter (a default arg would make
    # pyspark pass the element index into it — the repetition_signals trap)
    def _tf(term: str) -> F.Column:
        return F.size(F.filter(F.col("toks"), lambda w: w == F.lit(term)))

    tfs = {t: _tf(t) for t in terms}
    sel = staged.select(
        "doc_id",
        *[tf.cast("long").alias(f"tf_{t}") for t, tf in tfs.items()],
    )
    pred = None
    for t in terms:
        this = F.col(f"tf_{t}") > 0
        pred = this if pred is None else pred & this
    tf_sum = sum(F.col(f"tf_{t}") for t in terms)
    return (
        sel.filter(pred)
        .select("doc_id", *[f"tf_{t}" for t in terms], tf_sum.alias("tf_sum"))
        .orderBy(F.col("tf_sum").desc(), "doc_id")
        .limit(INDEX_MAX_POSTINGS)
    )


# BM25 parameters (Robertson/Sparck Jones defaults; Lucene's idf form) —
# shared verbatim with the SQL oracle
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def bm25_topk(
    docs: DataFrame, terms: tuple[str, ...] = SEARCH_TERMS, k: int = BM25_TOP_K
) -> DataFrame:
    """BM25 ranked retrieval for a fixed query — the scoring consumer of
    the inverted-index plane (index_search is the boolean AND form; this
    is the ranked OR form a corpus-search endpoint actually serves).
    Per doc: tf of every query term + doc length in ONE codegen map pass
    (no explode — query terms are literals, so tf is a row-local HOF
    count); corpus stats (N, avgdl, per-term df) come from ONE single-row
    aggregate broadcast back; score = sum_t idf_t * tf /
    (tf + k1*(1 - b + b*dl/avgdl)) with the Lucene idf
    ln((N - df + 0.5)/(df + 0.5) + 1), always positive.

    Scale shape: map pass + single-row global agg (partial-agg combine,
    ~16 bytes per task to the exchange) + broadcast crossJoin + one
    TakeOrderedAndProject top-k — the corpus text crosses no exchange and
    there is no per-term explode or vocabulary join (contrast
    tfidf_top_terms, which builds the full df table because its query is
    "every term"). Rank key is round(score, 4) with a doc_id tiebreak —
    the repo's float contract (ln differs <= 1 ulp cross-engine)."""
    if not terms or len(set(terms)) != len(terms):
        raise ValueError(f"bad query terms: {terms}")
    staged = docs.select(
        "doc_id", F.inline(F.array(F.struct(tokens_col().alias("toks"))))
    )

    def _tf(term: str) -> F.Column:
        return F.size(F.filter(F.col("toks"), lambda w: w == F.lit(term)))

    sel = staged.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[_tf(t).cast("long").alias(f"tf_{t}") for t in terms],
    )
    stats = sel.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}") for t in terms],
    )
    scored = sel.crossJoin(F.broadcast(stats))

    def _term_score(t: str) -> F.Column:
        tf = F.col(f"tf_{t}")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5) + 1.0
        )
        denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        return idf * tf / denom

    score = F.round(sum(_term_score(t) for t in terms), 4)
    keep = None
    for t in terms:
        this = F.col(f"tf_{t}") > 0
        keep = this if keep is None else keep | this
    return (
        scored.filter(keep)
        .select("doc_id", "dl", *[f"tf_{t}" for t in terms], score.alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(k)
    )
