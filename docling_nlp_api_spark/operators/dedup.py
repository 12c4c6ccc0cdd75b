"""Deduplication plane — exact, MinHash+LSH, SimHash, n-gram Jaccard —
first-class training-pipeline ops (driver brief).

Portability design: every hash is md5-hex based (identical in Spark and
DuckDB) so each operator has an exact SQL oracle; `hash()` builtins are
engine-specific and never used. Near-duplicates are *planted*
deterministically (a truncated copy of every 10th doc) so the operators
demonstrably find pairs on the synthetic corpus.

Scale notes: MinHash/LSH is the linear-cost path at 10^12 docs — signatures
are a narrow projection, the band-bucket groupBy shuffles only
(band, bucket, doc_id) tuples, and candidate verification joins stay within
buckets. The O(n^2) jaccard is only ever run on LSH candidates."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..spec import TOKEN_RE

N_MINHASH = 6          # default minhash functions (demo scale; see below)
BANDS = 3              # default banding: 3 bands x 2 rows
ROWS_PER_BAND = 2
PLANT_EVERY = 10       # every 10th doc gets a planted near-dup
PLANT_TRUNC = 25       # near-dup = text minus last 25 chars
# Plant ids live in the top eighth of the signed-64 space so they can
# never collide with a raw id at ANY realizable corpus size. The five
# plant families tile that eighth at distinct offsets
#   near-dup 2^62 | mix 2^62+2^58 | norm 2^62+2^59
#   contain 2^62+2^60 | exact 2^62+2^61
# whose pairwise gaps are all >= 2^58, so the family blocks
# [offset, offset + 2^58) are pairwise disjoint PROVIDED raw ids stay
# below 2^58 ~= 2.9e17 — five decades above the 10^12-doc design point
# (tests/test_vecmath_parity.py::test_plant_offset_blocks_are_disjoint
# pins the block-disjointness arithmetic). The original +1e6 offset silently collided at the 2M-
# vector bench tier: 40k plants aliased raw vec_ids, deflating the
# fused cluster count (BENCH/neardup_scaling.json, round 4). Exact-dup
# plants (catalog _EXACT_DUPS) get their own disjoint block so a doc
# planted by both rules cannot alias itself across families.
PLANT_OFFSET = 1 << 62
EXACT_PLANT_EVERY = 17  # every 17th doc gets an exact (byte-identical) twin
EXACT_PLANT_OFFSET = (1 << 62) + (1 << 61)

# Universal-hash minhash family: ONE md5 per shingle (its first 32 bits
# become h), then mh_i = min((A_i*h + B_i) mod P) — k integer perms per
# shingle instead of k md5 passes (~5x cheaper; md5 dominates otherwise).
# A_i < 2^31 and h < 2^32 keep A*h + B < 2^63 (no int64 overflow in
# either engine). The first 6 constants are pinned verbatim for DuckDB
# oracle parity; beyond 6 the family extends deterministically from md5
# (production near-dup runs use k=128, 16 bands x 8 rows — the defaults
# here are demo-scale so the oracles stay readable; every function below
# takes k/bands/rows and the k=32 pytest pins the extended family).
MH_P = 4294967311          # prime > 2^32
MH_A = [1099087573, 2034678437, 1831565813, 419668217, 1973272007, 754974721]
MH_B = [217645177, 1343714161, 987654323, 152916539, 1846272233, 569952919]


def _hexint(s: str, nhex: int = 8) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:nhex], 16)


def mh_constants(k: int) -> tuple[list[int], list[int]]:
    """The universal-hash family (A_i, B_i) for i < k: pinned constants
    for i < 6, md5-derived beyond (A odd and < 2^31 so A*h + B < 2^63;
    B < P). Deterministic — both engines can regenerate it."""
    a, b = list(MH_A), list(MH_B)
    for i in range(6, k):
        a.append((_hexint(f"mhA:{i}") % (1 << 30)) * 2 + 1)  # odd, < 2^31
        b.append(_hexint(f"mhB:{i}", 15) % MH_P)
    return a[:k], b[:k]


def plant_near_twins(docs: DataFrame) -> DataFrame:
    """JUST the near-dup twin frame (doc_id+PLANT_OFFSET, text minus the
    last PLANT_TRUNC chars, for every doc_id % PLANT_EVERY == 0) — the
    single Python definition of the minhash plant recipe, shared by
    with_planted_dups and the catalog fixtures (e.g. the split-leakage
    corpus) so a recipe change cannot drift between call sites."""
    return docs.filter(F.col("doc_id") % PLANT_EVERY == 0).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.expr(f"substr(text, 1, length(text) - {PLANT_TRUNC})").alias("text"),
    )


def plant_exact_twins(docs: DataFrame) -> DataFrame:
    """JUST the exact-twin frame (doc_id+EXACT_PLANT_OFFSET, byte-identical
    text, for every doc_id % EXACT_PLANT_EVERY == 0) — the exact_dedup
    plant recipe, single-sourced like plant_near_twins above."""
    return docs.filter(F.col("doc_id") % EXACT_PLANT_EVERY == 0).select(
        (F.col("doc_id") + EXACT_PLANT_OFFSET).alias("doc_id"), "text"
    )


def with_planted_dups(docs: DataFrame) -> DataFrame:
    """Append deterministic near-duplicates: doc_id+PLANT_OFFSET, text
    truncated (offset rationale at the constant)."""
    return docs.select("doc_id", "text").unionByName(plant_near_twins(docs))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup via content-hash groupBy; representative = min doc_id.
    At scale this is one shuffle on a well-distributed hash key."""
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("representative"))
        .filter(F.col("n_docs") > 1)
    )


def shingle_hashes_flat(docs: DataFrame) -> DataFrame:
    """(doc_id, h): one row per 3-word shingle, h = first 32 bits of
    md5(shingle) as a long. The shared front-end of the whole minhash/LSH/
    jaccard plane — the tokenizer runs exactly ONCE per doc.

    Generator-indexed shape: the token array is materialized once per row
    below a Generate that explodes the shingle START POSITIONS; each
    shingle is built by O(1) array indexing in the post-Generate
    projection and hashed in whole-stage codegen. Array-lambda
    formulations are a trap here: CollapseProject inlines the tokenizer
    into every element access and re-runs the regex per shingle (a
    measured 24x expression blow-up in one round-2 draft). A Generate is
    a structural barrier the optimizer cannot inline expressions across.
    The <3-token guard lives inside the generator CASE — a separate
    filter gets the tokenizer substituted in on predicate pushdown and
    tokenizes every doc twice."""
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
    base = docs.select("doc_id", toks.alias("toks"))
    flat = base.select(
        "doc_id",
        "toks",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 3 THEN sequence(0, size(toks) - 3) "
                "ELSE CAST(array() AS array<int>) END"
            )
        ).alias("i"),
    ).select(
        "doc_id",
        F.concat_ws(" ", F.expr("toks[i]"), F.expr("toks[i+1]"), F.expr("toks[i+2]")).alias("sh"),
    )
    h = F.conv(F.substring(F.md5("sh"), 1, 8), 16, 10).cast("long")
    return flat.select("doc_id", h.alias("h"))


def _perm(i: int, k: int = N_MINHASH) -> F.Column:
    a, b = mh_constants(max(k, i + 1))
    return (F.lit(a[i]) * F.col("h") + F.lit(b[i])) % F.lit(MH_P)


def minhash_signatures(docs: DataFrame, k: int = N_MINHASH) -> DataFrame:
    """MinHash: base hash h = first 32 bits of md5(shingle), then
    mh_i = min over shingles of (A_i*h + B_i) mod P (universal family).

    Generator-indexed flat formulation: materialize the token array once
    per row, explode the shingle START POSITIONS (a generator argument is
    evaluated once per row — array-lambda formulations let CollapseProject
    inline the tokenizer into every element access, re-running the regex
    per shingle), and build each 3-shingle by O(1) array indexing in the
    post-Generate projection. The grams stream through whole-stage codegen
    into a PARTIAL min-aggregation, so the only exchange carries one
    (doc_id, mh0..mh5) row per doc per task — no window, no shuffle+sort
    of the token stream. The <3-token guard lives inside the generator
    CASE (a separate filter gets the tokenizer substituted in on pushdown
    and tokenizes every doc twice). min() over the shingle MULTISET equals
    min() over the distinct set, so skipping array_distinct changes
    nothing. Measured at 80k docs / local[32], best-of-3: 0.81s vs 1.03s
    for the round-1 explode+lead() window form vs 6.7s for the
    all-array-native form (which round 1 left in with a contradictory
    'faster' docstring — re-measured, deleted). The generator-indexed
    front-end is shared with the jaccard plane: see shingle_hashes_flat."""
    flat = shingle_hashes_flat(docs)
    aggs = [F.min(_perm(i)).alias(f"mh{i}") for i in range(k)]
    return flat.groupBy("doc_id").agg(*aggs)


def band_bucket(b: int, rows: int = ROWS_PER_BAND):
    """LSH bucket id for band b: md5 over the band's `rows` signature
    values (rendered as decimal strings, ':'-separated — identical in
    DuckDB)."""
    return F.md5(F.concat_ws(":", *[F.col(f"mh{rows*b + r}") for r in range(rows)]))


def lsh_buckets(
    docs: DataFrame, bands: int = BANDS, rows: int = ROWS_PER_BAND
) -> DataFrame:
    """LSH banding: `bands` bands of `rows` signature rows each (defaults
    3x2 = the 6-perm demo family; production near-dup scale is 16x8 over
    k=128 — same code path, pinned by the k=32 pytest); bucket sizes > 1
    are candidates.

    Single pass: bands explode from one signature row (a per-band union
    of selects over the same subtree would re-run the tokenize+minhash
    scan once per band)."""
    allb = banded_frame(docs, bands, rows)
    return (
        allb.groupBy("band", "bucket")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc"), F.max("doc_id").alias("max_doc"))
        .filter(F.col("n_docs") > 1)
    )


def _band_structs(bands: int, rows: int) -> F.Column:
    """THE banding rule, one copy: array of (band, bucket) structs, one
    per LSH band, each bucket an md5 over that band's `rows` minhash
    slice (band_bucket). Every consumer that explodes a signature row
    into band rows — banded_frame, candidate_pairs_jaccard,
    _shingle_index — must render buckets through this helper, or a
    signature-scheme change could silently desynchronize the verify
    path from a PERSISTED incremental-dedup index that has to share
    its bucketing."""
    return F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_bucket(b, rows).alias("bucket"))
            for b in range(bands)
        ]
    )


def _minhash_hs_per_doc(docs: DataFrame, k: int) -> DataFrame:
    """THE per-doc signature aggregation, one copy: (doc_id, hs,
    mh0..mh{k-1}) — the distinct sorted shingle-hash set AND all k
    minhashes from a single partial agg over the shared shingle stream
    (one tokenizer pass; the Aggregate is a structural barrier, so no
    expression can be inlined back into the tokenizer — a
    projection-chain draft measured a 24x regex blow-up from
    CollapseProject). Shared by candidate_pairs_jaccard and
    _shingle_index for the same one-copy reason as _band_structs."""
    return shingle_hashes_flat(docs).groupBy("doc_id").agg(
        F.sort_array(F.collect_set("h")).alias("hs"),
        *[F.min(_perm(i, k)).alias(f"mh{i}") for i in range(k)],
    )


def banded_frame(docs: DataFrame, bands: int = BANDS, rows: int = ROWS_PER_BAND) -> DataFrame:
    """(band, bucket, doc_id): every doc's bucket in every band, exploded
    from ONE signature row — shared by lsh_buckets and lsh_recall."""
    sig = minhash_signatures(docs, k=bands * rows)
    return sig.select("doc_id", F.explode(_band_structs(bands, rows)).alias("bb")).select(
        F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"), "doc_id"
    )


def lsh_recall(docs_raw: DataFrame, bands: int = BANDS, rows: int = ROWS_PER_BAND) -> DataFrame:
    """Self-evaluation of candidate generation — the metric a dedup
    pipeline must report before anyone trusts its keep-set: RECALL of the
    banded-LSH candidates against the planted ground-truth near-dup pairs
    (every doc_id % PLANT_EVERY == 0 has a known truncated twin). Emits
    one row: (n_planted, n_caught, recall, n_candidates) — recall is the
    quality axis, n_candidates the cost axis (the pairs Jaccard
    verification will have to touch); tuning bands x rows trades one
    against the other, and this op is how the trade is measured.

    Shape: candidates are the same (band, bucket) self equi-join the
    production path uses (never a cross join); the planted pair set is
    corpus-fraction-sized and the semi-join probe against candidates is
    key-to-key. Three scalar aggregates cross-joined into the one-row
    report."""
    corpus = with_planted_dups(docs_raw)
    allb = banded_frame(corpus, bands, rows)
    cand = (
        allb.alias("a")
        .join(allb.alias("b"), ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    planted = docs_raw.filter(F.col("doc_id") % PLANT_EVERY == 0).select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + PLANT_OFFSET).alias("doc_b")
    )
    tot = planted.agg(F.count("*").alias("n_planted"))
    hit = planted.join(cand, ["doc_a", "doc_b"], "left_semi").agg(
        F.count("*").alias("n_caught")
    )
    nc = cand.agg(F.count("*").alias("n_candidates"))
    return (
        tot.crossJoin(hit)
        .crossJoin(nc)
        .select(
            "n_planted",
            "n_caught",
            F.round(F.col("n_caught") / F.col("n_planted"), 4).alias("recall"),
            "n_candidates",
        )
    )


def candidate_pairs_jaccard(
    docs: DataFrame, threshold: float = 0.5, bands: int = 1, rows: int = ROWS_PER_BAND
) -> DataFrame:
    """n-gram Jaccard verification of LSH candidates: pairs sharing any
    of `bands` LSH band buckets (`rows` signature rows each), exact
    jaccard over the DISTINCT HASHED shingle sets (the md5-32 shingle
    space shared with minhash — identical in the DuckDB oracle, so
    collisions, if any, affect both engines equally).

    One tokenizer pass either way: the shared shingle_hashes_flat frame
    feeds a single partial aggregation computing the per-doc distinct
    hash set AND all bands*rows minhashes together (an Aggregate is a
    structural barrier, so no expression can be inlined back into the
    tokenizer — a projection-chain draft of this measured a 24x regex
    blow-up from CollapseProject).

    bands=1 (the oracle-pinned demo default, band-0 of the 3x2 family):
    one equi-join on bucket carries the int hash sets (3-5x narrower
    than shingle strings) and computes jaccard directly — round 1's
    shape was 3 joins with the tokenizer run 3x. The two join inputs
    canonicalize to the same exchange, which ReuseExchange dedups in
    the non-broadcast regime.

    bands>1 (the production path — BENCH/lsh_curve.md recommends 8x4
    per the recall/cost sweep: 0.948 recall of the planted truth with
    near-1.0 candidate precision, 4x fewer candidates than loose 16x2
    and half the wall of 16x8): candidates are generated as (doc_a,
    doc_b) ID pairs from a banded self equi-join and DISTINCT'd BEFORE
    the hash sets attach (a doc pair colliding in several bands must be
    verified once, not once per band, and the wide hs arrays must not
    ride through the band explosion); two id-equi-joins then attach
    hs_a/hs_b from the same per_doc exchange ReuseExchange dedups."""
    k = bands * rows
    per_doc = _minhash_hs_per_doc(docs, k)
    if bands == 1:
        base = per_doc.select("doc_id", "hs", band_bucket(0, rows).alias("bucket"))
        a = base.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"), "bucket")
        b = base.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"), "bucket")
        joined = a.join(b, "bucket").filter(F.col("doc_a") < F.col("doc_b"))
    else:
        ids = per_doc.select("doc_id", F.explode(_band_structs(bands, rows)).alias("bb")).select(
            "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )
        cand = (
            ids.alias("a")
            .join(ids.alias("b"), ["band", "bucket"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        sets = per_doc.select("doc_id", "hs")
        joined = cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")),
            "doc_a",
        ).join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")),
            "doc_b",
        )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        joined.select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _shingle_index(docs: DataFrame, bands: int, rows: int) -> DataFrame:
    """Per-doc near-dup index rows: (doc_id, hs, band, bucket) — the
    distinct shingle-hash set plus one row per LSH band. This is the
    frame a production pipeline PERSISTS between snapshots (bucketed by
    (band, bucket)); one partial agg builds sets and all k minhashes
    together from the shared shingle stream (_minhash_hs_per_doc — the
    same copy candidate_pairs_jaccard verifies through, so the persisted
    index and the verify path cannot desynchronize)."""
    per_doc = _minhash_hs_per_doc(docs, bands * rows)
    return per_doc.select(
        "doc_id", "hs", F.explode(_band_structs(bands, rows)).alias("bb")
    ).select(
        "doc_id", "hs", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def incremental_dedup(
    base: DataFrame,
    new: DataFrame,
    bands: int = BANDS,
    rows: int = ROWS_PER_BAND,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-snapshot (incremental) near-dup dedup: reject new-batch docs
    that near-duplicate the EXISTING corpus — the production shape where
    a crawl snapshot lands against a 100 TB deduped base. Emits one row
    per rejected new doc: how many base docs it collided-and-verified
    against, its best jaccard, and the best-matching base doc (ties ->
    min base_id; same ordering in the oracle's ROW_NUMBER).

    Scale design: both sides reduce to _shingle_index rows. In this
    one-shot form the base index is computed inline, but the frame is
    exactly what a pipeline persists between snapshots bucketed by
    (band, bucket) — then an incremental run tokenizes and shuffles ONLY
    the new batch (typically 1000x smaller than base), equi-joins its
    band rows against the co-located index, and verifies jaccard on the
    collided candidates alone. Nothing corpus-sized recomputes and the
    base text never reloads. Jaccard is evaluated per colliding band row
    (<= bands duplicates per pair) before the (new, base) max-dedup —
    cheaper than a distinct on the hash-set arrays."""
    bidx = _shingle_index(base, bands, rows).select(
        F.col("doc_id").alias("base_id"), F.col("hs").alias("hs_b"), "band", "bucket"
    )
    nidx = _shingle_index(new, bands, rows).select(
        F.col("doc_id").alias("new_id"), F.col("hs").alias("hs_n"), "band", "bucket"
    )
    joined = nidx.join(bidx, ["band", "bucket"])
    inter = F.size(F.array_intersect("hs_n", "hs_b"))
    union = F.size("hs_n") + F.size("hs_b") - inter
    pair_j = (
        joined.select("new_id", "base_id", F.round(inter / union, 4).alias("jaccard"))
        .groupBy("new_id", "base_id")
        .agg(F.max("jaccard").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    best = F.max(F.struct(F.col("jaccard").alias("j"), (-F.col("base_id")).alias("nb")))
    return (
        pair_j.groupBy("new_id")
        .agg(F.count("*").alias("n_matches"), best.alias("b"))
        .select(
            "new_id",
            "n_matches",
            F.col("b.j").alias("best_jaccard"),
            (-F.col("b.nb")).cast("long").alias("best_base"),
        )
    )


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash over X3 tokens: bit j of md5's first 16 bits, majority vote
    weighted by token frequency. Returns the packed signature."""
    toks = docs.select(
        "doc_id", F.explode(F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)).alias("w")
    )
    h = F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("long")
    toks = toks.select("doc_id", h.alias("h"))
    aggs = [
        F.sum(F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)).alias(f"b{j}")
        for j in range(bits)
    ]
    per_doc = toks.groupBy("doc_id").agg(*aggs)
    packed = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return per_doc.select("doc_id", packed.alias("simhash"))


NEAR_DUP_BANDS = 2     # 2 bands x 4 hyperplane sign bits each
PLANES_PER_BAND = 4
N_SALT_PLANES = 24     # extra sign bits that key oversized-bucket sub-splits:
                       # 12 PER BAND (each band reads a disjoint 12-bit window
                       # of the salt code, so a split miss in one band is
                       # independent of the other WITHOUT halving split depth —
                       # 12 usable bits push the lossy direction-hash residual
                       # out to buckets > 4096*max_bucket, the same depth the
                       # pre-windowed single-code design had)
VEC_PLANT_EVERY = 25   # every 25th vector gets a planted scaled near-dup
VEC_PLANT_SCALE = 1.5  # exactly representable in binary -> identical in DuckDB


def with_planted_vec_dups(emb: DataFrame) -> DataFrame:
    """Append deterministic vector near-dups: vec_id+PLANT_OFFSET,
    embedding scaled by 1.5. Scaling preserves direction exactly, so the plant has
    cosine 1.0 with its source and identical hyperplane signs (always
    bucket-colocated) — the banded near-dup operator demonstrably finds
    every plant, mirroring with_planted_dups on the text side."""
    dups = emb.filter(F.col("vec_id") % VEC_PLANT_EVERY == 0).select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
        "label",
        F.expr(f"transform(embedding, x -> x * CAST({VEC_PLANT_SCALE} AS FLOAT))").alias(
            "embedding"
        ),
    )
    return emb.select("vec_id", "label", "embedding").unionByName(dups)


def embedding_near_dup(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.40,
    max_bucket: int = 1024,
) -> DataFrame:
    """Embedding-cosine near-dup pair LIST: pairs above threshold from
    candidates sharing (label, band, bucket) — the coarse cluster AND a 4-bit
    hyperplane-LSH bucket in either of 2 bands (OR-construction: near-
    identical vectors agree on a whole 4-bit band with high probability,
    and two independent bands make a double miss rare).

    Round 1 joined all-vs-all within label alone: with O(10) coarse
    labels that is O(n^2/10) candidate pairs — quadratic at corpus scale
    and skew-prone on hot labels. The band buckets (16 per band) cut each
    label's join fan-out ~256x in expectation; the same hyperplane
    machinery as similarity.hyperplanes(), split 4+4.

    max_bucket (round-4 sf10 dry run): "~256x in expectation" assumes
    near-isotropic vectors. On label-CLUSTERED embeddings every vector of
    a label shares most hyperplane signs, so one bucket absorbs the whole
    label and the within-bucket pair count grows QUADRATICALLY with
    corpus size — at the 100x tier (200k vecs) that was ~4B interpreted
    cosine evals, a never-finishing join. A metadata pre-pass therefore
    counts each (label, band, bucket); a bucket over max_bucket rows is
    split into sub-buckets keyed by ceil(log2(nsplit)) EXTRA HYPERPLANE
    SIGN BITS (the same deterministic LSH family, indices past the band
    planes): a pair at angle theta is separated only when one of those
    planes falls between its two directions (prob ~ bits * theta/pi), so
    near-dup pairs survive with high probability while the low-cosine
    bulk that made the bucket oversized spreads out; exact-direction
    duplicates share every sign bit and never separate. A sub-bucket the
    sign bits cannot break (an angularly tight cluster > max_bucket,
    where losing SOME true pairs is forced by any bound) falls back to a
    quantized-unit-direction hash split, preserving the candidate bound
    at the cost of cross-split pairs within that one cluster. One
    DELEGATE pair per sub-bucket pairing is then added back
    (_delegate_reconnect_pairs), so the pair graph stays CONNECTED
    across the split: pair-list recall inside a tight mega-cluster is
    ~1/nsplit (measured: BENCH/neardup_cap_recall.json, 0.51 at
    cap=1024 on the 20k clustered tier), but the resolution contract
    loses NOTHING there — capped component structure is bit-identical
    to uncapped (10/10 components, same member set) at 5-10x less cost.
    The cap bounds candidates at ~max_bucket * n/2 (linear in corpus,
    tunable). At the oracle tier (sf0.01, ~200 vectors) no bucket reaches the cap, so the
    DuckDB value-hash comparison runs the identical uncapped plan
    (pytest pins cap-inertness, forced-cap planted recall, and forced-cap
    PERTURBED-pair recall).

    The vector and its L2 norm are computed once per row BELOW the
    grouping exchange (a shuffle materializes columns, so no
    re-evaluation can leak past it). Scoring is one gram matmul per
    bucket GROUP (vecmath.gram_pairs_kernel), each vector crossing Arrow
    once per bucket: a pair join would ship both embeddings per
    candidate PAIR, which is transfer-bound on the quadratic fan-out of
    clustered buckets at the 100x tier (BENCH/ann_ab_sf10_kernel.json).
    Kept-pair cosines are einsum-recomputed, bit-identical to the
    delegate reconnect's pair_dot, then rounded and filtered JVM-side.

    Returns the distinct (id_a, id_b, cosine) pairs: a pair matching
    both bands computes the same cosine twice and appears once per band
    before the global distinct. At the 100x tier this operator is
    OUTPUT-bound, not scoring-bound (191.6M distinct pairs at threshold
    0.40 on the clustered corpus, BENCH/BASELINE.md) — when the
    downstream consumer is dedup RESOLUTION rather than the pair list
    itself, use embedding_dup_clusters, which skips the distinct
    exchange, contracts edges in-kernel and feeds star edges into
    connected components."""
    from . import vecmath
    from .similarity import DIM

    salted = _near_dup_candidates(spark, sf_dir, max_bucket)
    cand = salted.groupBy("label", "band", "bucket", "salt", "tsalt").applyInPandas(
        vecmath.gram_pairs_kernel(threshold, DIM),
        schema="id_a long, id_b long, cos double",
    )
    return (
        cand.select("id_a", "id_b", F.round("cos", 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .unionByName(_delegate_reconnect_pairs(salted, threshold))
        .distinct()
    )


def _pair_cosine() -> F.Column:
    """The pair cosine-scoring rule of the delegate reconnect over a
    candidate frame staged as (ea, na, eb, nb): the einsum pair_dot,
    divided by the precomputed norms and rounded to 4 places — the same
    reduction and rounding the gram kernels apply to the pairs they
    keep."""
    from . import vecmath
    from .similarity import DIM

    dot = vecmath.pair_dot(DIM)(F.col("ea"), F.col("eb"))
    return F.round(dot / (F.col("na") * F.col("nb")), 4)


def _delegate_reconnect_pairs(salted: DataFrame, threshold: float) -> DataFrame:
    """Cross-sub-bucket reconnection for capped buckets: one DELEGATE
    (min vec_id member) per (label, band, bucket, salt, tsalt) group;
    adjacent delegates IN (salt, tsalt) ORDER are chained and each chain
    edge is scored with the shared cosine rule. The lexicographic order
    keeps sub-buckets of the same residual slot (an identical-direction
    group split row-uniformly by tsalt) CONSECUTIVE, so their delegates
    — cosine exactly 1.0 — always chain back into one component. BENCH/neardup_cap_recall.json is the
    motivation: the residual direction-hash split of an angularly TIGHT
    mega-cluster (where sign bits cannot separate members) necessarily
    drops cross-sub-bucket pairs — pair recall there is ~1/nsplit by any
    bounded scheme — but for the RESOLUTION contract only CONNECTIVITY
    matters, and in a tight cluster EVERY delegate pair is a near pair,
    so the nsplit-1 chain edges all pass the threshold and re-unify the
    component exactly as an all-pairs clique would. The chain (not a
    clique) keeps the reconnect LINEAR: a 10M-row mega-bucket at
    max_bucket=1024 has ~10k delegates, which is 10k chain edges vs
    ~50M clique pairs — the latter would re-import the quadratic the
    cap exists to bound. For diffuse split buckets the chain is
    best-effort (a non-adjacent near pair of delegates is not scored),
    which only matters where the sub-components were never one cluster.
    Cost: one extra pass over the staging lineage (the delegate partial
    agg cannot share the main path's exchange) confined by the staged
    `split` flag to rows of buckets that actually split — in the common
    zero-split case (and at oracle scale) the filter drops every row at
    the scan, so the agg shuffles nothing, the window sees nothing, and
    the result is provably empty: every oracle comparison is unaffected.
    Scoring goes through _pair_cosine, whose einsum is the reduction the
    gram kernels recompute kept pairs with."""
    from pyspark.sql import Window

    deleg = salted.filter("split").groupBy(
        "label", "band", "bucket", "salt", "tsalt"
    ).agg(
        F.min(F.struct("vec_id", "embedding", "nrm")).alias("d")
    )
    w = Window.partitionBy("label", "band", "bucket").orderBy("salt", "tsalt")
    pairs = (
        deleg.select(
            F.col("d.vec_id").alias("va"), F.col("d.embedding").alias("ea"),
            F.col("d.nrm").alias("na"),
            F.lead("d").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .select(
            "va", "ea", "na",
            F.col("nxt.vec_id").alias("vb"), F.col("nxt.embedding").alias("eb"),
            F.col("nxt.nrm").alias("nb"),
        )
    )
    return (
        pairs.select(
            F.least("va", "vb").alias("id_a"),
            F.greatest("va", "vb").alias("id_b"),
            _pair_cosine().alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _near_dup_candidates(
    spark: SparkSession,
    sf_dir: str,
    max_bucket: int = 1024,
) -> DataFrame:
    """Shared candidate staging for the embedding near-dup family: the
    (vec_id, label, embedding, nrm, band, bucket, salt, tsalt, split)
    frame — `split` flags rows of buckets the cap actually split,
    confining the delegate-reconnect pass to that (usually empty)
    fraction — banded hyperplane buckets within the coarse label,
    oversized buckets split by THREE escalating levels, each engaging
    only where the previous one could not bound the group:
    (1) EXTRA LSH SIGN BITS (locality-preserving — near pairs survive),
    (2) a quantized-direction hash for angularly tight clusters the
    sign bits cannot part (exact-direction dups still co-bucket), and
    (3) a row-uniform vec_id hash (tsalt) for identical-direction
    groups the direction hash cannot bound — the one input class where
    no content-keyed split can hold the cap (review finding, round 4).
    See embedding_near_dup for the full scale rationale.

    Construction is LAZY: the bucket-count table is an agg subtree the
    broadcast join computes at execution, so plan-only and
    never-executed consumers pay no corpus scan."""
    from . import vecmath
    from .similarity import DIM, hyperplanes

    emb = with_planted_vec_dups(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    n_band_planes = NEAR_DUP_BANDS * PLANES_PER_BAND
    planes = hyperplanes(n_band_planes + N_SALT_PLANES)

    def sign_bits(lo: int, width: int) -> F.Column:
        # one matmul per Arrow batch for the whole plane block
        return vecmath.plane_bits_udf(planes[lo:lo + width])(F.col("embedding"))

    def band_of(lo: int) -> F.Column:
        return sign_bits(lo, PLANES_PER_BAND)

    nrm = vecmath.vec_norm(DIM)(F.col("embedding"))
    bands = F.array(
        *[
            F.struct(F.lit(bi).alias("band"), band_of(bi * PLANES_PER_BAND).alias("bucket"))
            for bi in range(NEAR_DUP_BANDS)
        ]
    )
    base = emb.select(
        "vec_id", "label", "embedding", nrm.alias("nrm"),
        # salt_code: N_SALT_PLANES extra sign bits from the SAME
        # deterministic plane family (indices past the band planes),
        # computed once per vector BEFORE the band explode. Only
        # consulted when a bucket is oversized.
        sign_bits(n_band_planes, N_SALT_PLANES).alias("salt_code"),
        F.explode(bands).alias("bb"),
    ).select(
        "vec_id", "label", "embedding", "nrm", "salt_code",
        F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"),
    )

    # metadata pre-pass: one row per (label, band, bucket), consumed by
    # the broadcast join below (lazy — computed when the frame executes)
    counts = (
        base.groupBy("label", "band", "bucket")
        .agg(F.count("*").alias("bsz"))
        .withColumn(
            "nsplit",
            F.greatest(F.lit(1), F.ceil(F.col("bsz") / max_bucket)).cast("int"),
        )
    )
    # Locality-preserving split: ceil(log2(nsplit)) of the salt planes'
    # sign bits key the sub-bucket, so a pair at angle theta is separated
    # only when one of those planes falls between the two directions
    # (prob ~ bits * theta/pi — vanishing for near-dups, high for the
    # low-cosine bulk that makes the bucket oversized). Exact-direction
    # duplicates share every sign bit and can never be separated. Each
    # band reads a DISJOINT window of the salt code (band b uses bits
    # [b*W, b*W+lbits), W = N_SALT_PLANES/NEAR_DUP_BANDS = 12), so a
    # split miss in one band is independent of the other and the 2-band
    # OR-construction keeps working in the capped regime: P(pair fully
    # lost) ~ (bits*theta/pi)^2, not bits*theta/pi (shared low bits
    # would part the same pair in BOTH bands simultaneously). The window
    # is a FULL 12 bits per band — windowing must not shrink usable
    # split depth, or buckets > 2^window * max_bucket would spill into
    # the lossy direction-hash residual that the sign bits exist to
    # avoid (review finding, round 4).
    salt_window = N_SALT_PLANES // NEAR_DUP_BANDS
    staged = (
        base.join(F.broadcast(counts.select("label", "band", "bucket", "nsplit")),
                  ["label", "band", "bucket"])
        .withColumn(
            "lbits",
            F.least(F.ceil(F.log2("nsplit")), F.lit(salt_window)).cast("int"),
        )
        .withColumn(
            "lsalt",
            F.expr(
                f"(salt_code >> (band * {salt_window})) & (shiftleft(1, lbits) - 1)"
            ),
        )
    )
    # Residual fallback: a group the sign bits could NOT break (an
    # angularly tight cluster larger than max_bucket — every member on
    # the same side of every salt plane) is re-split by quantized-unit-
    # direction hash. This preserves the memory/candidate bound; the
    # recall loss it forces is inherent (any split of an n-clique keeps
    # ~1/nsplit of its pairs) and is confined to within-mega-cluster
    # pairs; connectivity across the split is restored by
    # _delegate_reconnect_pairs, so component structure survives intact.
    # Exact-direction duplicates still co-bucket (identical quantized
    # direction) — which is the one input the direction hash CANNOT
    # bound: N identical directions all hash to one residual slot no
    # matter how large rsplit is. A THIRD, row-uniform level (tsalt =
    # vec_id hash, below) restores the hard bound for exactly that case.
    #
    # All residual bookkeeping derives from ONE h-level count table
    # (counts_h), consumed ONCE: only rows of sign-bit-split buckets
    # (nsplit > 1) can exceed max_bucket after the lsalt split, so the
    # table is confined to that (usually empty) fraction. Its grain is
    # the distinct quantized direction — int rows only, never
    # embeddings. Both residual levels reduce to a single broadcast at
    # the (label, band, bucket, lsalt) grain carrying rsplit plus an
    # rsalt -> tsplit map, so the staging plan keeps the SAME corpus
    # scan count as the two-level design (an earlier draft broadcast
    # two tables whose subtrees each re-derived counts_h; the plan
    # audit caught the scan count doubling).
    #
    # Third level rationale: a residual slot exceeds max_bucket only
    # when identical (or hash-colliding) directions pile into it — the
    # case the direction hash CANNOT split — or by pmod variance;
    # tsalt = pmod(xxhash64(vec_id), tsplit) bounds it row-uniformly.
    # Recall inside such a group is the inherent ~1/tsplit of any
    # n-clique split, so the level engages only past a 2x SLACK: pmod
    # variance overflows sit just above the cap (a 2x group costs 4x
    # pairs — harmless to memory and candidates) and splitting them
    # would shed real near-dup pairs for nothing (measured at star_sf10:
    # 35 slots at <=1121 rows vs cap 1024 — all variance, no identical
    # directions), while the unboundable case (N identical directions,
    # N >> cap) blows past any constant slack and must split. The
    # delegate chain (ordered by (salt, tsalt)) re-merges split
    # sub-buckets for the resolution contract: identical-direction
    # delegates score cosine 1.0.
    from pyspark.sql import Window

    qdir = F.expr("transform(embedding, x -> round(CAST(x AS DOUBLE) / nrm, 3))")
    counts_h = (
        staged.filter(F.col("nsplit") > 1)
        .groupBy("label", "band", "bucket", "lsalt", F.xxhash64(qdir).alias("h"))
        .agg(F.count("*").alias("hn"))
    )
    wk = Window.partitionBy("label", "band", "bucket", "lsalt")
    splitmeta = (
        counts_h.withColumn("bsz2", F.sum("hn").over(wk))
        .withColumn(
            "rsplit",
            F.greatest(F.lit(1), F.ceil(F.col("bsz2") / max_bucket)).cast("int"),
        )
        .filter(F.col("rsplit") > 1)
        .withColumn("rsalt", F.pmod(F.col("h"), F.col("rsplit")))
        .groupBy("label", "band", "bucket", "lsalt", "rsplit", "bsz2", "rsalt")
        .agg(F.sum("hn").alias("bsz3"))
        .groupBy("label", "band", "bucket", "lsalt", "rsplit", "bsz2")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.when(
                        F.col("bsz3") > 2 * max_bucket,
                        F.struct(
                            F.col("rsalt"),
                            F.ceil(F.col("bsz3") / max_bucket)
                            .cast("int")
                            .alias("tsplit"),
                        ),
                    )
                )
            ).alias("tmap"),
            F.max("bsz3").alias("max_bsz3"),
        )
    )
    return (
        staged.join(
            F.broadcast(
                splitmeta.select("label", "band", "bucket", "lsalt", "rsplit", "tmap")
            ),
            ["label", "band", "bucket", "lsalt"],
            "left",
        )
        .withColumn("rsplit", F.coalesce("rsplit", F.lit(1)))
        .withColumn("rsalt", F.pmod(F.xxhash64(qdir), F.col("rsplit")))
        .withColumn(
            "tsplit",
            F.coalesce(F.element_at("tmap", F.col("rsalt")), F.lit(1)),
        )
        .withColumn(
            "salt",
            F.shiftleft(F.col("lsalt").cast("long"), 32).bitwiseOR(F.col("rsalt")),
        )
        .withColumn("tsalt", F.pmod(F.xxhash64("vec_id"), F.col("tsplit")))
        .withColumn("split", (F.col("nsplit") > 1) | (F.col("rsplit") > 1))
        .drop(
            "salt_code", "nsplit", "lbits", "lsalt", "rsalt", "rsplit",
            "tsplit", "tmap",
        )
    )


def embedding_dup_clusters(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.40,
    max_bucket: int = 1024,
    max_iter: int = 25,
) -> DataFrame:
    """Embedding near-dup RESOLUTION, fused: the verified pair stream of
    embedding_near_dup, before its distinct, feeds connected components
    directly and the operator returns (vec_id, canonical_id, is_canonical) — one row per
    vector that appears in at least one verified pair.

    Scale rationale (the sf10 profile that motivated this operator,
    BENCH/BASELINE.md): at the 100x tier the pair-LIST contract of
    embedding_near_dup is OUTPUT-bound — 191.6M distinct pairs at
    threshold 0.40, with gram scoring itself under 1 s of matmul. A
    training-data pipeline rarely wants that pair list; it wants the
    KEEP-SET, i.e. the components. Fusing buys two structural wins:

    1. No global pair `distinct` exchange — edges (band duplicates
       included) flow straight into connected_components, whose
       per-round min-label partial agg absorbs edge multiplicity at map
       side, and the job's output shrinks from O(|pairs|) (quadratic in
       cluster sizes) to O(|clustered vectors|) (linear in the corpus).
    2. IN-KERNEL STAR CONTRACTION
       (vecmath.gram_star_kernel): each bucket group runs a local CC
       over its definite pairs (raw cosine >= threshold + 1e-4, all of
       which provably pass the exact ROUND(x,4) >= threshold test) and
       emits O(group) member->root star edges instead of the O(group^2)
       pair list — the quadratic never leaves the kernel. Only the
       measure-~0 boundary sliver (|raw - threshold| < 1e-4) is emitted
       as raw pairs for the exact JVM-side round + threshold filter, so
       the global CC input has the exact pair set's transitive closure
       (per-group star contraction preserves components; see the kernel
       docstring for the margin proof).

    The per-round CC joins still shuffle the edge set, but star edges
    are O(vectors-per-bucket) rows of two longs — a vanishing fraction
    of the 191.6M-pair materialization plus its distinct exchange — and
    nothing quadratic ever reaches the JVM, the driver, or the sink."""
    pairs = _near_dup_cc_edges(spark, sf_dir, threshold, max_bucket)
    cc = connected_components(pairs, max_iter=max_iter)
    return cc.select(F.col("doc_id").alias("vec_id"), "canonical_id", "is_canonical")


def _near_dup_cc_edges(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.40,
    max_bucket: int = 1024,
) -> DataFrame:
    """The (doc_a, doc_b) edge stream embedding_dup_clusters feeds into
    connected_components, star-contracted in-kernel. Exposed separately
    so tools/dump_plans.py can audit the edge subplan (the CC loop's
    eager localCheckpoints hide it from the end plan)."""
    from . import vecmath
    from .similarity import DIM

    salted = _near_dup_candidates(spark, sf_dir, max_bucket)
    edges = salted.groupBy("label", "band", "bucket", "salt", "tsalt").applyInPandas(
        vecmath.gram_star_kernel(threshold, DIM),
        schema="id_a long, id_b long, kind int, cos double",
    )
    return (
        edges.filter((F.col("kind") == 0) | (F.round("cos", 4) >= threshold))
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .unionByName(
            # capped-bucket reconnection edges (empty when no bucket
            # splits — see _delegate_reconnect_pairs)
            _delegate_reconnect_pairs(salted, threshold).select(
                F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
            )
        )
    )


def resolve_duplicate_clusters(docs: DataFrame, threshold: float = 0.5, max_iter: int = 25) -> DataFrame:
    """Dedup RESOLUTION — the step after pair verification that a real
    training-data pipeline needs: connected components over the verified
    near-dup pair graph, canonical representative = min doc_id per
    component. Returns (doc_id, canonical_id, is_canonical) for every doc
    that appears in at least one verified pair; the keep-set of a corpus
    is then `is_canonical OR not clustered` (an anti-join away).

    Iterative min-label propagation with a driver-side convergence check:
    each round is one equi-join + one partial-agg min on the EDGE set
    only — never the corpus, and after LSH + jaccard verification the
    edge set is orders of magnitude smaller than the corpus. Near-dup
    components are near-cliques (every member shares most shingles), so
    the label frontier collapses in 2-3 rounds; adversarial chain graphs
    converge in O(log diameter) via the pointer-jump step in
    connected_components (small-star contraction), and non-convergence
    raises instead of returning partial labels. The per-round `.count()`
    pulls one scalar (distributed agg), not rows."""
    pairs = candidate_pairs_jaccard(docs, threshold).select("doc_a", "doc_b")
    return connected_components(pairs, max_iter=max_iter)


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Min-label connected components over an undirected (doc_a, doc_b)
    pair set; see resolve_duplicate_clusters for the scale rationale.

    Each round combines a one-hop neighbor-min with a POINTER JUMP
    (label := min(label, label[label]) — the small-star half of
    large-star/small-star CC): the propagation radius roughly doubles per
    round instead of growing by one, so a chain of diameter d converges in
    O(log d) rounds — max_iter=25 covers diameters beyond 2^25, i.e. any
    realizable near-dup graph (pinned by the 1,200-node chain pytest in
    tests/test_new_operators.py). The jump join is labels-with-labels on
    the label key: label values are always doc_ids present in the frame
    (initially label = doc_id; every later label is a min over such
    values), so the left join only misses when a label is already a root.
    If the round budget is somehow exhausted before convergence, raise —
    round 2 silently returned partially-propagated labels (ADVICE r2,
    medium).

    Each round's labels are pinned via localCheckpoint(eager=True), not
    persist(): checkpointing TRUNCATES LINEAGE, which an iterative
    self-referencing join loop requires — with persist() alone the
    logical plan doubles per round and Catalyst analysis time explodes
    long before the data does (the 1,200-node chain test hangs without
    it). It also fixes the r2 cached-partition leak: nothing stays
    persisted after return (edge sets are post-verification and orders of
    magnitude smaller than the corpus, so driver-local block storage is
    fine; the blocks are freed by the ContextCleaner once unreferenced).
    On a real cluster with a checkpoint dir configured, df.checkpoint()
    is the durable equivalent."""
    sym = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    labels = (
        sym.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        nbr = (
            sym.join(
                labels.select(F.col("doc_id").alias("doc_b"), F.col("label").alias("nbr_label")),
                "doc_b",
            )
            .groupBy("doc_a")
            .agg(F.min("nbr_label").alias("nbr_label"))
            .withColumnRenamed("doc_a", "doc_id")
        )
        stepped = labels.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        jump = stepped.select(F.col("doc_id").alias("label"), F.col("label").alias("jump_label"))
        new_labels = (
            stepped.join(jump, "label", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("jump_label", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.select("doc_id", F.col("label").alias("old_label")), "doc_id")
            .filter(F.col("label") != F.col("old_label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds "
            "(with pointer jumping that bounds graph diameter > 2^max_iter — "
            "not realizable; indicates a bug upstream)"
        )
    return labels.select(
        "doc_id",
        F.col("label").alias("canonical_id"),
        (F.col("doc_id") == F.col("label")).alias("is_canonical"),
    )


BENCH_MOD = 97  # docs with doc_id % 97 == 0 stand in for the eval set


def shingle_set_col():
    """Per-row DISTINCT 3-word shingle hash array, computed row-locally
    from a staged `toks` attribute (int32-md5 space shared with the
    minhash plane). Callers must stage `toks` behind a Generate barrier
    first (inline(array(struct(...)))) — referencing a tokenizer
    PROJECTION from inside the lambda lets CollapseProject re-run the
    regex per shingle (the measured 24x trap; see shingle_hashes_flat)."""
    idx = F.expr(
        "CASE WHEN size(toks) >= 3 THEN sequence(0, size(toks) - 3) "
        "ELSE CAST(array() AS array<int>) END"
    )
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", F.col("toks")[i], F.col("toks")[i + 1], F.col("toks")[i + 2]
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.conv(F.substring(F.md5(gram(i)), 1, 8), 16, 10).cast("long"))
    )


def contamination_scores(docs: DataFrame, bench_mod: int = BENCH_MOD) -> DataFrame:
    """Benchmark DECONTAMINATION — the check every training corpus runs
    before release: per-doc fraction of distinct 3-word shingles that
    also appear in the held-out benchmark set (here: docs with
    doc_id % bench_mod == 0 stand in for the eval suite; benchmark docs
    are excluded from the scored output). Docs with fewer than 3 tokens
    have no shingles and drop out, mirroring the minhash plane.

    Shape: the distinct shingle-hash set is computed ROW-LOCALLY (one
    tokenizer pass behind a Generate barrier, no corpus exchange), the
    benchmark side is tiny by construction and becomes a broadcast hash
    join against the exploded corpus shingles — a hash-set membership
    probe per shingle, which is exactly the decontamination architecture
    at 100 TB (swap the broadcast for a bloom filter when the eval set's
    distinct-shingle table outgrows executor memory) — and the final
    groupBy(doc_id) partial-aggregates to one row per doc per task
    before its (tiny) exchange."""
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
    base = docs.select("doc_id", F.inline(F.array(F.struct(toks.alias("toks"))))).select(
        "doc_id", shingle_set_col().alias("hv")
    )
    corpus = base.filter(F.col("doc_id") % bench_mod != 0).select(
        "doc_id", F.explode("hv").alias("h")
    )
    bench = (
        base.filter(F.col("doc_id") % bench_mod == 0)
        .select(F.explode("hv").alias("h"))
        .distinct()
        .withColumn("bhit", F.lit(1))
    )
    hits = corpus.join(F.broadcast(bench), "h", "left")
    return hits.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.coalesce("bhit", F.lit(0))).alias("n_hit"),
        F.round(
            F.sum(F.coalesce("bhit", F.lit(0))) / F.count("*"), 4
        ).alias("contamination"),
    )


SEG_TOKENS = 10        # segment = 10-token window (the fixture is
                       # single-line text, so fixed token windows stand in
                       # for CCNet's newline-delimited paragraphs)
SEG_DOC_THRESHOLD = 2  # segment seen in >= this many distinct docs -> boilerplate


def segment_boilerplate(
    docs: DataFrame,
    seg_tokens: int = SEG_TOKENS,
    doc_threshold: int = SEG_DOC_THRESHOLD,
) -> DataFrame:
    """CCNet-style paragraph-frequency dedup (Wenzek et al. 2019,
    public): segments that recur across >= doc_threshold distinct docs
    are boilerplate (cookie banners, nav text, planted duplicates) and
    are removed from every doc that contains them. Emits per doc:
    segment counts, boilerplate fraction, and the md5 of the cleaned
    text (NULL when every segment was boilerplate).

    Two-pass shape, the decontamination architecture inverted:
      1. corpus pass builds the frequent-segment table — segments are
         md5-hashed in the map stage so only (hash, doc_id) tuples cross
         the exchange for the distinct-doc count, never segment text;
         the above-threshold survivor set is tiny (bounded by how much
         text the corpus *shares*) and broadcasts;
      2. rewrite pass re-derives segments row-locally, probes the
         broadcast hash set, and regroups kept segments per doc. The
         doc_id regroup exchanges only KEPT segments — the same bytes
         the cleaned corpus must materialize anyway. At 100 TB, if even
         the frequent set outgrows memory, swap the broadcast for a
         bloom filter and accept its false-positive removal rate (the
         CCNet paper's own deployment choice)."""
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
    idx = F.expr(
        "CASE WHEN size(toks) > 0 THEN "
        f"sequence(0, CAST(ceil(size(toks) / {seg_tokens}.0) AS INT) - 1) "
        "ELSE CAST(array() AS array<int>) END"
    )
    segs = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.slice(F.col("toks"), i * seg_tokens + 1, seg_tokens)
        ),
    )
    seg_rows = (
        docs.select("doc_id", F.inline(F.array(F.struct(toks.alias("toks")))))
        .select("doc_id", F.posexplode(segs).alias("seg_idx", "seg"))
        .select("doc_id", "seg_idx", "seg", F.md5("seg").alias("h"))
    )
    frequent = (
        seg_rows.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("d"))
        .filter(F.col("d") >= doc_threshold)
        .select("h", F.lit(1).alias("common"))
    )
    flagged = seg_rows.join(F.broadcast(frequent), "h", "left")
    kept = F.array_sort(
        F.collect_list(
            F.when(
                F.col("common").isNull(),
                F.struct(F.col("seg_idx").alias("i"), F.col("seg").alias("s")),
            )
        )
    )
    clean = F.concat_ws(" ", F.transform(kept, lambda x: x["s"]))
    n_common = F.sum(F.coalesce("common", F.lit(0)))
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        n_common.alias("n_boilerplate"),
        F.round(n_common / F.count("*"), 4).alias("boilerplate_frac"),
        F.when(F.size(kept) > 0, F.md5(clean)).alias("clean_hash"),
    )


PASSAGE_K = 8          # duplicated-passage gram width (tokens)


def duplicate_passages(docs: DataFrame, k: int = PASSAGE_K, min_docs: int = 2) -> DataFrame:
    """Exact cross-document SUBSTRING dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", public):
    a k-token gram that appears verbatim in >= min_docs distinct docs
    marks a duplicated region; overlapping/adjacent duplicated grams are
    merged into maximal regions per doc. This is the passage-level
    complement to the doc-level minhash plane and the frequency-based
    segment plane: it finds the *byte ranges* shared across documents
    (licence blocks, quoted passages, planted truncated copies), not
    whole near-dup docs or globally frequent lines.

    Emits per doc (docs with >= k tokens): n_grams, n_dup_grams,
    n_dup_regions (maximal merged runs), dup_frac (fraction of the doc's
    tokens covered by the union of duplicated gram intervals).

    Shape — the suffix-array paper's semantics, re-expressed as two
    hash passes instead of a global sort (a distributed suffix array
    would be a full-corpus sort-shuffle; rolling grams need only):
      1. gram pass: tokens staged once behind a Generate barrier, gram
         start positions exploded, each gram md5-hashed in codegen —
         only (doc_id, pos, h) longs cross the exchange, never text;
      2. the cross-doc gram set (count_distinct(doc_id) >= min_docs) is
         bounded by how much text the corpus SHARES and broadcasts
         (bloom filter at 100 TB, same swap as the segment plane);
      3. region merge is ROW-LOCAL: per doc, sorted dup positions ->
         gap array -> region count (gaps > k start a new region) and
         interval-union coverage (first gram covers k tokens, each next
         adds min(gap, k)) — O(dup grams) per doc, no window shuffle
         beyond the one doc_id regroup.
    """
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
    base = docs.select(
        "doc_id", F.inline(F.array(F.struct(toks.alias("toks"))))
    ).filter(F.size("toks") >= k)
    grams = base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        "toks",
        F.explode(F.expr(f"sequence(0, size(toks) - {k})")).alias("pos"),
    ).select(
        "doc_id",
        "n_tokens",
        "pos",
        F.conv(
            F.substring(F.md5(F.array_join(F.expr(f"slice(toks, pos + 1, {k})"), " ")), 1, 8),
            16, 10,
        ).cast("long").alias("h"),
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("d"))
        .filter(F.col("d") >= min_docs)
        .select("h", F.lit(1).alias("dup"))
    )
    flagged = grams.join(F.broadcast(dup), "h", "left")
    agg = flagged.groupBy("doc_id").agg(
        F.first("n_tokens").alias("n_tokens"),
        F.count("*").alias("n_grams"),
        F.array_sort(
            F.collect_list(F.when(F.col("dup").isNotNull(), F.col("pos")))
        ).alias("ps"),
    )
    # gaps between consecutive sorted dup starts; sequence(1, 0) would be
    # DESCENDING, so the <2 guard lives inside the CASE
    gaps = F.expr(
        "CASE WHEN size(ps) >= 2 THEN transform(sequence(1, size(ps) - 1), j -> ps[j] - ps[j-1]) "
        "ELSE CAST(array() AS array<int>) END"
    )
    n_regions = F.when(F.size("ps") == 0, F.lit(0)).otherwise(
        F.lit(1) + F.size(F.filter(gaps, lambda g: g > F.lit(k)))
    )
    coverage = F.when(F.size("ps") == 0, F.lit(0)).otherwise(
        F.lit(k) + F.aggregate(gaps, F.lit(0), lambda acc, g: acc + F.least(g, F.lit(k)))
    )
    return agg.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.size("ps").cast("long").alias("n_dup_grams"),
        n_regions.cast("long").alias("n_dup_regions"),
        F.round(coverage / F.col("n_tokens"), 4).alias("dup_frac"),
    )


def duplicate_passage_rewrite(
    docs: DataFrame, k: int = PASSAGE_K, min_docs: int = 2
) -> DataFrame:
    """The CLEANED corpus for the passage plane — what duplicate_passages
    detects, this removes (Lee et al. keep-one-copy semantics): every
    cross-doc duplicated gram has an OWNER (the min doc_id containing
    it); the owner keeps its text, every other doc has the gram's token
    range cut out. Token ranges of removed grams are merged into maximal
    regions (equal-length intervals union ⟺ gap > k starts a new
    region) and the surviving tokens re-joined in order.

    Emits per doc (>= k tokens): n_tokens, n_removed (tokens cut),
    n_regions_removed, clean_hash = md5 of the space-joined kept tokens
    (NULL when everything was cut). The rewrite is TOKEN-space — the
    canonical form every downstream dedup consumer here uses.

    Same two-hash-pass shape as duplicate_passages; the broadcast side
    additionally carries the 1-long owner id. The cut itself is
    row-local: an aggregate over the sorted removed-gram starts builds
    the merged regions, a second aggregate walks the regions emitting
    the inter-region token slices — O(dup grams + kept tokens) per doc,
    no extra exchange beyond the one doc_id regroup."""
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
    base = docs.select(
        "doc_id", F.inline(F.array(F.struct(toks.alias("toks"))))
    ).filter(F.size("toks") >= k)
    grams = base.select(
        "doc_id",
        "toks",
        F.explode(F.expr(f"sequence(0, size(toks) - {k})")).alias("pos"),
    ).select(
        "doc_id",
        "toks",
        "pos",
        F.conv(
            F.substring(F.md5(F.array_join(F.expr(f"slice(toks, pos + 1, {k})"), " ")), 1, 8),
            16, 10,
        ).cast("long").alias("h"),
    )
    dup = (
        grams.select("doc_id", "h")
        .groupBy("h")
        .agg(F.count_distinct("doc_id").alias("d"), F.min("doc_id").alias("owner"))
        .filter(F.col("d") >= min_docs)
        .select("h", "owner")
    )
    flagged = grams.join(F.broadcast(dup), "h", "left")
    cut = (F.col("owner").isNotNull()) & (F.col("doc_id") != F.col("owner"))
    agg = flagged.groupBy("doc_id").agg(
        F.first("toks").alias("toks"),
        F.array_sort(F.collect_list(F.when(cut, F.col("pos")))).alias("ps"),
    )
    # merged removed regions: struct<s,e> intervals; equal-length grams
    # union exactly when the next start is within last.e + 1
    regions = F.expr(
        "aggregate(ps, CAST(array() AS array<struct<s:int,e:int>>), "
        "(acc, p) -> IF(size(acc) > 0 AND p <= element_at(acc, -1).e + 1, "
        f"  slice(acc, 1, size(acc) - 1) || array(named_struct('s', element_at(acc, -1).s, 'e', p + {k} - 1)), "
        f"  acc || array(named_struct('s', p, 'e', p + {k} - 1))))"
    )
    # walk the disjoint regions emitting inter-region slices; finish with
    # the tail slice after the last region
    kept = F.expr(
        "aggregate(regions, named_struct('cur', 0, 'parts', CAST(array() AS array<string>)), "
        "(st, r) -> named_struct('cur', r.e + 1, "
        "  'parts', st.parts || slice(toks, st.cur + 1, r.s - st.cur)), "
        "st -> st.parts || slice(toks, st.cur + 1, size(toks) - st.cur))"
    )
    staged = agg.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.inline(F.array(F.struct(regions.alias("regions"), F.col("toks").alias("toks")))),
    ).select(
        "doc_id",
        "n_tokens",
        F.expr("aggregate(regions, 0, (a, r) -> a + r.e - r.s + 1)").alias("n_removed"),
        F.size("regions").alias("n_regions_removed"),
        kept.alias("kept"),
    )
    return staged.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
        F.col("n_regions_removed").cast("long").alias("n_regions_removed"),
        F.when(F.size("kept") > 0, F.md5(F.array_join("kept", " "))).alias("clean_hash"),
    )


def keep_corpus(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """The deduplicated corpus: canonical cluster representatives plus all
    unclustered docs — what a training pipeline actually feeds downstream.
    One broadcast-able anti-join against the (tiny) non-canonical set;
    emits (doc_id, text_md5) so downstream checks stay narrow."""
    resolved = resolve_duplicate_clusters(docs, threshold)
    drop = resolved.filter(~F.col("is_canonical")).select("doc_id")
    return docs.join(F.broadcast(drop), "doc_id", "left_anti").select(
        "doc_id", F.md5("text").alias("text_md5")
    )


SPAN_BOILER_MIN_DOCS = 10


def span_boilerplate(spans_table: DataFrame, min_docs: int = SPAN_BOILER_MIN_DOCS) -> DataFrame:
    """Boilerplate detection on the SPAN model — the extraction plane's
    form of segment_boilerplate: a (kind, text) span payload recurring
    in >= min_docs distinct docs is boilerplate (page-number markers,
    repeated media refs, shared anchors — the fixture's pageno spans
    organically recur across ~30% of docs). Emits per doc: span counts,
    boilerplate fraction, and the md5 of the kept (kind:text) sequence
    in offset order (NULL when everything was boilerplate).

    Same two-pass shape as segment_boilerplate: the corpus pass ships
    only (hash, doc_id) pairs into the distinct-doc count, the
    above-threshold set is bounded by what the corpus SHARES and
    broadcasts back, and the rewrite regroups kept spans per doc —
    bloom-filter swap at 100 TB. Runs BEFORE the kernel so boilerplate
    never costs extraction time downstream."""
    flat = spans_table.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.offset").alias("off"),
    ).select(
        "doc_id", "kind", "text", "off",
        F.md5(F.concat_ws(":", "kind", "text")).alias("h"),
    )
    frequent = (
        flat.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h", F.lit(1).alias("common"))
    )
    flagged = flat.join(F.broadcast(frequent), "h", "left")
    kept = F.array_sort(
        F.collect_list(
            F.when(
                F.col("common").isNull(),
                F.struct(
                    F.col("off").alias("o"),
                    F.concat_ws(":", "kind", "text").alias("kt"),
                ),
            )
        )
    )
    n_common = F.sum(F.coalesce("common", F.lit(0)))
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        n_common.cast("long").alias("n_boilerplate"),
        F.round(n_common / F.count("*"), 4).alias("boilerplate_frac"),
        F.when(
            F.size(kept) > 0,
            F.md5(F.concat_ws("|", F.transform(kept, lambda x: x["kt"]))),
        ).alias("clean_hash"),
    )


BLOOM_M_BITS = 1 << 15   # 32,768-bit filter (512 int64 words)
BLOOM_K = 3              # hash functions (universal family rows 0..2)


def _bloom_positions(h_col, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K):
    """The k bit positions of shingle-hash h under the pinned universal
    family (mh_constants rows 0..k-1) — identical arithmetic in DuckDB,
    so the whole filter is cross-engine deterministic."""
    a, b = mh_constants(k)
    return [
        ((F.lit(a[i]) * h_col + F.lit(b[i])) % F.lit(MH_P)) % F.lit(m_bits)
        for i in range(k)
    ]


def contamination_scores_bloom(
    docs: DataFrame,
    bench_mod: int = BENCH_MOD,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Benchmark decontamination through a BLOOM FILTER — the scale path
    contamination_scores names for when the eval set's distinct-shingle
    table outgrows executor memory (CCNet's own deployment choice), made
    real instead of asserted: the benchmark shingles are folded into a
    32,768-bit / 3-hash filter (512 int64 words, bit_or partial-agg;
    only the 4 KB bitmap ever reaches the driver), and the corpus probe
    is a ROW-LOCAL bit test against the literal bitmap — no join, no
    broadcast table, no shuffle on the probe side at all.

    Emits per corpus doc: n_shingles, n_hit (exact, via the same
    broadcast join contamination_scores uses — the ground truth),
    n_hit_bloom, and fp_frac = (bloom - exact) / n_shingles. Bloom hits
    are a strict superset of exact hits by construction; with ~3k eval
    shingles the expected fp rate is (1 - e^(-k*n/m))^k ~ 1%. The
    deterministic md5/universal-hash construction means DuckDB rebuilds
    the identical bitmap, so even the false positives are exactly
    oracle-checked.

    NOTE: construction is EAGER — building the literal bitmap runs the
    benchmark-slice scan at call time (the k-means/BPE driver-loop
    pattern: tiny state reaches the driver, returns as literals). The
    benchmark shingle frame is localCheckpoint-ed so the bitmap build
    and the exact-hit ground-truth join share one tokenize pass."""
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
    base = docs.select("doc_id", F.inline(F.array(F.struct(toks.alias("toks"))))).select(
        "doc_id", shingle_set_col().alias("hv")
    )
    corpus = base.filter(F.col("doc_id") % bench_mod != 0).select(
        "doc_id", F.explode("hv").alias("h")
    )
    bench_h = (
        base.filter(F.col("doc_id") % bench_mod == 0)
        .select(F.explode("hv").alias("h"))
        .distinct()
        .localCheckpoint()  # one tokenize pass shared by bitmap + exact join
    )
    # build: k positions per benchmark shingle -> word/bit -> bit_or
    pos = bench_h.select(
        F.explode(F.array(*_bloom_positions(F.col("h"), m_bits, k))).alias("pos")
    )
    # 63 bits per word (bit index 0..62): bit 63 would be 1<<63, which
    # overflows DuckDB's checked int64 shift and goes negative in Spark —
    # cross-engine parity requires staying inside the sign bit
    words = (
        pos.groupBy((F.col("pos") / 63).cast("int").alias("word"))
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT)))").alias("bits"))
        .collect()
    )
    bitmap = [0] * ((m_bits + 62) // 63)
    for r in words:
        bitmap[r["word"]] = r["bits"]
    bm = F.lit(bitmap)

    # row-local probe: all k bits set -> bloom hit (pure SQL-expression
    # bit tests against the literal bitmap column; no join, no shuffle)
    a, b = mh_constants(k)
    tests = []
    for i in range(k):
        pexpr = f"(({a[i]} * h + {b[i]}) % {MH_P}) % {m_bits}"
        tests.append(
            f"((element_at(bm, CAST({pexpr} / 63 AS INT) + 1) "
            f">> CAST({pexpr} % 63 AS INT)) & 1) = 1"
        )
    bloom_hit = F.expr(" AND ".join(tests))
    exact = bench_h.withColumn("bhit", F.lit(1))
    flagged = (
        corpus.withColumn("bm", bm)
        .withColumn("bloom_hit", bloom_hit)
        .join(F.broadcast(exact), "h", "left")
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.coalesce("bhit", F.lit(0))).alias("n_hit"),
        F.sum(F.col("bloom_hit").cast("int")).alias("n_hit_bloom"),
        F.round(
            (F.sum(F.col("bloom_hit").cast("int")) - F.sum(F.coalesce("bhit", F.lit(0))))
            / F.count("*"),
            4,
        ).alias("fp_frac"),
    )


# accent-fold table for normalization-aware hashing (CCNet normalizes
# before hashing so case/diacritic/punctuation variants collapse);
# 1:1 single-char mapping -> Spark translate() == a replace() chain in
# DuckDB, order-independent. Unmapped non-ASCII falls to the punctuation
# strip (deleted), which is CCNet's behavior for stray symbols too.
ACCENT_SRC = "áàâäãéèêëíìîïóòôöõúùûüñç"
ACCENT_DST = "a" * 5 + "e" * 4 + "i" * 4 + "o" * 5 + "u" * 4 + "nc"
assert len(ACCENT_SRC) == len(ACCENT_DST)


def normalize_for_hash(text: F.Column) -> F.Column:
    """CCNet-style text normalization for dedup hashing: lowercase,
    accent-fold, strip everything but [a-z0-9 ], collapse whitespace,
    trim. A pure codegen'd expression — fuses into whatever pass already
    reads the text."""
    t = F.lower(text)
    t = F.translate(t, ACCENT_SRC, ACCENT_DST)
    t = F.regexp_replace(t, r"[^a-z0-9 ]", "")
    t = F.regexp_replace(t, r" +", " ")
    return F.trim(t)


def exact_dedup_normalized(docs: DataFrame) -> DataFrame:
    """Normalization-aware exact dedup: group on md5(normalize(text)).
    Alongside the group size, emit the count of DISTINCT RAW hashes in
    each group — every group with n_raw_hashes > 1 is a duplicate that
    raw exact_dedup provably misses (case/accent/whitespace/punctuation
    variants). Same single well-distributed hash-key shuffle as
    exact_dedup."""
    norm_hash = F.md5(normalize_for_hash(F.col("text")))
    return (
        docs.groupBy(norm_hash.alias("norm_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(F.md5("text")).alias("n_raw_hashes"),
            F.min("doc_id").alias("representative"),
        )
        .filter(F.col("n_docs") > 1)
    )


SEMDEDUP_EPS = 0.40  # matches the embedding near-dup threshold contract
SEMDEDUP_MIN_K = 8
SEMDEDUP_TARGET_CLUSTER = 64  # adaptive k = max(MIN_K, n // TARGET)


def semdedup(
    spark: SparkSession,
    sf_dir: str,
    n_clusters: int | None = None,
    iters: int = 2,
    eps: float = SEMDEDUP_EPS,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): semantic dedup by k-means
    clustering the embedding space and comparing pairs ONLY within a
    cluster — the cluster partition bounds the quadratic instead of an
    LSH band (the embedding_near_dup family). Per vector: its learned
    cluster, an is_dup verdict (EXISTS a same-cluster partner with LOWER
    vec_id and cosine >= eps — the deterministic keep-lowest-id rule,
    one survivor per epsilon-chain seed), and dup_of = the smallest such
    partner. The quantizer is the exact IVF quantizer
    (similarity.kmeans_fit: deterministic Lloyd, round-6 centroid
    contract), so the oracle replays it bit-identically.

    Scale shape: fit on a sample at 100 TB, assignment is one codegen map
    pass, and the pairwise stage is an equi-join on the learned cluster id
    — O(sum c_i^2) where the paper's own recipe bounds c_i by growing k
    with the corpus (k ~ n/1000). A runaway cluster (the label-clustered
    fixture pathology) is the same skew class embedding_near_dup
    bounds with max_bucket sign-bit splits; at production scale this
    operator composes with that splitter by clustering WITHIN the split
    buckets. Only (vec_id, cluster) longs and the flagged dup rows cross
    exchanges after scoring; the per-pair cosine never leaves its join
    task."""
    from .similarity import load_embeddings

    return semdedup_df(
        load_embeddings(spark, sf_dir), n_clusters=n_clusters, iters=iters, eps=eps
    )  # n_clusters=None -> adaptive k (see semdedup_df)


def semdedup_df(
    emb: DataFrame, n_clusters: int | None = None, iters: int = 2,
    eps: float = SEMDEDUP_EPS,
) -> DataFrame:
    """DataFrame-input form of semdedup (fit + assign + within-cluster
    pairwise verdicts); see semdedup for semantics and scale notes.

    n_clusters=None (the default for production callers) picks
    k = max(SEMDEDUP_MIN_K, n_vecs // SEMDEDUP_TARGET_CLUSTER) — the
    paper's own scale recipe applied deterministically, so the pairwise
    stage stays O(n * TARGET) instead of O(n^2 / k) with a frozen k (the
    sf10 dry-run pathology class). The count() this costs is one
    parquet-metadata job. The catalog entry pins n_clusters=8 on BOTH
    sides (the DuckDB oracle unrolls a frozen k=8). Large adaptive k
    stays cheap because the assignment is one NumPy argmin per Arrow
    batch (vecmath.assign_udf), not one SQL struct per centroid. The
    within-cluster pairs are scored with the SQL DOT/NORM fold, the
    expression the DuckDB oracle mirrors. Measured at the
    star_sf10 tier (200k vecs, 400x the oracle input, k = 3125): 28.7 s
    end-to-end on local[32] — the frozen-k form would have run ~3e9 pair
    cosines instead of ~n*TARGET."""
    from . import vecmath
    from .similarity import DOT, NORM, kmeans_fit

    if n_clusters is None:
        n_clusters = max(SEMDEDUP_MIN_K, emb.count() // SEMDEDUP_TARGET_CLUSTER)
    cents = kmeans_fit(emb, n_clusters=n_clusters, iters=iters)
    asg = emb.select(
        "vec_id", "embedding",
        vecmath.assign_udf(cents)(F.col("embedding")).cast("int").alias("cluster"),
    )
    a = asg.select(
        F.col("vec_id").alias("lo"), F.col("embedding").alias("ae"),
        F.col("cluster").alias("acl"),
    )
    b = asg.select(
        F.col("vec_id").alias("hi"), F.col("embedding").alias("be"),
        F.col("cluster").alias("bcl"),
    )
    cos = F.expr(
        f"{DOT.format(a='ae', b='be')} / ({NORM.format(a='ae')} * {NORM.format(a='be')})"
    )
    dup = (
        a.join(b, (F.col("acl") == F.col("bcl")) & (F.col("lo") < F.col("hi")))
        .select("hi", "lo", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= eps)
        .groupBy("hi")
        .agg(F.min("lo").alias("dup_of"))
    )
    return asg.join(dup, asg.vec_id == dup.hi, "left").select(
        "vec_id",
        "cluster",
        F.col("dup_of").isNotNull().alias("is_dup"),
        "dup_of",
    )


# containment plane constants — shared verbatim with the SQL oracle
CONTAIN_MAX_DF = 5                            # candidate shingles must be this rare
CONTAIN_THRESHOLD = 0.8                       # gate on max-side containment
CONTAIN_PLANT_EVERY = 10                      # every 10th doc plants an extract
CONTAIN_PLANT_CHARS = 240                     # extract = first 240 chars
CONTAIN_PLANT_OFFSET = (1 << 62) + (1 << 60)  # own block in the family tiling
                                              # (see PLANT_OFFSET contract:
                                              # disjoint for raw ids < 2^58)


def with_planted_contained(docs: DataFrame) -> DataFrame:
    """Append deterministic CONTAINED extracts: doc_id % 10 == 0 gets a
    twin holding only its first CONTAIN_PLANT_CHARS characters — the
    asymmetric-duplication fixture (a pull-quote / syndicated excerpt):
    the extract's shingle set is a subset of the source's, so its
    containment is ~1.0 while the pair's Jaccard is low (the source is
    much larger). Plant ids live in their own 2^62-block so they can
    never collide with real ids or the other plant families."""
    ext = docs.filter(F.col("doc_id") % CONTAIN_PLANT_EVERY == 0).select(
        (F.col("doc_id") + CONTAIN_PLANT_OFFSET).alias("doc_id"),
        F.expr(f"substr(text, 1, {CONTAIN_PLANT_CHARS})").alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(ext)


def containment_pairs(
    docs: DataFrame,
    max_df: int = CONTAIN_MAX_DF,
    threshold: float = CONTAIN_THRESHOLD,
) -> DataFrame:
    """Asymmetric near-dup via shingle containment — the case Jaccard
    (and therefore minhash-LSH, which approximates Jaccard) structurally
    misses: a short doc quoted wholly inside a much longer one has
    containment(short->long) ~ 1.0 but Jaccard ~ |short|/|long| ~ 0,
    so no Jaccard threshold catches it without drowning in noise.
    Per pair: exact |A n B| over the distinct hashed shingle sets, both
    directional containments |A n B|/|A| and |A n B|/|B|, and Jaccard for
    contrast; kept when the max-side containment >= threshold.

    Candidate generation is RARITY-gated instead of LSH-banded: pairs
    must share at least one shingle with document frequency <= max_df.
    That bounds the per-shingle join fan-out at max_df^2 (the exchange
    carries (h, doc_id) longs only) while keeping recall honest for
    containment: a contained passage missed by this gate would need
    EVERY one of its shingles to appear in > max_df docs — i.e. the
    passage is corpus-common boilerplate, which is segment_boilerplate's
    job, not dedup's. Verification attaches the per-doc hash-set arrays
    (the _minhash_hs_per_doc exchange, reused by ReuseExchange for both
    sides) to the DISTINCT candidate id pairs — same two-id-equi-join
    shape as candidate_pairs_jaccard's banded path; the corpus text
    never crosses an exchange."""
    flat = shingle_hashes_flat(docs).distinct()
    dfreq = flat.groupBy("h").agg(F.count("*").alias("df"))
    rare = flat.join(dfreq.filter(F.col("df") <= max_df), "h")
    cand = (
        rare.select(F.col("doc_id").alias("doc_a"), "h")
        .join(rare.select(F.col("doc_id").alias("doc_b"), "h"), "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    hset = flat.groupBy("doc_id").agg(F.sort_array(F.collect_set("h")).alias("hs"))
    a = hset.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    b = hset.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    n_common = F.size(F.array_intersect("hs_a", "hs_b"))
    n_a, n_b = F.size("hs_a"), F.size("hs_b")
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_common.cast("long").alias("n_common"),
            n_a.cast("long").alias("n_a"),
            n_b.cast("long").alias("n_b"),
            F.round(n_common / n_a, 4).alias("containment_a"),
            F.round(n_common / n_b, 4).alias("containment_b"),
            F.round(n_common / (n_a + n_b - n_common), 4).alias("jaccard"),
        )
    )
    return scored.filter(
        F.greatest("containment_a", "containment_b") >= threshold
    )
