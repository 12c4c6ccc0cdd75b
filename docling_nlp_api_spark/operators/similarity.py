"""Similarity search over the embeddings table (array<float>, dim=64) —
brute-force cosine top-k baseline + LSH/IVF scale paths (driver brief).

Scoring: one engine, the broadcast-probe group kernel
(vecmath.group_topk_kernel). The query matrix rides the kernel closure
keyed by probe bucket (brute force = one bucket; IVF = cluster id; LSH =
sign-bit bucket, with multi-probe fanning out the QUERY's key list
only); the corpus crosses the Arrow pipe exactly ONCE via mapInPandas,
each batch scores against its bucket's query matrix with one BLAS
matmul, and per-batch top-k pruning returns only O(|queries| x k) rows
to the JVM. No join, no shuffle before the final per-query rank window.
The interpreted SQL fold it replaced was 12-66x slower at sf10, and a
per-pair einsum join was transfer-bound there (BENCH/ann_ab*.json); the
DuckDB oracles in catalog.ORACLE are the independent reference.

The final shape: RAW cosines rounded JVM-side by F.round(x, 4) (the
quantization that reconciles summation order with the DuckDB oracle),
ranked by a per-query (cosine DESC, cand_id ASC) row_number window.
Kernel-internal pruning keeps everything within vecmath.KEEP_BAND of the
per-slice k-th best RAW cosine — a guaranteed superset of the final
top-k because rounding is monotone on the same raw values (proof note at
vecmath.KEEP_BAND). Hyperplanes for LSH are md5-derived literal
constants shared verbatim with the SQL oracle (catalog.py) so both
engines compute the same buckets.

Scale notes: brute-force is the per-query-exact baseline (the query
side must fit in a broadcast; shard the query set externally if it
doesn't). The LSH and IVF paths meet candidates on a bucket key through
the broadcast dict (zero corpus movement) — never a cross join."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import vecmath


DIM = 64
N_PLANES = 8


def _hexint(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def hyperplanes(n: int = N_PLANES, dim: int = DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]."""
    return [
        [((_hexint(f"{p}:{d}") % 2001) - 1000) / 1000.0 for d in range(dim)]
        for p in range(n)
    ]


# SQL forms of the dot product and L2 norm: dedup.semdedup_df scores its
# within-cluster pairs with them
DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
NORM = "sqrt(aggregate({a}, CAST(0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _collect_query_matrix(
    emb: DataFrame, query_mod: int, with_label: bool = False
):
    """Driver-side query set: (qids, Q (m, dim) float64, qn, labels).
    The query side must fit in a broadcast (shard queries externally if
    it doesn't). |queries| = |corpus| / query_mod by construction."""
    cols = ["vec_id", "embedding"] + (["label"] if with_label else [])
    pdf = (
        emb.filter(F.col("vec_id") % query_mod == 0)
        # a NULL/ragged query vector matches nothing (its oracle cosine
        # is NULL, which never passes a rank filter); dropping it here
        # keeps the driver-side np.stack from aborting on one bad row
        .filter(F.col("embedding").isNotNull() & (F.size("embedding") == DIM))
        .select(*cols)
        .toPandas()
    )
    qids = pdf["vec_id"].to_numpy().astype(np.int64)
    if len(pdf) == 0:
        Q = np.zeros((0, DIM), dtype=np.float64)
        qn = np.zeros((0,), dtype=np.float64)
    else:
        Q = np.stack(pdf["embedding"].to_numpy()).astype(np.float64, copy=False)
        qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    labels = pdf["label"].to_numpy().astype(np.int64) if with_label else None
    return qids, Q, qn, labels


def _probe_groups(qids, Q, qn, probes) -> dict:
    """Group queries by probed bucket: {key: (qids, Q, qn) submatrices}.
    probes is (m, p) int — the p bucket keys each query probes. A query
    appears once per probed key; candidates live in exactly one key, so
    no (query, cand) pair is ever scored twice."""
    by_key: dict[int, list[int]] = {}
    for j in range(len(qids)):
        for key in probes[j]:
            by_key.setdefault(int(key), []).append(j)
    return {
        key: (qids[idx], Q[idx], qn[idx])
        for key, idx in ((k, np.asarray(js)) for k, js in by_key.items())
    }


def _kernel_topk(emb: DataFrame, k: int, groups: dict, key_fn=None, corpus_extra=()) -> DataFrame:
    """Shared top-k tail: ship the probe groups in the kernel closure
    (Spark TorrentBroadcasts the stage's task binary — one transfer per
    executor, reclaimed by the ContextCleaner; an explicit sc.broadcast
    would pin memory for the session since the lazy return gives no
    destroy point), stream the corpus through group_topk_kernel ONCE (no
    join, no pre-rank shuffle), round JVM-side, and rank per query with
    the (cosine DESC, cand_id ASC) tie rule every ANN entry shares."""
    from pyspark.sql import Window

    src = emb.select(F.col("vec_id").alias("cand_id"), "embedding", *corpus_extra)
    raw = src.mapInPandas(
        vecmath.group_topk_kernel(groups, k, key_fn),
        schema="query_id long, cand_id long, cos double",
    )
    scored = raw.select("query_id", "cand_id", F.round("cos", 4).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def brute_force_topk(spark: SparkSession, sf_dir: str, k: int = 5, query_mod: int = 100) -> DataFrame:
    """Exact cosine top-k: queries (vec_id % query_mod == 0) vs the corpus.
    The small query side is broadcast; rank ties pinned by neighbor id."""
    emb = load_embeddings(spark, sf_dir)
    qids, Q, qn, _ = _collect_query_matrix(emb, query_mod)
    groups = {0: (qids, Q, qn)} if len(qids) else {}
    return _kernel_topk(emb, k, groups)


def lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 8 sign bits -> bucket id; bucket histogram.
    At scale, ANN = equi-join on bucket instead of a cross join."""
    emb = load_embeddings(spark, sf_dir)
    return (
        emb.select(vecmath.plane_bits_udf(hyperplanes())(F.col("embedding")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"))
    )


def ivf_topk(spark: SparkSession, sf_dir: str, k: int = 3, query_mod: int = 100) -> DataFrame:
    """IVF-style ANN: probe only the query's coarse cluster (`label`) —
    each corpus row is scored only against the queries of its own label."""
    emb = load_embeddings(spark, sf_dir)
    qids, Q, qn, labels = _collect_query_matrix(emb, query_mod, with_label=True)
    groups = _probe_groups(qids, Q, qn, labels[:, None]) if len(qids) else {}
    return _kernel_topk(
        emb, k, groups, key_fn=vecmath.column_key_fn("label"), corpus_extra=("label",)
    )


def kmeans_fit(emb: DataFrame, n_clusters: int = 8, iters: int = 2) -> list[list[float]]:
    """Deterministic Lloyd's k-means over the embedding column, the IVF
    coarse quantizer. Init = embeddings of the n_clusters smallest
    vec_ids; each iteration assigns with vecmath.assign_udf (one NumPy
    argmin per Arrow batch, ties to the lowest cluster id) and recomputes
    means with ONE posexplode aggregation (k x dim rows collected to the
    driver — the centroid table is tiny by construction, the corpus never
    leaves executors). Centroids are rounded to 6 decimals each
    iteration: that is the cross-engine contract that makes the quantizer
    bit-reproducible in the DuckDB oracle. The per-(cluster, dim) mean
    itself is an order-free fixed-point sum — each component quantizes to
    pico-unit BIGINT (ROUND(v * 1e12)) before SUMming — because a double
    AVG is summation-order-dependent and a mean within ~1 ulp of the
    6th-decimal boundary could round differently per partition layout and
    cascade through assignments (the sample_dsir_weights failure mode).
    1e12 scale holds |cluster| < ~9e6 vectors per int64 at unit-norm
    inputs. Past that the fit fails loudly, never wraps: under ANSI mode
    (spark.sql.ansi.enabled, on by default in Spark 4) both the cast of a
    pico-unit value and the long SUM raise an ArithmeticException on
    overflow. A 100 TB fit would drop to 1e9 quantization (same contract,
    coarser unit) or per-dim DECIMAL sums."""
    # one shared validity gate for init AND every assignment pass: a
    # NULL/ragged vector would assign to a NULL cluster whose posexplode
    # rows still emit, and the driver-side new[cl] would TypeError on the
    # None key — one corrupt row must never kill the fit (row-local
    # degradation contract; see _mat_masked). The corpus dim is not
    # assumed (callers fit on arbitrary-dim fixtures): it is read from
    # the first non-empty vector by vec_id order, the same determinism
    # rule as the init seeding.
    emb = emb.filter(F.col("embedding").isNotNull() & (F.size("embedding") > 0))
    probe = emb.orderBy("vec_id").select(F.size("embedding").alias("d")).limit(1).collect()
    if not probe:
        return []
    emb = emb.filter(F.size("embedding") == probe[0]["d"])
    first = (
        emb.orderBy("vec_id")
        .limit(n_clusters)
        .select("vec_id", "embedding")
        .collect()
    )
    cents = [[round(float(x), 6) for x in r["embedding"]] for r in first]
    for _ in range(iters):
        assigned = emb.select(
            vecmath.assign_udf(cents)(F.col("embedding")).alias("cl"), "embedding"
        )
        means = (
            assigned.select("cl", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cl", "pos")
            .agg(
                (
                    F.sum(F.round(F.col("v").cast("double") * F.lit(1e12)).cast("long"))
                    / (F.count(F.lit(1)) * F.lit(1e12))
                ).alias("m")
            )
            .collect()
        )
        new = [list(c) for c in cents]  # clusters that lost all members keep position
        by_cl: dict[int, dict[int, float]] = {}
        for r in means:
            by_cl.setdefault(r["cl"], {})[r["pos"]] = r["m"]
        for cl, dims in by_cl.items():
            new[cl] = [round(dims[p], 6) for p in range(len(dims))]
        cents = new
    return cents


def ivf_kmeans_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    n_clusters: int = 8,
    iters: int = 2,
    query_mod: int = 100,
    nprobe: int = 1,
) -> DataFrame:
    """IVF with a LEARNED coarse quantizer (vs ivf_topk's pre-existing
    label): fit k-means, assign corpus + queries, probe the query's
    ``nprobe`` nearest clusters, exact cosine rank inside the probed
    shards. A corpus row is scored only against the queries that probe
    its learned cluster — at 100 TB the quantizer fit runs on a sample
    and the assignment is one map pass; no stage touches more than the
    probed shards. nprobe>1 recovers boundary-query recall (see
    tests/test_new_operators.py::test_ivf_nprobe2_recovers_boundary_recall)
    at a linear-in-nprobe candidate cost — never a cross join."""
    return ivf_kmeans_topk_df(
        load_embeddings(spark, sf_dir), k=k, n_clusters=n_clusters, iters=iters,
        query_mod=query_mod, nprobe=nprobe,
    )


def ivf_kmeans_topk_df(
    emb: DataFrame,
    k: int = 3,
    n_clusters: int = 8,
    iters: int = 2,
    query_mod: int = 100,
    nprobe: int = 1,
) -> DataFrame:
    """DataFrame-input form of ivf_kmeans_topk (fit + assign + probe).

    Each query joins the probe group of each of its ``nprobe`` nearest
    clusters (a candidate lives in exactly one cluster, its argmin
    assignment, so (query_id, cand_id) pairs stay unique without a dedup
    pass)."""
    cents = kmeans_fit(emb, n_clusters=n_clusters, iters=iters)
    qids, Q, qn, _ = _collect_query_matrix(emb, query_mod)
    groups = (
        _probe_groups(qids, Q, qn, vecmath.probe_list_np(cents, Q, nprobe))
        if len(qids)
        else {}
    )
    return _kernel_topk(emb, k, groups, key_fn=vecmath.assign_key_fn(cents))


def lsh_multiprobe_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    query_mod: int = 100,
    probe_bits: int = N_PLANES,
) -> DataFrame:
    """Multi-probe hyperplane LSH top-k (Lv et al. 2007, public): each
    query probes its own bucket PLUS the probe_bits Hamming-1 neighbor
    buckets (flip one sign bit at a time) — the standard trick to recover
    recall lost to boundary queries without adding hash tables.
    probe_bits=0 degrades to exact-bucket LSH (the recall baseline the
    pytest compares against).

    Scale shape: the probe fan-out multiplies only the QUERY side
    (|queries| × (probe_bits+1) probe-group entries); each corpus row is
    scored only against the queries probing its own bucket — never a
    cross join — and each (query, cand) pair arises at most once because
    a vector lives in exactly one bucket and the probe list is distinct.
    Ranking is a per-query row_number window (per-query state, no global
    sort); round-4 cosine + cand_id tiebreak is the cross-engine contract
    shared with the other ANN entries."""
    emb = load_embeddings(spark, sf_dir)
    planes = hyperplanes()
    qids, Q, qn, _ = _collect_query_matrix(emb, query_mod)
    if len(qids):
        qb = vecmath.plane_bits_np(Q, planes)
        probes = np.stack(
            [qb] + [qb ^ (1 << p) for p in range(probe_bits)], axis=1
        )
        groups = _probe_groups(qids, Q, qn, probes)
    else:
        groups = {}
    return _kernel_topk(emb, k, groups, key_fn=vecmath.lsh_key_fn(planes))
