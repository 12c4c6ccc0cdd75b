"""Arrow-batch vectorized vector math for the embedding plane: the one
scoring engine of the ANN, LSH, IVF, k-means and near-dup operators.

Spark's array higher-order functions (`aggregate`, `zip_with`,
`transform`) are CodegenFallback — every dot product runs as an
interpreted Catalyst expression tree, ~20-30 us per 64-dim pair. At the
sf10 dry run (BENCH/sf10.json) that interpreted constant was the shared
bottleneck of the whole embedding family: ann_bruteforce 516 s,
ann_ivf_nprobe2 245 s, kmeans assignment 86 s, multiprobe 85 s. This
module stacks each Arrow batch (or bucket group) into an (n, dim) NumPy
matrix and runs one BLAS/einsum call — same float64 math, 1-2 orders of
magnitude less per-row overhead. The interpreted fold and the per-pair
einsum join were kept for a while as A/B controls; their evidence stays
frozen in BENCH/ann_ab*.json (12-66x at sf10).

Every vector op takes its dimension from the geometry its caller holds
(similarity.DIM, the hyperplanes, the centroids, the query matrix): a
NULL row or a row of any other length is invalid, whatever Arrow batch
or bucket group it arrives in, and scores as NULL or pairs with nothing.

Cross-engine contract: results feed the same ROUND(x, 4) (cosine) /
round 6 (centroids) quantization that reconciles NumPy's summation
order with DuckDB's `list_dot_product` order in the oracles;
`tools/check_correctness.py` and tests/test_catalog_oracle_tail.py
re-verify every embedding catalog entry against its DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _mat_masked(s: pd.Series, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(M, valid): stack an Arrow batch of array<float> into an (n, dim)
    float64 matrix with a per-row validity mask. float32 -> float64
    widening matches the oracle's CAST(x AS DOUBLE) before any
    arithmetic. A NULL row or a row whose length is not `dim` is invalid
    and zero-filled; callers emit NULL for (or drop) those rows, where a
    bare np.stack would instead abort the whole task on one corrupt row.
    NULL *elements* inside a vector arrive as NaN from Arrow and stay NaN
    (they contaminate the result, as in the oracle's SQL fold). `dim` is
    the caller's declared geometry, so validity is a pure per-row
    function, independent of partitioning and batch boundaries. The
    all-valid fast path is one plain stack."""
    n = len(s)
    if n == 0:
        return np.zeros((0, dim), dtype=np.float64), np.zeros(0, dtype=bool)
    arr = s.to_numpy()
    try:
        M = np.stack(arr).astype(np.float64, copy=False)
        if M.shape[1] == dim:
            return M, np.ones(n, dtype=bool)
        # uniform batch of a foreign dim: every row invalid
        return np.zeros((n, dim), dtype=np.float64), np.zeros(n, dtype=bool)
    except (ValueError, TypeError):
        pass  # NULL row or ragged dims: guarded slow path below
    lens = np.array([-1 if v is None else len(v) for v in arr], dtype=np.int64)
    valid = lens == dim
    M = np.zeros((n, dim), dtype=np.float64)
    idx = np.flatnonzero(valid)
    if idx.size:
        M[idx] = np.stack(arr[idx]).astype(np.float64, copy=False)
    return M, valid


def _nan_where_invalid(vals: np.ndarray, valid: np.ndarray) -> pd.Series:
    """float64 result series with NaN on invalid rows. Spark's Arrow
    serializer (pa.Array.from_pandas) treats float NaN as the null
    sentinel, so these rows arrive as SQL NULL — including through the
    safe cast when the UDF's declared type is integral."""
    out = vals.astype(np.float64, copy=False)
    if not valid.all():
        out = out.copy()
        out[~valid] = np.nan
    return pd.Series(out)


def pair_dot(dim: int) -> "F.pandas_udf":
    """Factory: row-wise dot product of two array<float> columns of
    dimension `dim` (one einsum per Arrow batch) — the per-pair scoring
    of the near-dup delegate reconnect. A NULL row, or a row of any other
    length, on either side emits NULL, never a task abort."""

    @F.pandas_udf(T.DoubleType())
    def dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        Ma, va = _mat_masked(a, dim)
        Mb, vb = _mat_masked(b, dim)
        return _nan_where_invalid(np.einsum("ij,ij->i", Ma, Mb), va & vb)

    return dot


def vec_norm(dim: int) -> "F.pandas_udf":
    """Factory: row-wise L2 norm of an array<float> column of dimension
    `dim`. Computed once per row before any candidate join, never per
    pair. A NULL row, or a row of any other length, emits NULL."""

    @F.pandas_udf(T.DoubleType())
    def norm(a: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        M, valid = _mat_masked(a, dim)
        return _nan_where_invalid(np.sqrt(np.einsum("ij,ij->i", M, M)), valid)

    return norm


def plane_bits_udf(planes: list[list[float]]) -> "F.pandas_udf":
    """Factory: sign-bit bucket id against a fixed hyperplane set.
    bit i = 1 << i when embedding . planes[i] > 0 — the oracle's rule,
    one (n,dim)@(dim,k) matmul per Arrow batch instead of k interpreted
    folds per row. The plane matrix is captured in the closure and
    shipped once per task."""
    P = np.asarray(planes, dtype=np.float64).T  # (dim, k)
    weights = (1 << np.arange(P.shape[1], dtype=np.int64))

    @F.pandas_udf(T.IntegerType())
    def bits(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="int32")
        M, valid = _mat_masked(col, P.shape[0])  # pinned geometry dim
        signs = M @ P > 0  # (n, k) bool
        vals = (signs * weights).sum(axis=1).astype(np.int32)
        if valid.all():
            return pd.Series(vals)
        return _nan_where_invalid(vals, valid)  # NaN -> SQL NULL via safe cast

    return bits


def _dists_to(cents: np.ndarray, M: np.ndarray) -> np.ndarray:
    """(n, k) squared L2 distances — the expansion ||x||^2 - 2 x.c +
    ||c||^2 as one matmul, same formula as the kmeans oracle SQL."""
    x2 = np.einsum("ij,ij->i", M, M)[:, None]
    c2 = np.einsum("ij,ij->i", cents, cents)[None, :]
    return x2 - 2.0 * (M @ cents.T) + c2


def assign_udf(centroids: list[list[float]]) -> "F.pandas_udf":
    """Factory: argmin cluster id over literal centroids, ties broken by
    lowest cluster id — np.argmin takes the FIRST minimum, matching the
    oracle's (d, j) ordering."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.IntegerType())
    def assign(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="int32")
        M, valid = _mat_masked(col, C.shape[1])  # pinned geometry dim
        vals = np.argmin(_dists_to(C, M), axis=1).astype(np.int32)
        if valid.all():
            return pd.Series(vals)
        return _nan_where_invalid(vals, valid)

    return assign


# ---------------------------------------------------------------------------
# group top-k kernel (the ANN scorer)
#
# Per-PAIR scoring — join first, score each (query, cand) row — ships BOTH
# embeddings across the Arrow pipe once per pair: 2 x 64 x 4 B x |pairs|.
# At the sf10 brute force (2k queries x 200k corpus = 400M pairs) that is
# ~200 GB of transfer for 51 MB of distinct vectors; the measured per-pair
# run was transfer-bound (killed after 6 min; BENCH/ann_ab_sf10.json).
# The group kernel inverts the dataflow: the QUERY matrix rides the task
# binary's broadcast keyed by probe bucket, the CORPUS crosses the
# Arrow pipe exactly once, and each Arrow batch scores against its bucket's
# query matrix with one BLAS matmul. Per-batch top-k pruning means only
# O(|queries| x k) rows per batch return to the JVM.

# Keep-band for kernel-internal pruning, in RAW-cosine units. The final
# ranking key is round(raw, 4) computed JVM-side from the SAME raw float64
# the kernel emits, so rounding is a MONOTONE function of the kept values:
# if a dropped candidate A has k batch-mates with raw >= raw_A + 1.5e-4,
# each rounds to a strictly greater 1e-4 grid value (|round(x,4) - x| <=
# 5e-5), so A can never re-enter the final top-k on the (cosine DESC,
# cand_id ASC) window, whatever its id. Pruning by raw value + band
# therefore yields a guaranteed superset of the final top-k without
# replicating BigDecimal HALF_UP semantics in NumPy.
KEEP_BAND = 1.5e-4

# rows per matmul slice inside a batch: bounds the transient (slice, m)
# score matrix to slice_rows x |queries| x 8 B (32 MB at 2k queries)
SLICE_ROWS = 2048


# re-prune the partition accumulator whenever it exceeds this many kept
# triples, and always once at partition end — bounds both kernel memory
# and the rows returned to the JVM at ~|queries| x (k + band ties) per
# partition, independent of how many Arrow batches the partition has
ACC_CAP = 1_000_000


def per_query_topk(q: np.ndarray, c: np.ndarray, s: np.ndarray, k: int):
    """Vectorized per-query (top-k by RAW cosine + KEEP_BAND) over flat
    (query_id, cand_id, cos) triples — one lexsort, no Python per-query
    loop. Same superset guarantee as the per-slice prune."""
    order = np.lexsort((-s, q))
    q, c, s = q[order], c[order], s[order]
    starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
    sizes = np.diff(np.r_[starts, len(q)])
    grp_start = np.repeat(starts, sizes)
    rank = np.arange(len(q)) - grp_start
    kth_pos = np.minimum(starts + k - 1, starts + sizes - 1)
    kth = np.repeat(s[kth_pos], sizes)
    keep = (rank < k) | (s >= kth - KEEP_BAND)
    return q[keep], c[keep], s[keep]


def group_topk_kernel(groups, k: int, key_fn=None):
    """mapInPandas generator factory for broadcast-probe ANN top-k.

    groups: plain dict {bucket_key: (qids (m,) int64, Q (m, dim)
    float64, qn (m,) float64)} — queries grouped by the bucket they probe
    (a query probing p buckets appears in p groups; a candidate lives in
    exactly ONE bucket, so each (query, cand) pair is scored at most once).
    The dict is captured in the generator closure: Spark serializes the
    stage's task binary once and TorrentBroadcasts it (one transfer per
    executor, same wire profile as an explicit sc.broadcast) and the
    ContextCleaner reclaims it when the stage is GC'd — an explicit
    broadcast here would pin executor+driver memory until the session
    ends, since the lazy returned DataFrame gives no safe destroy point
    (this leaked ~MBs per call across bench loops before round 4).
    key_fn: (C (n, dim) float64, pdf) -> (n,) int64 bucket per corpus row;
    None = single bucket 0 (brute force). Emits (query_id, cand_id, cos)
    with cos the RAW float64 cosine. Pruning is two-level: per scored
    slice (everything within KEEP_BAND of the slice's k-th best raw
    cosine survives), then one per-partition per_query_topk pass at the
    end, so a partition returns ~|queries| x k rows to the JVM no matter
    how many Arrow batches it contains."""

    # the query matrices fix the geometry: corpus rows of any other dim
    # are invalid, whatever batch they arrive in
    dim = next(iter(groups.values()))[1].shape[1] if groups else 0

    def gen(batches):
        out_q: list[np.ndarray] = []
        out_c: list[np.ndarray] = []
        out_s: list[np.ndarray] = []
        n_acc = 0

        def prune_acc():
            nonlocal out_q, out_c, out_s, n_acc
            q, c, s = per_query_topk(
                np.concatenate(out_q), np.concatenate(out_c), np.concatenate(out_s), k
            )
            out_q, out_c, out_s = [q], [c], [s]
            n_acc = q.shape[0]

        for pdf in batches:
            if len(pdf) == 0 or not groups:
                continue
            cids = pdf["cand_id"].to_numpy().astype(np.int64, copy=False)
            C, cvalid = _mat_masked(pdf["embedding"], dim)
            if not cvalid.all():  # NULL/ragged corpus rows can never rank
                cids, C = cids[cvalid], C[cvalid]
                pdf = pdf.iloc[np.flatnonzero(cvalid)]
                if cids.shape[0] == 0:
                    continue
            cn = np.sqrt(np.einsum("ij,ij->i", C, C))
            keys = (
                key_fn(C, pdf)
                if key_fn is not None
                else np.zeros(len(pdf), dtype=np.int64)
            )
            for key in np.unique(keys):
                grp = groups.get(int(key))
                if grp is None:
                    continue
                qids, Q, qn = grp
                sel = np.nonzero(keys == key)[0]
                for lo in range(0, sel.shape[0], SLICE_ROWS):
                    idx = sel[lo : lo + SLICE_ROWS]
                    sc = C[idx] @ Q.T  # (nc, m)
                    sc /= np.outer(cn[idx], qn)
                    sc[cids[idx][:, None] == qids[None, :]] = -np.inf
                    nc = sc.shape[0]
                    if nc > k:
                        kth = np.partition(sc, nc - k, axis=0)[nc - k]
                        mask = sc >= (kth - KEEP_BAND)
                    else:
                        mask = sc > -np.inf
                    rows, cols = np.nonzero(mask)
                    out_c.append(cids[idx][rows])
                    out_q.append(qids[cols])
                    out_s.append(sc[rows, cols])
                    n_acc += rows.shape[0]
            if n_acc > ACC_CAP:
                prune_acc()
        if n_acc:
            prune_acc()
            yield pd.DataFrame(
                {"query_id": out_q[0], "cand_id": out_c[0], "cos": out_s[0]}
            )

    return gen


def gram_pairs_kernel(threshold: float, dim: int, margin: float = 1e-4):
    """applyInPandas factory for bucketed near-dup SELF-join scoring over
    vectors of dimension `dim`: one gram matmul per bucket group finds
    candidate (i, j) pairs with cosine >= threshold - margin, then the
    kept pairs' cosines are RECOMPUTED with the row-wise einsum — the
    exact reduction pair_dot uses — so the emitted value is bit-identical
    to pair_dot's (the delegate reconnect's scorer) regardless of BLAS
    blocking in the (group-size-dependent) gram matmul. The matmul is
    only the candidate FILTER; margin (1e-4) dwarfs any summation-order
    noise (~1e-15), so no true pair can be lost at the boundary. Each
    vector crosses Arrow once per bucket it belongs to — never per pair
    (a pair join ships 2 x dim floats per candidate pair, which is
    transfer-bound on quadratic bucket fan-outs at the 100x tier)."""

    def gram(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy().astype(np.int64, copy=False)
        if ids.shape[0] < 2:
            return pd.DataFrame(
                {
                    "id_a": np.array([], dtype=np.int64),
                    "id_b": np.array([], dtype=np.int64),
                    "cos": np.array([], dtype=np.float64),
                }
            )
        V, gvalid = _mat_masked(pdf["embedding"], dim)
        if not gvalid.all():  # NULL/ragged rows pair with nothing
            ids, V = ids[gvalid], V[gvalid]
            if ids.shape[0] < 2:
                return pd.DataFrame(
                    {
                        "id_a": np.array([], dtype=np.int64),
                        "id_b": np.array([], dtype=np.int64),
                        "cos": np.array([], dtype=np.float64),
                    }
                )
        nn = np.sqrt(np.einsum("ij,ij->i", V, V))
        G = (V @ V.T) / np.outer(nn, nn)
        i, j = np.triu_indices(ids.shape[0], k=1)
        keep = G[i, j] >= (threshold - margin)
        i, j = i[keep], j[keep]
        cos = np.einsum("ij,ij->i", V[i], V[j]) / (nn[i] * nn[j])
        ia, ib = ids[i], ids[j]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cos": cos,
            }
        )

    return gram


def _local_components(n: int, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Min-label connected components over group-local edges (i, j) —
    vectorized label propagation with pointer jumping (labels are index-
    valued, so labels[labels] is the jump), O(log diameter) rounds of
    C-speed np.minimum.at. Returns the (n,) local root index per row."""
    labels = np.arange(n, dtype=np.int64)
    while True:
        new = labels.copy()
        np.minimum.at(new, i, labels[j])
        np.minimum.at(new, j, labels[i])
        new = np.minimum(new, new[new])
        if np.array_equal(new, labels):
            return labels
        labels = new


def gram_star_kernel(threshold: float, dim: int, margin: float = 1e-4):
    """applyInPandas factory for FUSED near-dup resolution over vectors
    of dimension `dim`: per-group gram matmul -> in-kernel union-find ->
    O(group) star edges, instead of the O(group^2) pair list of
    gram_pairs_kernel.

    Emits two edge kinds:
    - kind=0 (star): (member, local-root) edges of the group's DEFINITE
      subgraph — pairs with raw cosine >= threshold + margin. Since
      |round(x,4) - x| <= 5e-5 < margin, every definite pair passes the
      exact JVM ROUND(x,4) >= threshold test, so star contraction of the
      definite subgraph preserves the exact edge set's transitive
      closure within the group (a star edge connects exactly the rows a
      definite path connects).
    - kind=1 (boundary): raw pairs with |cosine - threshold| < margin,
      einsum-recomputed like gram_pairs_kernel so the value is
      bit-identical to pair_dot; the CALLER applies the exact
      F.round(x, 4) >= threshold filter JVM-side. Boundary pairs are the
      measure-~0 sliver around the threshold, so their quadratic worst
      case never materializes in practice.
    Pairs with raw cosine < threshold - margin are provably rejected by
    the exact test and emit nothing. Global CC over (star UNION kept
    boundary) edges therefore equals CC over the exact pair list, while
    each group emits O(n + |boundary|) rows instead of O(n^2) — the fix
    for the output-bound near-dup profile at the 100x tier
    (BENCH/BASELINE.md: 191.6M pairs, scoring <1 s)."""

    def star(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": np.array([], dtype=np.int64),
                "id_b": np.array([], dtype=np.int64),
                "kind": np.array([], dtype=np.int32),
                "cos": np.array([], dtype=np.float64),
            }
        )
        ids = pdf["vec_id"].to_numpy().astype(np.int64, copy=False)
        n = ids.shape[0]
        if n < 2:
            return empty
        V, svalid = _mat_masked(pdf["embedding"], dim)
        if not svalid.all():  # NULL/ragged rows pair with nothing
            ids, V = ids[svalid], V[svalid]
            n = ids.shape[0]
            if n < 2:
                return empty
        nn = np.sqrt(np.einsum("ij,ij->i", V, V))
        G = (V @ V.T) / np.outer(nn, nn)
        iu, ju = np.triu_indices(n, k=1)
        g = G[iu, ju]
        definite = g >= (threshold + margin)
        boundary = np.abs(g - threshold) < margin
        frames = []
        if definite.any():
            di, dj = iu[definite], ju[definite]
            root = _local_components(n, di, dj)
            member = np.nonzero(root != np.arange(n))[0]
            ia, ib = ids[member], ids[root[member]]
            frames.append(
                pd.DataFrame(
                    {
                        "id_a": np.minimum(ia, ib),
                        "id_b": np.maximum(ia, ib),
                        "kind": np.int32(0),
                        "cos": np.float64(0.0),
                    }
                )
            )
        if boundary.any():
            bi, bj = iu[boundary], ju[boundary]
            cos = np.einsum("ij,ij->i", V[bi], V[bj]) / (nn[bi] * nn[bj])
            ia, ib = ids[bi], ids[bj]
            frames.append(
                pd.DataFrame(
                    {
                        "id_a": np.minimum(ia, ib),
                        "id_b": np.maximum(ia, ib),
                        "kind": np.int32(1),
                        "cos": cos,
                    }
                )
            )
        return pd.concat(frames, ignore_index=True) if frames else empty

    return star


def plane_bits_np(M: np.ndarray, planes: list[list[float]]) -> np.ndarray:
    """NumPy form of plane_bits_udf's sign rule (dot > 0 => bit), shared
    by the kernel key_fn and the driver-side query-probe computation so
    corpus and query buckets come from the identical code path."""
    P = np.asarray(planes, dtype=np.float64).T
    weights = 1 << np.arange(P.shape[1], dtype=np.int64)
    return ((M @ P > 0) * weights).sum(axis=1).astype(np.int64)


def probe_list_np(centroids: list[list[float]], M: np.ndarray, nprobe: int) -> np.ndarray:
    """(m, nprobe) nearest cluster ids, nearest first (stable argsort
    over distance == the oracle's (d, j) tie rule), computed driver-side
    on the collected query matrix."""
    C = np.asarray(centroids, dtype=np.float64)
    order = np.argsort(_dists_to(C, M), axis=1, kind="stable")
    return order[:, :nprobe].astype(np.int64)


def lsh_key_fn(planes: list[list[float]]):
    """Corpus bucket key_fn for group_topk_kernel: hyperplane sign bits."""

    def key(C: np.ndarray, pdf: pd.DataFrame) -> np.ndarray:
        return plane_bits_np(C, planes)

    return key


def assign_key_fn(centroids: list[list[float]]):
    """Corpus bucket key_fn: argmin-distance cluster id (first minimum on
    ties — the (d, j) contract of assign_udf)."""
    Cn = np.asarray(centroids, dtype=np.float64)

    def key(C: np.ndarray, pdf: pd.DataFrame) -> np.ndarray:
        return np.argmin(_dists_to(Cn, C), axis=1).astype(np.int64)

    return key


def column_key_fn(col: str):
    """Corpus bucket key_fn: a pre-existing integer column (IVF `label`)."""

    def key(C: np.ndarray, pdf: pd.DataFrame) -> np.ndarray:
        return pdf[col].to_numpy().astype(np.int64, copy=False)

    return key
