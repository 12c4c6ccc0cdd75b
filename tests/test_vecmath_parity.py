"""Checks of the Arrow-batch NumPy kernels (vecmath.py) that score the
embedding family.

Every embedding catalog entry equals its DuckDB oracle row for row in
tests/test_catalog_oracle_tail.py::test_tail_oracle_exact; the tests
here pin what the oracle comparison cannot see: non-empty results on the
sf tables, cluster invariants, the (d, j) tie rule of the k-means
assignment and probe list, the round-4 tie rule of the top-k kernel,
NULL/ragged-row degradation, the pinned vector dimension, loud k-means
overflow, and the analytic cosine of a known pair.
"""

from __future__ import annotations

import math

import pytest

from docling_nlp_api_spark.operators import similarity as S


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "fn,kw",
    [
        (S.brute_force_topk, {}),
        (S.ivf_topk, {}),
        (S.lsh_bucket_histogram, {}),
        (S.lsh_multiprobe_topk, {}),
        (S.ivf_kmeans_topk, {"nprobe": 2}),
    ],
)
def test_scorers_agree_row_for_row(spark, sf_dir, fn, kw):
    """Each ANN/LSH operator emits rows on the sf tables (its rows equal
    the DuckDB oracle's in test_tail_oracle_exact)."""
    assert len(_rows(fn(spark, sf_dir, **kw))) > 0


def test_scorers_agree_embedding_near_dup(spark, sf_dir):
    """The gram-kernel near-dup pair list is non-empty on the sf tables
    (it equals the DuckDB oracle's in test_tail_oracle_exact)."""
    from docling_nlp_api_spark.operators.dedup import embedding_near_dup

    assert len(_rows(embedding_near_dup(spark, sf_dir))) > 0


def test_scorers_agree_embedding_dup_clusters(spark, sf_dir):
    """The fused pairs->CC operator: every planted dup (vec_id +
    PLANT_OFFSET) lands in its base vector's component, and labels obey
    the transitive-closure invariant (canonical_id is itself a member
    with is_canonical=True)."""
    from docling_nlp_api_spark.operators.dedup import (
        PLANT_OFFSET,
        VEC_PLANT_EVERY,
        embedding_dup_clusters,
    )

    rows = _rows(embedding_dup_clusters(spark, sf_dir))
    assert len(rows) > 0
    label = {vec_id: canon for vec_id, canon, _ in rows}
    canonical = {vec_id for vec_id, _, is_c in rows if is_c}
    # every canonical_id is a clustered member flagged canonical
    assert set(label.values()) <= canonical
    # every plant is a scaled copy of its base: same component, and the
    # base (smaller id) is the component minimum unless an even-nearer
    # neighbor absorbed both — either way they share one label
    plants = [(v - PLANT_OFFSET, v) for v in label if v >= PLANT_OFFSET]
    assert plants, "no planted dups clustered"
    for base, plant in plants:
        assert label.get(base) == label[plant]
    assert all(base % VEC_PLANT_EVERY == 0 for base, _ in plants)


def test_pair_dot_and_norm_analytic(spark):
    """Ground truth independent of the kernels: hand-computed cosine of
    two fixed vectors (dim 4 for brevity; the kernels take any pinned
    dim), rounded JVM-side the way _pair_cosine rounds it."""
    from pyspark.sql import functions as F

    from docling_nlp_api_spark.operators import vecmath

    a, b = [1.0, 2.0, 3.0, 4.0], [4.0, 3.0, 2.0, 1.0]
    df = (
        spark.createDataFrame([(a, b)], "a array<float>, b array<float>")
        .select(
            vecmath.pair_dot(4)(F.col("a"), F.col("b")).alias("dot"),
            vecmath.vec_norm(4)(F.col("a")).alias("na"),
            vecmath.vec_norm(4)(F.col("b")).alias("nb"),
        )
        .withColumn("cos4", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4))
    )
    r = df.first()
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    assert r["dot"] == pytest.approx(dot)
    assert r["na"] == pytest.approx(na)
    assert r["nb"] == pytest.approx(nb)
    assert r["cos4"] == round(dot / (na * nb), 4)


def test_plane_bits_analytic(spark):
    """Sign-bit bucket vs hand computation for two planes where the signs
    are unambiguous (|dot| >> 0)."""
    from pyspark.sql import functions as F

    from docling_nlp_api_spark.operators import vecmath

    planes = [[1.0, 0.0], [0.0, -1.0]]
    df = spark.createDataFrame(
        [([3.0, 5.0],), ([-3.0, -5.0],)], "v array<float>"
    ).select(vecmath.plane_bits_udf(planes)(F.col("v")).alias("bucket"))
    got = [r["bucket"] for r in df.collect()]
    # v0: dot(p0)=3>0 -> bit0; dot(p1)=-5<0 -> no bit1 => 1
    # v1: dot(p0)=-3<0; dot(p1)=5>0 -> bit1 => 2
    assert got == [1, 2]


def test_per_query_topk_numpy():
    """Pure-NumPy check of the partition-end prune: per query, top-k by
    raw cosine plus everything inside KEEP_BAND of the k-th best."""
    import numpy as np

    from docling_nlp_api_spark.operators import vecmath

    q = np.array([7, 7, 7, 7, 9, 9], dtype=np.int64)
    c = np.array([1, 2, 3, 4, 1, 2], dtype=np.int64)
    s = np.array([0.9, 0.5, 0.89995, 0.1, 0.3, 0.2])
    kq, kc, ks = vecmath.per_query_topk(q, c, s, k=1)
    got = sorted(zip(kq.tolist(), kc.tolist(), ks.tolist()))
    # query 7: top-1 = cand 1 (0.9); cand 3 (0.89995) is within KEEP_BAND
    # of the 1st-best so it must survive too; 0.5/0.1 pruned.
    # query 9: top-1 = cand 1 (0.3); 0.2 is 0.1 away -> pruned.
    assert got == [(7, 1, 0.9), (7, 3, 0.89995), (9, 1, 0.3)]


def test_kernel_band_keeps_round4_ties(spark):
    """Two candidates whose RAW cosines differ by < 1e-4 but round to the
    SAME 4-decimal value must BOTH survive kernel pruning (KEEP_BAND), so
    the JVM window can break the rounded tie by cand_id ASC — here the
    lower-id candidate has the (slightly) WORSE raw cosine and must still
    win rank 1. Also pins the self-pair mask (query 0 is in the corpus)."""
    import numpy as np

    from docling_nlp_api_spark.operators import similarity as sim

    # cos([1,0],[1,t]) = 1/sqrt(1+t^2); t=0.0135 -> 0.99990889...,
    # t=0.0130 -> 0.99991551... — both round to 0.9999, raw gap 6.6e-6.
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.0135]),  # lower id, worse raw, same round4
            (2, [1.0, 0.0130]),  # better raw
            (3, [0.0, 1.0]),  # far away
        ],
        "vec_id long, embedding array<float>",
    )
    Q = np.array([[1.0, 0.0]])
    groups = {0: (np.array([0]), Q, np.sqrt((Q * Q).sum(axis=1)))}
    got = {
        r["rk"]: (r["cand_id"], r["cosine"])
        for r in sim._kernel_topk(emb, 2, groups).collect()
    }
    assert got[1] == (1, 0.9999)  # id tiebreak on the rounded value
    assert got[2] == (2, 0.9999)
    assert len(got) == 2  # k=2: vec 3 pruned, query 0 never self-matched


def test_assign_and_probe_tie_rule(spark):
    """A vector EXACTLY equidistant from two centroids must pick the
    lower cluster id, in the k-means assignment (assign_udf), the IVF
    corpus key (assign_key_fn) and the driver-side query probe list
    (probe_list_np): the (d, j) contract."""
    import numpy as np
    from pyspark.sql import functions as F

    from docling_nlp_api_spark.operators import vecmath

    cents = [[1.0, 0.0], [-1.0, 0.0], [0.0, 10.0]]
    df = spark.createDataFrame([([0.0, 0.0],)], "embedding array<float>")
    r = df.select(vecmath.assign_udf(cents)(F.col("embedding")).alias("cl")).first()
    assert r["cl"] == 0
    assert vecmath.assign_key_fn(cents)(np.zeros((1, 2)), None).tolist() == [0]
    probes = vecmath.probe_list_np(cents, np.zeros((1, 2)), 2)
    assert probes.tolist() == [[0, 1]]


def test_null_and_ragged_rows_degrade_to_null(spark):
    """A NULL embedding row (or one with a foreign dim) must emit NULL
    from every Arrow-kernel vector op — the oracle's SQL NULL
    propagation — never abort the Python worker. Valid neighbors in the
    same Arrow batch keep their exact values (the guarded slow path
    zero-fills invalid rows without disturbing the rest)."""
    from pyspark.sql import functions as F

    from docling_nlp_api_spark.operators import vecmath

    rows = [
        (0, [3.0, 4.0]),
        (1, None),                    # NULL row
        (2, [1.0, 0.0, 0.0]),         # ragged: dim 3 in a dim-2 batch
        (3, [0.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<float>").coalesce(1)
    got = {
        r["vec_id"]: (r["n"], r["d"], r["b"])
        for r in df.select(
            "vec_id",
            vecmath.vec_norm(2)(F.col("v")).alias("n"),
            vecmath.pair_dot(2)(F.col("v"), F.col("v")).alias("d"),
            vecmath.plane_bits_udf([[1.0, 0.0], [0.0, -1.0]])(F.col("v")).alias("b"),
        ).collect()
    }
    assert got[0] == (pytest.approx(5.0), pytest.approx(25.0), 1)
    assert got[1] == (None, None, None)
    assert got[2] == (None, None, None)
    assert got[3] == (pytest.approx(2.0), pytest.approx(4.0), 0)

    cents = [[1.0, 0.0], [0.0, 1.0]]
    got2 = {
        r["vec_id"]: r["cl"]
        for r in df.select(
            "vec_id", vecmath.assign_udf(cents)(F.col("v")).alias("cl")
        ).collect()
    }
    assert got2 == {0: 1, 1: None, 2: None, 3: 1}


def test_vector_dim_is_pinned_not_batch_modal(spark):
    """Validity is a per-row function of the declared dimension: rows of
    a foreign dimension are NULL, and every row gets the same value
    whether the input is one partition (where the foreign dimension is
    the batch majority) or spread over several (where some batches hold
    only one dimension). A batch-modal dimension made the dim-2 rows
    NULL in the single batch and valid in batches of their own."""
    from pyspark.sql import functions as F

    from docling_nlp_api_spark.operators import vecmath

    rows = [(i, [1.0, float(i), 2.0]) for i in range(6)]  # dim 3: majority
    rows += [(10 + i, [3.0, float(i)]) for i in range(3)]  # dim 2: pinned

    def run(df):
        return {
            r["vec_id"]: (r["n"], r["d"], r["b"])
            for r in df.select(
                "vec_id",
                vecmath.vec_norm(2)(F.col("v")).alias("n"),
                vecmath.pair_dot(2)(F.col("v"), F.col("v")).alias("d"),
                vecmath.plane_bits_udf([[1.0, 0.0], [0.0, -1.0]])(F.col("v")).alias("b"),
            ).collect()
        }

    src = spark.createDataFrame(rows, "vec_id long, v array<float>")
    one = run(src.coalesce(1))
    spread = run(src.repartition(4, "vec_id"))
    assert one == spread
    assert all(one[i] == (None, None, None) for i in range(6))
    for i in range(3):
        n, d, b = one[10 + i]
        assert d == pytest.approx(9.0 + i * i)
        assert n == pytest.approx(math.sqrt(9.0 + i * i))
        assert b == 1  # 3 > 0 sets bit 0; -i <= 0 never sets bit 1


def test_kernel_tiers_skip_invalid_rows_end_to_end(spark):
    """The mapInPandas/applyInPandas kernels (group top-k, gram pairs)
    must DROP NULL/ragged corpus rows — they can never rank or pair —
    and still emit the exact results for the valid rows. Before the
    round-4 guard this aborted the whole task on one corrupt row."""
    import numpy as np
    import pandas as pd

    from docling_nlp_api_spark.operators import vecmath

    # gram kernel: 2 valid near-identical vectors + 1 NULL + 1 ragged
    pdf = pd.DataFrame(
        {
            "vec_id": np.array([1, 2, 3, 4], dtype=np.int64),
            "embedding": [
                np.array([1.0, 0.0]),
                np.array([1.0, 1e-5]),
                None,
                np.array([1.0, 0.0, 0.0]),
            ],
        }
    )
    out = vecmath.gram_pairs_kernel(0.9, 2)(pdf)
    assert list(out["id_a"]) == [1] and list(out["id_b"]) == [2]

    # group top-k kernel: NULL corpus row inside the only batch
    qids = np.array([100], dtype=np.int64)
    Q = np.array([[1.0, 0.0]])
    qn = np.array([1.0])
    cdf = pd.DataFrame(
        {
            "cand_id": np.array([1, 2, 3], dtype=np.int64),
            "embedding": [np.array([1.0, 0.0]), None, np.array([0.0, 1.0])],
        }
    )
    gen = vecmath.group_topk_kernel({0: (qids, Q, qn)}, k=5)
    frames = list(gen(iter([cdf])))
    assert len(frames) == 1
    got = sorted(zip(frames[0]["cand_id"], frames[0]["cos"]))
    assert [c for c, _ in got] == [1, 3]  # NULL cand 2 dropped, not fatal
    assert got[0][1] == pytest.approx(1.0)


def test_plant_offset_blocks_are_disjoint():
    """The five plant-id families tile [2^62, 2^63): each family block
    [offset, offset + 2^58) must be pairwise disjoint and collision-free
    against raw ids < 2^58 (the documented corpus-id bound — five
    decades above the 10^12-doc design point). Guards the exact aliasing
    class the round-4 2^62 migration eliminated."""
    from docling_nlp_api_spark.operators import dedup as D
    from docling_nlp_api_spark.operators import textquality as TQ

    bound = 1 << 58
    offsets = {
        "neardup": D.PLANT_OFFSET,
        "exact": D.EXACT_PLANT_OFFSET,
        "contain": D.CONTAIN_PLANT_OFFSET,
        "norm": TQ.NORM_PLANT_OFFSET,
        "mix": TQ.MIX_PLANT_OFFSET,
    }
    blocks = {k: (v, v + bound) for k, v in offsets.items()}
    names = list(blocks)
    for a in range(len(names)):
        for b in range(a + 1, len(names)):
            lo_a, hi_a = blocks[names[a]]
            lo_b, hi_b = blocks[names[b]]
            assert hi_a <= lo_b or hi_b <= lo_a, (names[a], names[b])
    for lo, hi in blocks.values():
        assert lo >= bound  # never collides with a raw id
        assert hi <= (1 << 63) - 1  # stays inside signed int64


def test_kmeans_fit_survives_ragged_row(spark):
    """kmeans_fit's assignment pass must apply the same validity gate as
    its init: a ragged (wrong-dim) vector previously assigned to a NULL
    cluster whose posexplode rows survived to the driver, and new[cl]
    raised TypeError on the None key — one corrupt row killed the fit
    and everything built on it (ivf_kmeans_topk, semdedup)."""
    rows = [(i, [float(i), float(i % 3)] + [0.0] * (S.DIM - 2)) for i in range(12)]
    rows.append((90, None))
    rows.append((91, [1.0, 2.0, 3.0]))  # ragged: dim 3, not DIM
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = S.kmeans_fit(emb, n_clusters=2, iters=2)
    clean = spark.createDataFrame(rows[:12], "vec_id long, embedding array<float>")
    assert cents == S.kmeans_fit(clean, n_clusters=2, iters=2)


@pytest.mark.parametrize(
    "component,n_rows",
    [
        (1.0e7, 1),  # one pico-unit value past 2^63: the cast overflows
        (5.0e6, 2),  # each value fits a long, their sum does not
    ],
)
def test_kmeans_fit_overflow_raises(spark, component, n_rows):
    """The fixed-point mean never wraps silently: a cluster whose
    pico-unit sum (v * 1e12 per component) exceeds 2^63 fails the fit.
    The session runs with ANSI mode on (the Spark 4 default), under
    which the long cast and the long SUM raise on overflow."""
    from pyspark.errors import ArithmeticException

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    rows = [(i, [component] * 2) for i in range(n_rows)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ArithmeticException, match="OVERFLOW"):
        S.kmeans_fit(emb, n_clusters=1, iters=1)
