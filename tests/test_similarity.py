"""Similarity search: exact brute-force top-k vs numpy oracle; LSH ANN
recall and re-rank correctness."""

from __future__ import annotations

import numpy as np
import pytest

from ocr_devnagari_spark.operators.similarity import (
    cosine_topk,
    knn_self_join,
    lsh_bucket_topk,
)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, m


def _brute_topk(ids, m, q, k):
    cos = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -np.round(cos, 6)))
    return [(int(ids[i]), round(float(cos[i]), 6)) for i in order[:k]]


def test_cosine_topk_exact(spark, emb, emb_np):
    ids, m = emb_np
    q = m[ids == 0][0]
    want = _brute_topk(ids, m, q, 10)
    got = [(r.vec_id, r.cosine) for r in cosine_topk(emb, q, 10).collect()]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert abs(g[1] - w[1]) < 1e-5


def test_lsh_topk_rerank_and_recall(spark, emb, emb_np):
    ids, m = emb_np
    q = m[ids == 7][0]
    got = lsh_bucket_topk(emb, q, k=10, n_planes=6).collect()
    assert 0 < len(got) <= 10
    # re-rank is exact cosine: every returned score matches brute force
    cos_all = dict(_brute_topk(ids, m, q, len(ids)))
    for r in got:
        assert abs(r.cosine - cos_all[r.vec_id]) < 1e-5
    # seeded planes → deterministic recall; require a sane floor
    want10 = {w[0] for w in _brute_topk(ids, m, q, 10)}
    recall = len(want10 & {r.vec_id for r in got}) / 10
    assert recall >= 0.3


def test_knn_self_join_pairs_valid(spark, emb, emb_np):
    ids, m = emb_np
    pairs = knn_self_join(emb, threshold=0.8, n_planes=6).collect()
    norm = m / np.linalg.norm(m, axis=1, keepdims=True)
    idx = {int(i): k for k, i in enumerate(ids)}
    for r in pairs:
        assert r.id_a < r.id_b
        true_cos = float(norm[idx[r.id_a]] @ norm[idx[r.id_b]])
        assert abs(r.cosine - true_cos) < 1e-5
        assert r.cosine >= 0.8


def _synthetic_emb(spark, n, dim=16, seed_col_mult=1):
    """Deterministic pseudo-random unit-ish vectors derived from vec_id
    hashes — no RNG state, reproducible across sessions/partitionings."""
    from pyspark.sql import functions as F
    e = spark.range(n).select(F.col("id").alias("vec_id"))
    dims = F.array(*[
        (F.pmod(F.xxhash64(F.col("vec_id") * seed_col_mult, F.lit(i)),
                F.lit(2001)) - 1000).cast("float") / 1000.0
        for i in range(dim)])
    return e.select("vec_id", dims.alias("embedding"))


def test_auto_planes_bound_bucket_population(spark):
    """derive_n_planes must keep expected (and observed max) bucket
    population bounded as the corpus grows 10× — the fixed-plane-count
    scale trap from round 1."""
    from pyspark.sql import functions as F

    from ocr_devnagari_spark.operators.similarity import (
        banded_buckets,
        derive_n_planes,
        hyperplanes,
    )

    target = 64
    sizes = (500, 5000)
    max_buckets = {}
    for n in sizes:
        emb = _synthetic_emb(spark, n)
        p = derive_n_planes(n, target_bucket_rows=target)
        planes = [hyperplanes(16, p, 42 + 7919 * b) for b in range(2)]
        bb = banded_buckets(emb, planes)
        top = (bb.groupBy("band_idx", "bucket").count()
               .agg(F.max("count")).first()[0])
        max_buckets[n] = top
    # 10× more rows must NOT mean 10× bigger buckets: plane growth keeps
    # the max-bucket population within a small factor of the target
    assert derive_n_planes(5000, target) > derive_n_planes(500, target)
    assert max_buckets[5000] < max_buckets[500] * 4
    assert max_buckets[5000] <= target * 16  # sign-bits skew, but bounded
    # and at 10^12 rows the derived count is sane (not 8, not 200)
    assert 25 <= derive_n_planes(10**12) <= 40


def test_knn_self_join_auto_planes_recall_unchanged(spark):
    """Planted exact clones must be recovered at ANY corpus scale with
    auto-derived planes (identical vectors share every band bucket)."""
    from pyspark.sql import functions as F

    for n in (300, 3000):
        emb = _synthetic_emb(spark, n)
        clones = (emb.filter(F.col("vec_id") % 100 == 7)
                  .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                          "embedding"))
        n_clones = clones.count()
        pairs = knn_self_join(emb.unionByName(clones), threshold=0.999,
                              target_bucket_rows=64)
        found = pairs.filter(F.col("id_b") >= 1_000_000).count()
        assert found >= n_clones       # every clone pair recovered


def test_ivf_topk_recall_and_exact_rerank(spark, emb, emb_np):
    """IVF: probed-cell candidates, exact cosine re-rank — every
    returned score equals brute force, recall has a sane floor, and
    nprobe=n_centroids degenerates to EXACT top-k."""
    from ocr_devnagari_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    ids, m = emb_np
    q = m[ids == 7][0]
    cents = kmeans_centroids(emb, k=8, iterations=3)
    got = ivf_topk(emb, q, k=10, nprobe=2, centroids=cents).collect()
    assert 0 < len(got) <= 10
    cos_all = dict(_brute_topk(ids, m, q, len(ids)))
    for r in got:
        assert abs(r.cosine - cos_all[r.vec_id]) < 1e-5
    want10 = {w[0] for w in _brute_topk(ids, m, q, 10)}
    recall = len(want10 & {r.vec_id for r in got}) / 10
    assert recall >= 0.3
    # full probe = exact
    full = [(r.vec_id, r.cosine)
            for r in ivf_topk(emb, q, k=10, nprobe=8,
                              centroids=cents).collect()]
    brute = _brute_topk(ids, m, q, 10)
    assert [f[0] for f in full] == [b[0] for b in brute]


def test_kmeans_centroids_deterministic_and_shaped(spark, emb):
    from ocr_devnagari_spark.operators.similarity import kmeans_centroids

    a = kmeans_centroids(emb, k=4, iterations=2)
    b = kmeans_centroids(emb, k=4, iterations=2)
    assert len(a) == 4 and len(a[0]) == 64
    # deterministic across runs up to float-sum noise in the JVM means
    import numpy as np
    assert np.allclose(np.array(a), np.array(b), atol=1e-9)


def test_zero_vector_gets_null_cosine(spark):
    """One all-zero embedding has no direction: its cosine is NULL, so it
    ranks last in every top-k, forms no k-NN pair and is kept by
    semdedup — instead of one row aborting the query with
    DIVIDE_BY_ZERO under ANSI mode."""
    from pyspark.sql import functions as F

    from ocr_devnagari_spark.operators.similarity import (
        hyperplanes,
        ivf_topk,
        semdedup,
    )

    # a and its near-clone lie on the negative side of the one seeded
    # plane, so all three rows share LSH bucket 0 with the zero vector
    # (whose every sign bit is 0) and the zero row meets every join
    a = [-x for x in hyperplanes(3, 1, 42)[0]]
    rows = [(0, [0.0, 0.0, 0.0]), (1, a), (2, a[:2] + [a[2] * 1.01])]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>").withColumn(
            "c", F.lit(0))

    want_ids = [1, 2, 0]
    for df in (cosine_topk(emb, a, k=3),
               lsh_bucket_topk(emb, a, k=3, n_planes=1),
               ivf_topk(emb, a, k=3, nprobe=2,
                        centroids=[[0.0, 0.0, 0.0], a])):
        got = df.collect()
        assert [r.vec_id for r in got] == want_ids
        assert got[-1].cosine is None
        assert all(r.cosine > 0.99 for r in got[:2])
    pairs = knn_self_join(emb, threshold=0.9, n_planes=1, bands=1)
    assert [(r.id_a, r.id_b) for r in pairs.collect()] == [(1, 2)]
    keep = {r.vec_id: r.keep
            for r in semdedup(emb, tau=0.9, cluster_col="c").collect()}
    assert keep == {0: True, 1: True, 2: False}
