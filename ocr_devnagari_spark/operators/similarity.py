"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``   — brute-force exact top-k against one query vector.
  The arithmetic is higher-order functions (``zip_with`` + ``aggregate``),
  fully JVM-side; the top-k is ``orderBy(...).limit(k)``, which Spark plans
  as per-partition TakeOrdered + driver merge of k-element heaps — no full
  sort, no full shuffle. This is the correctness baseline.

- ``lsh_bucket_topk`` — the scale path: random-hyperplane (sign) LSH.
  Deterministic planes from ``seed``; the query probes its own bucket plus
  all Hamming-1 neighbours (multi-probe), exact cosine re-rank inside the
  candidate set. At 10^12 rows the bucket join touches a
  ~(1+p)·2^{-p} fraction of the table instead of all of it.

- ``knn_self_join`` — all-pairs k-NN within LSH buckets (embedding-cosine
  near-dup detection for training-data curation).
"""

from __future__ import annotations

import logging
import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..gates import materialize

log = logging.getLogger(__name__)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine of two ``array<double>`` columns. An all-zero vector has no
    direction, so its cosine is NULL (``try_divide``: under ANSI mode a
    plain ``/`` would abort the whole query on one such row). A NULL
    sorts last under ``desc``, fails every ``>=`` threshold and so forms
    no k-NN or SemDeDup pair: a zero row is never a neighbour and is
    always kept."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _query_lit(query_vec) -> Column:
    return F.array(*[F.lit(float(x)) for x in query_vec])


def cosine_topk(emb: DataFrame, query_vec, k: int = 10,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine similarity; deterministic tie-break on id.

    Ordering uses the EXACT cosine (rounding only the emitted value) so
    the k-boundary selection agrees with any exact-arithmetic oracle.
    """
    q = _query_lit(query_vec)
    v = F.col(vec_col).cast("array<double>")
    return (emb.select(F.col(id_col), cosine_col(v, q).alias("_cos"))
            .orderBy(F.desc("_cos"), F.col(id_col))
            .limit(k)
            .select(F.col(id_col), F.round("_cos", 6).alias("cosine")))


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------

def hyperplanes(dim: int, n_planes: int = 12, seed: int = 42) -> list:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)]
            for _ in range(n_planes)]


def derive_n_planes(n_rows: int, target_bucket_rows: int = 1024) -> int:
    """Plane count that bounds EXPECTED bucket population ≈
    ``target_bucket_rows``: 2^planes buckets for n_rows vectors. A fixed
    plane count is the scale trap — within-bucket candidate volume grows
    ∝ Σ bucket² ≈ n²/2^planes, so planes must grow with log2(n) for the
    join to stay linear-ish as the corpus grows 10-1000×."""
    buckets_needed = max(n_rows, 1) / max(target_bucket_rows, 1)
    return max(4, math.ceil(math.log2(max(buckets_needed, 2.0))))


def bucket_col(vec_col: Column, planes: list) -> Column:
    """Sign-bit bucket id: bit i set iff dot(v, plane_i) > 0."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = (_dot(vec_col, _query_lit(p)) > 0).cast("long")
        bucket = bucket + F.shiftleft(bit, i)
    return bucket


def _python_bucket(vec, planes) -> int:
    b = 0
    for i, p in enumerate(planes):
        if sum(x * y for x, y in zip(vec, p)) > 0:
            b |= 1 << i
    return b


def lsh_bucket_topk(emb: DataFrame, query_vec, k: int = 10,
                    n_planes: int | None = 12, seed: int = 42,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    target_bucket_rows: int = 1024) -> DataFrame:
    """ANN: restrict to the query's LSH bucket (+ Hamming-1 probes), then
    exact cosine re-rank. Bucket ids are computable at the parquet scan, so
    at scale a table stored PARTITIONED by ``bucket_col`` turns the probe
    into partition pruning — the scan reads ~(1+p)/2^p of the files.

    ``n_planes=None`` derives the plane count from the table size so the
    probed candidate set stays ≈ (1+planes)·``target_bucket_rows`` rows —
    an opt-in, NOT the default, because it costs a full ``count()`` per
    lookup; on the query path derive the count ONCE (``derive_n_planes``)
    and pass that constant here."""
    if n_planes is None:
        n_planes = derive_n_planes(emb.count(), target_bucket_rows)
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qb = _python_bucket(query_vec, planes)
    probes = [qb] + [qb ^ (1 << i) for i in range(n_planes)]
    v = F.col(vec_col).cast("array<double>")
    bucketed = emb.withColumn("bucket", bucket_col(v, planes))
    cand = bucketed.filter(F.col("bucket").isin(probes))
    q = _query_lit(query_vec)
    return (cand.select(F.col(id_col), cosine_col(v, q).alias("_cos"))
            .orderBy(F.desc("_cos"), F.col(id_col))
            .limit(k)
            .select(F.col(id_col), F.round("_cos", 6).alias("cosine")))


def kmeans_centroids(emb: DataFrame, k: int = 16, iterations: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> list:
    """Lloyd's k-means over the embedding table → k centroid vectors
    (plain Python lists, driver-side: k×dim floats — the model is tiny
    even at 10^12 rows; the DATA never leaves executors).

    Deterministic: init = the k lowest-``id_col`` vectors; assignment
    ties break toward the lowest centroid index (numpy argmin). Each
    iteration is ONE Arrow-batched assignment pass (centroids ride the
    UDF closure — broadcast-by-serialization) plus one JVM
    explode→groupBy(cluster, dim) mean; k·dim aggregate rows come back
    to the driver per iteration, never data rows. An empty cluster
    keeps its previous centroid (the standard fallback)."""
    init = (emb.orderBy(id_col).limit(k)
            .select(vec_col).collect())
    cents = [list(map(float, r[0])) for r in init]
    if not cents:
        raise ValueError("cannot cluster an empty embedding table")
    dim = len(cents[0])
    for _ in range(iterations):
        assigned = _assign_stage(emb, cents, id_col, vec_col)
        means = (assigned
                 .select("cluster", F.posexplode(
                     F.col(vec_col).cast("array<double>"))
                     .alias("dim", "v"))
                 .groupBy("cluster", "dim").agg(F.avg("v").alias("m"))
                 .collect())
        new = [list(c) for c in cents]          # empty-cluster fallback
        for r in means:
            new[r["cluster"]][r["dim"]] = r["m"]
        cents = new
    assert all(len(c) == dim for c in cents)
    return cents


def _assign_stage(emb: DataFrame, cents: list, id_col: str,
                  vec_col: str) -> DataFrame:
    """emb + ``cluster`` (nearest centroid by L2, lowest index wins) —
    one vectorized pandas pass, centroids in the closure."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    c = np.array(cents, dtype=np.float64)        # k × dim

    def nearest(vecs):
        m = np.array(vecs.tolist(), dtype=np.float64)       # n × dim
        # |x-c|² = |x|² - 2x·c + |c|²; |x|² is rank-constant → drop
        d = -2.0 * (m @ c.T) + (c * c).sum(axis=1)
        return pd.Series(np.argmin(d, axis=1).astype("int32"))

    # real annotation objects: the module's `from __future__ import
    # annotations` turns inline hints into strings pyspark can't
    # resolve against this local scope
    nearest.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    nearest_udf = pandas_udf(nearest, "int")
    return emb.withColumn("cluster", nearest_udf(F.col(vec_col)))


def ivf_topk(emb: DataFrame, query_vec, k: int = 10,
             n_centroids: int = 16, nprobe: int = 4,
             iterations: int = 5, id_col: str = "vec_id",
             vec_col: str = "embedding",
             centroids: list | None = None) -> DataFrame:
    """IVF approximate nearest-neighbour: k-means coarse quantizer →
    probe the ``nprobe`` centroids nearest the query → exact cosine
    re-rank inside the probed cells (the FAISS IVF-Flat construction,
    on DataFrames). Complements ``lsh_bucket_topk``: IVF adapts its
    partitioning to the data distribution where LSH planes are
    data-oblivious. At scale, train ``centroids`` ONCE and pass the list
    (the train cost amortizes over all queries), and materialize
    ``cluster`` as a partition column so a query prunes to
    nprobe/n_centroids of the files."""
    if centroids is None:
        centroids = kmeans_centroids(emb, n_centroids, iterations,
                                     id_col, vec_col)
    import numpy as np
    c = np.array(centroids, dtype=np.float64)
    q = np.array(list(map(float, query_vec)), dtype=np.float64)
    d = ((c - q) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d)[:nprobe]]
    assigned = _assign_stage(emb, centroids, id_col, vec_col)
    cand = assigned.filter(F.col("cluster").isin(probes))
    v = F.col(vec_col).cast("array<double>")
    return (cand.select(F.col(id_col),
                        cosine_col(v, _query_lit(query_vec))
                        .alias("_cos"))
            .orderBy(F.desc("_cos"), F.col(id_col))
            .limit(k)
            .select(F.col(id_col), F.round("_cos", 6).alias("cosine")))


def label_centroids(emb: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Per-label centroid via ``applyInPandas`` (group-wise Pandas, numpy
    mean per dimension) — the grouped-UDF counterpart of the ``mapInPandas``
    stages. Emitted EXPLODED as (label, dim, centroid) rows: plain columns
    survive any engine's value hashing, and downstream joins on (label, dim)
    stay columnar. One shuffle on the group key, numpy inside."""
    import numpy as np
    import pandas as pd

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        c = m.mean(axis=0)
        return pd.DataFrame({
            "label": pdf[label_col].iloc[0],
            "dim": np.arange(1, len(c) + 1, dtype=np.int32),
            "centroid": np.round(c, 6),
        })

    return emb.groupBy(label_col).applyInPandas(
        centroid, schema="label int, dim int, centroid double")


def banded_buckets(emb: DataFrame, planes_per_band: list,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """(id, v, band_idx, bucket): one sign-bit bucket per band. Separate
    bands = independent LSH tables — recall is 1−(1−p^r)^b instead of the
    single-table p^r, which collapses once r scales up with corpus size."""
    v = F.col(vec_col).cast("array<double>")
    barr = F.array(*[bucket_col(v, p) for p in planes_per_band])
    return emb.select(F.col(id_col).alias("id"), v.alias("v"),
                      F.posexplode(barr).alias("band_idx", "bucket"))


def knn_self_join(emb: DataFrame, threshold: float = 0.95,
                  n_planes: int | None = None, bands: int = 4,
                  seed: int = 42, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  target_bucket_rows: int = 1024) -> DataFrame:
    """Embedding-cosine near-dup pairs: all-pairs ONLY within LSH buckets
    (per-band bucket join ⇒ candidate volume ∝ bands · Σ bucket², not n²),
    exact cosine filter afterwards.

    ``n_planes`` (bits per band) defaults to ``derive_n_planes(count)``,
    so expected bucket population stays ≈ ``target_bucket_rows`` as the
    corpus grows — a FIXED plane count explodes quadratically at 10^12
    rows. ``bands`` independent hash tables keep recall up as the
    per-band bucket count grows (multi-band LSH, same construction as the
    MinHash path)."""
    # dim + count in ONE action (two separate driver actions would
    # recompute an uncached upstream plan twice)
    head = emb.agg(F.count(F.lit(1)).alias("n"),
                   F.first(F.size(vec_col)).alias("dim")).first()
    if not head["n"]:           # empty input → empty pairs, not a crash
        return emb.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double")
    if n_planes is None:
        n_planes = derive_n_planes(head["n"], target_bucket_rows)
    planes_per_band = [hyperplanes(head["dim"], n_planes, seed + 7919 * b)
                       for b in range(bands)]
    e = banded_buckets(emb, planes_per_band, id_col, vec_col)
    l, r = e.alias("l"), e.alias("r")
    return (l.join(r, ["band_idx", "bucket"])
            .filter(F.col("l.id") < F.col("r.id"))
            .select(F.col("l.id").alias("id_a"),
                    F.col("r.id").alias("id_b"),
                    F.round(cosine_col(F.col("l.v"), F.col("r.v")),
                            6).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
            .distinct())   # a pair may collide in several bands


SEMDEDUP_MAX_CLUSTER = 10_000


def semdedup(emb: DataFrame, tau: float = 0.8,
             id_col: str = "vec_id", vec_col: str = "embedding",
             cluster_col: str | None = None,
             n_centroids: int = 16, iterations: int = 5,
             centroids: list | None = None,
             max_cluster: int | None = SEMDEDUP_MAX_CLUSTER) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    embedding space, then drop near-duplicates WITHIN each cluster —
    pairwise cosine is computed only inside a cluster, so the quadratic
    is bounded by cluster size instead of corpus size (the paper scales
    k with the corpus to keep clusters workable; same discipline as the
    LSH bucket caps).

    Deterministic keeper rule (the exact-dedup lowest-id discipline): a
    row is DROPPED iff ANY lower-``id_col`` row in the same cluster has
    ``round(cosine, 6) >= tau`` with it — including lower-id rows that
    are themselves dropped.  NOTE this deletes MORE than a sequential
    greedy scan would on similarity chains (A~B, B~C, A≁C: a scan
    comparing only against kept rows keeps C; this rule drops it): one
    data-parallel self-join instead of an inherently sequential
    per-cluster peel, reproducible on any cluster size, and the
    conservative direction for dedup (never keeps something a scan
    would drop).

    ``cluster_col`` uses an existing column as the clustering (any
    precomputed partition — IVF cell, LSH bucket, label); rows whose
    cluster is NULL join nothing and are always kept.  Otherwise
    k-means (``kmeans_centroids``) assigns one, with ``centroids``
    accepted precomputed to amortize training over many calls.

    Returns ``(id_col, cluster, keep)`` for EVERY input row.  The
    within-cluster self-join shuffles on the cluster key — a skewed
    (mega-)cluster is AQE-splittable on the join; at 10^12 rows raise
    ``n_centroids`` so expected cluster size stays bounded, exactly as
    the paper prescribes.

    ``max_cluster`` ENFORCES that boundedness (the ``dedup.py``
    ``max_bucket`` discipline): a cluster larger than the cap — one
    degenerate centroid, or a hot ``cluster_col`` value — would make
    the self-join quadratic in ITS size no matter what AQE splits.
    Oversized clusters are excluded from the pair search (counted and
    logged; their rows all come back ``keep=True``).  HONEST LIMIT:
    semantic duplicates inside an excluded mega-cluster are not found —
    raise ``n_centroids`` (or pre-split the hot cluster) rather than
    the cap, which is exactly the paper's prescription.  ``None``
    disables the guard for provably-bounded clusterings."""
    if cluster_col is not None:
        assigned = emb.select(F.col(id_col),
                              F.col(cluster_col).alias("cluster"),
                              F.col(vec_col))
    else:
        if centroids is None:
            centroids = kmeans_centroids(emb, n_centroids, iterations,
                                         id_col, vec_col)
        assigned = _assign_stage(emb, centroids, id_col, vec_col).select(
            F.col(id_col), F.col("cluster"), F.col(vec_col))
    v = F.col(vec_col).cast("array<double>")
    e = assigned.select(F.col(id_col).alias("id"), "cluster",
                        v.alias("v"))
    joinable = e
    if max_cluster is not None:
        # one (cluster → size) aggregate (map-side partial: tiny
        # result), materialized so the oversize count and the semi
        # join below read checkpoint blocks instead of re-running the
        # assignment lineage
        sizes = materialize(e.groupBy("cluster")
                            .agg(F.count(F.lit(1)).alias("_csize")))
        n_over = sizes.filter(F.col("_csize") > max_cluster).count()
        if n_over:
            log.warning(
                "semdedup: excluding %d cluster(s) larger than "
                "max_cluster=%d from the pair search — semantic dups "
                "inside them are NOT found (see semdedup docstring); "
                "raise n_centroids or pre-split the hot cluster",
                n_over, max_cluster)
        small = sizes.filter(F.col("_csize") <= max_cluster) \
            .select("cluster")
        joinable = e.join(small, "cluster", "left_semi")
    l, r = joinable.alias("l"), joinable.alias("r")
    drops = (l.join(r, "cluster")
             .filter(F.col("l.id") < F.col("r.id"))
             .filter(F.round(cosine_col(F.col("l.v"), F.col("r.v")), 6)
                     >= tau)
             .select(F.col("r.id").alias("id"))
             .distinct())
    return (e.join(drops.withColumn("_d", F.lit(True)), on="id",
                   how="left")
            .select(F.col("id").alias(id_col), F.col("cluster"),
                    F.col("_d").isNull().alias("keep")))
