"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``   — brute-force exact top-k against one query vector.
  The arithmetic is higher-order functions (``zip_with`` + ``aggregate``),
  fully JVM-side; the top-k is ``orderBy(...).limit(k)``, which Spark plans
  as per-partition TakeOrdered + driver merge of k-element heaps — no full
  sort, no full shuffle. This is the correctness baseline.

- ``lsh_bucket_topk`` — the scale path: random-hyperplane (sign) LSH.
  Deterministic planes seeded per index; query probes its own bucket plus
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
    return _dot(a, b) / (_norm(a) * _norm(b))


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
    at scale you PARTITION the index table by bucket and this becomes
    partition pruning — the scan reads ~(1+p)/2^p of the files.

    ``n_planes=None`` derives the plane count from the table size so the
    probed candidate set stays ≈ (1+planes)·``target_bucket_rows`` rows —
    an opt-in, NOT the default, because it costs a full ``count()`` per
    lookup; on the query path size the index ONCE (``derive_n_planes``)
    when you build/partition it, and pass that constant here."""
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


def _hfs(spark, path: str):
    """(FileSystem, Path, jvm) for ``path`` via the Hadoop FileSystem
    API — the same storage layer Spark itself reads/writes through, so
    every pointer/marker operation below works identically on ``file://``,
    ``hdfs://`` and ``s3a://`` (a driver-local ``open()`` would break the
    moment ``index_dir`` is an object-store URI)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p, jvm


_COMMITS = "_commits"


def _list_commit_markers(fs, jvm, root) -> list:
    """Sorted marker names under ``index_dir/_commits`` (ascending —
    last is the committed version). Filtered to the ``<seq>-<version>``
    shape: the local Hadoop FS writes ``.crc`` checksum sidecars next to
    every file, which must be invisible to commit resolution and GC."""
    cdir = jvm.org.apache.hadoop.fs.Path(root, _COMMITS)
    if not fs.exists(cdir):
        return []
    names = (s.getPath().getName() for s in fs.listStatus(cdir))
    return sorted(n for n in names
                  if len(n) > 21 and n[:20].isdigit() and n[20] == "-")


def _commit_version(spark, index_dir: str, version: str,
                    keep_versions: int = 2) -> None:
    """THE atomic commit point: create a zero-byte marker
    ``_commits/<seq>-<version>``; the committed version is the
    highest-named marker. A marker is a brand-new object (never an
    overwrite or rename of a shared one), so the commit is atomic on
    POSIX create and S3 PUT alike — ``os.replace`` semantics, which the
    previous pointer-file design leaned on, don't exist on object
    stores. Two concurrent builds write distinct marker names (seq +
    uuid); name order picks the winner deterministically and the loser's
    version is GC'd as superseded.

    Superseded versions are RETAINED for ``keep_versions`` builds (an
    in-flight query that resolved the old marker keeps reading live
    files — the grace window) and garbage-collected lazily when their
    marker falls off the tail. A pre-marker ``_current`` pointer file
    (the round-3 layout) is folded in as marker seq 1 on first commit so
    its version joins the normal retention/GC lifecycle."""
    fs, root, jvm = _hfs(spark, index_dir)
    hpath = jvm.org.apache.hadoop.fs.Path

    def mk_marker(name: str) -> None:
        try:
            fs.create(hpath(root, f"{_COMMITS}/{name}"), False).close()
        except Exception:
            # two concurrent first-migration builds race on the
            # identical legacy seq-1 marker: losing the create is fine
            # exactly when the marker (same content) already exists
            if not fs.exists(hpath(root, f"{_COMMITS}/{name}")):
                raise

    markers = _list_commit_markers(fs, jvm, root)
    legacy_cp = hpath(root, "_current")
    if not markers and fs.exists(legacy_cp):
        stream = fs.open(legacy_cp)
        try:
            legacy = jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8").strip()
        finally:
            stream.close()
        if legacy and legacy != version:
            fs.mkdirs(hpath(root, _COMMITS))
            mk_marker(f"{1:020d}-{legacy}")
            markers = _list_commit_markers(fs, jvm, root)
    seq = int(markers[-1].split("-", 1)[0]) + 1 if markers else 1
    fs.mkdirs(hpath(root, _COMMITS))
    mk_marker(f"{seq:020d}-{version}")
    # retire the legacy pointer only AFTER markers exist — readers fall
    # back to it when the marker log is empty, so deleting it first
    # would open a no-committed-index window (worse for an
    # empty/corrupt pointer, which folds into no marker at all)
    if fs.exists(legacy_cp):
        fs.delete(legacy_cp, False)
    # lazy GC: markers older than the keep window → version dir + marker
    expired = _list_commit_markers(fs, jvm, root)[:-max(keep_versions, 1)]
    for name in expired:
        old = name.split("-", 1)[1]
        fs.delete(hpath(root, old), True)
        fs.delete(hpath(root, f"{_COMMITS}/{name}"), False)


def _index_version_dir(spark, index_dir: str) -> str:
    """Resolve the committed index version: newest ``_commits`` marker,
    falling back to the round-3 ``_current`` pointer file, then to the
    pre-versioned bare ``data/`` layout — all via the Hadoop FS API so
    resolution works on the same storage layer as the data."""
    fs, root, jvm = _hfs(spark, index_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    markers = _list_commit_markers(fs, jvm, root)
    if markers:
        return f"{index_dir.rstrip('/')}/{markers[-1].split('-', 1)[1]}"
    cp = hpath(root, "_current")
    if fs.exists(cp):
        stream = fs.open(cp)
        try:
            version = jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8").strip()
        finally:
            stream.close()
        return f"{index_dir.rstrip('/')}/{version}"
    if fs.exists(hpath(root, "data")):
        return index_dir
    raise FileNotFoundError(f"no committed ANN index in {index_dir}")


def build_ann_index(emb: DataFrame, index_dir: str,
                    n_planes: int | None = None, seed: int = 42,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    target_bucket_rows: int = 1024,
                    keep_versions: int = 2) -> dict:
    """Materialize the ANN index as a bucket-PARTITIONED parquet table —
    the scale path ``lsh_bucket_topk``'s docstring promises: bucket
    membership is computed ONCE at build time, so a query is partition
    pruning (the scan opens ~(1+planes)/2^planes of the files) instead of
    recomputing every row's bucket per lookup. Plane count derives from
    the table size at build time (one count, amortized over all queries);
    plane geometry is persisted alongside the data so queries replay the
    exact same hash family.

    The build is ATOMIC: data + meta land in a fresh ``v-<uuid>`` dir and
    become visible only when a ``_commits`` marker lands (see
    ``_commit_version`` — a new-object create via the Hadoop FS API, so
    the commit works on object stores where rename/replace isn't
    atomic). Writing data then meta in place could crash in between and
    leave NEW bucket assignments under OLD plane geometry — queries
    would silently probe the wrong buckets. A crashed build leaves only
    an invisible orphan dir; the previous version keeps serving.
    Superseded versions are retained for ``keep_versions`` builds (grace
    window for in-flight readers) then GC'd lazily."""
    import json
    import os
    import uuid

    head = emb.agg(F.count(F.lit(1)).alias("n"),
                   F.first(F.size(vec_col)).alias("dim")).first()
    if not head["n"]:
        raise ValueError("cannot index an empty embedding table")
    if n_planes is None:
        n_planes = derive_n_planes(head["n"], target_bucket_rows)
    planes = hyperplanes(head["dim"], n_planes, seed)
    v = F.col(vec_col).cast("array<double>")
    version = f"v-{uuid.uuid4().hex}"
    vdir = os.path.join(index_dir, version)
    (emb.select(F.col(id_col), F.col(vec_col),
                bucket_col(v, planes).alias("bucket"))
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(vdir, "data")))
    meta = {"dim": int(head["dim"]), "n_planes": int(n_planes),
            "seed": int(seed), "id_col": id_col, "vec_col": vec_col,
            "n_rows": int(head["n"])}
    # meta rides the SAME storage layer as the data (a one-row parquet
    # via Spark) — a driver-local open() would break the moment
    # index_dir is s3a://... while the parquet half succeeded
    (emb.sparkSession.createDataFrame(
        [(json.dumps(meta),)], "meta string")
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(vdir, "meta")))
    _commit_version(emb.sparkSession, index_dir, version, keep_versions)
    return meta


def ann_index_topk(spark, index_dir: str, query_vec,
                   k: int = 10) -> DataFrame:
    """Query a ``build_ann_index`` table: probe the query's bucket (+
    Hamming-1 neighbours), exact cosine re-rank inside the candidates.
    ``bucket`` is a hive partition column, so the probe filter is a
    PartitionFilter — non-probed files are never opened (asserted by
    ``test_ann_index_partition_pruning``).

    Pointer resolution retries once: if a build raced the EAGER meta
    read here, re-resolving lands on the freshly committed version.
    LIFETIME BOUNDARY (by design): the returned DataFrame reads the
    resolved version's data files lazily, so it must be consumed before
    ``keep_versions`` further builds retire that version — a held-open
    query older than the grace window fails (loudly, FileNotFound) at
    action time. Long-lived readers should raise ``keep_versions`` on
    the builder; time-based retention would need wall-clock state the
    commit log deliberately avoids."""
    import json
    import os

    vdir = _index_version_dir(spark, index_dir)
    try:
        meta = json.loads(
            spark.read.parquet(os.path.join(vdir, "meta"))
            .first()["meta"])
    except Exception:
        vdir = _index_version_dir(spark, index_dir)
        meta = json.loads(
            spark.read.parquet(os.path.join(vdir, "meta"))
            .first()["meta"])
    index_dir = vdir
    planes = hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
    qb = _python_bucket(query_vec, planes)
    probes = [qb] + [qb ^ (1 << i) for i in range(meta["n_planes"])]
    df = spark.read.parquet(os.path.join(index_dir, "data"))
    cand = df.filter(F.col("bucket").isin(probes))
    v = F.col(meta["vec_col"]).cast("array<double>")
    q = _query_lit(query_vec)
    return (cand.select(F.col(meta["id_col"]),
                        cosine_col(v, q).alias("_cos"))
            .orderBy(F.desc("_cos"), F.col(meta["id_col"]))
            .limit(k)
            .select(F.col(meta["id_col"]),
                    F.round("_cos", 6).alias("cosine")))


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
    import numpy as np

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
    data-oblivious. At scale, build ``centroids`` ONCE (pass the list —
    the train cost amortizes over all queries, the ``build_ann_index``
    discipline) and materialize ``cluster`` as a partition column so a
    query prunes to nprobe/n_centroids of the files."""
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
    accepted precomputed to amortize training (the ``build_ann_index``
    discipline).

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
