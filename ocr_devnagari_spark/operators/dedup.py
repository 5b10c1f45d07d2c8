"""Deduplication operators for a web-scale training-data pipeline.

Escalating strategies, all DataFrame-native:

- **exact**        — md5-fingerprint groupBy (one shuffle of (hash, id));
- **n-gram Jaccard** — token-shingle inverted index self-join (exact
  similarity, quadratic in bucket size — the verification primitive);
- **MinHash + LSH** — k minhashes → b bands → bucket join → candidate pairs
  verified by exact Jaccard (the 10^12-row path: shuffles only
  (band_hash, id) pairs, never documents);
- **SimHash**      — 64-bit sign-of-weighted-sum fingerprint; near-dup =
  Hamming ≤ d, found via the 4×16-bit pigeonhole chunk join (hamming ≤ 3
  ⇒ at least one chunk identical), so no O(n²) pass;
- **winnowing**    — char-k-gram window-min fingerprints (Schleimer et
  al. 2003): shared-span guarantee for partial overlap, plus the
  asymmetric containment measure for subset duplicates;
- **connected components** — transitive-closure canonicalization over
  any of the above pair graphs.

Scale notes: every join here moves only hashes and ids. Stop-shingles (a
shingle appearing in a huge fraction of docs) are the skew bomb in the
inverted-index join — ``max_df`` drops them, the standard trick from the
published MinHash-dedup literature (e.g. the C4/RefinedWeb pipelines).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..gates import materialize as _materialize

log = logging.getLogger(__name__)


def tokens_col(text_col: str = "text"):
    return F.split(F.trim(F.col(text_col)), r"\s+")


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             n: int = 3) -> DataFrame:
    """(id, shingle) — the distinct word n-grams per document; JVM-side
    only (split / sequence / transform / explode: no Python workers).

    Set semantics are what exact Jaccard needs; they cost a full shuffle
    of the exploded shingles."""
    toks = tokens_col(text_col)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array())
    out = df.select(F.col(id_col).alias("id"),
                    F.explode(grams).alias("shingle"))
    return out.distinct()


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5(text) → (fingerprint, n_docs, keep_id).
    ``keep_id`` = min id is the canonical representative."""
    return (df.groupBy(F.md5(F.col(text_col)).alias("fingerprint"))
            .agg(F.count("*").alias("n_docs"),
                 F.min(id_col).alias("keep_id"))
            .filter(F.col("n_docs") > 1))


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  threshold: float = 0.8,
                  max_df: int | None = 10_000) -> DataFrame:
    """Exact n-gram Jaccard over all pairs sharing ≥1 shingle.

    |A∩B| from the inverted-index self-join; |A|,|B| from per-doc counts;
    J = |A∩B| / (|A|+|B|−|A∩B|). ``max_df`` removes stop-shingles before
    the join — DEFAULT-ON (10k): one shingle appearing in f documents
    contributes f² join rows, so a single stop-shingle ("click here")
    makes the self-join quadratic in corpus size. The result is exact
    whenever no shingle exceeds ``max_df`` (always true below 10k docs);
    pass ``None`` only for a provably-small input.
    """
    sh = shingles(df, id_col, text_col, n)
    if max_df is not None:
        hot = (sh.groupBy("shingle").count()
               .filter(F.col("count") > max_df).select("shingle"))
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (a.join(b, "shingle")
              .filter(F.col("a.id") < F.col("b.id"))
              .groupBy(F.col("a.id").alias("id_a"),
                       F.col("b.id").alias("id_b"))
              .agg(F.count("*").alias("common")))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (common.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        F.round(F.col("common")
                                / (F.col("sz_a") + F.col("sz_b")
                                   - F.col("common")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 32,
                       n: int = 3) -> DataFrame:
    """k min-hashes per doc in ONE aggregation pass over exploded
    shingle hashes.

    Shingles never materialize as strings: each token hashes once
    (``transform(tokens, xxhash64)``), and the n-gram hash is
    ``xxhash64(h_i, …, h_{i+n-1})`` over the token-hash longs — building
    10M+ three-word concat strings per 50k docs just to hash them was
    the dominant signature cost. The k-member family then rehashes the
    shingle long with the family index (``xxhash64(h, i)``). One
    partial+final agg — map-side combine keeps the shuffle at k
    longs/doc.

    No ``distinct`` on the shingles: ``min`` is duplicate-insensitive, so
    set semantics are free here and skipping the distinct removes a full
    shuffle of the exploded shingle table (the largest intermediate in
    the whole plan).
    """
    toks = tokens_col(text_col)
    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("_th"))
    grams = F.when(
        F.size("_th") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("_th") - n),
            lambda i: F.xxhash64(*[F.element_at(F.col("_th"), i + j + 1)
                                   for j in range(n)])),
    ).otherwise(F.array().cast("array<bigint>"))
    sh = base.select("id", F.explode(grams).alias("h"))
    aggs = [F.min(F.xxhash64("h", F.lit(i))).alias(f"h{i}")
            for i in range(k)]
    return sh.groupBy("id").agg(*aggs)


def _lsh_buckets(sig: DataFrame, bands: int, rows: int,
                 max_bucket: int | None) -> DataFrame:
    """(band_idx, band_hash, ids) multi-occupant LSH band buckets, the
    shared primitive behind ``lsh_candidate_pairs`` and
    ``minhash_dedup``. MATERIALIZED (``_materialize``: reliable
    checkpoint on clusters) — every consumer otherwise re-runs the
    signature aggregation, the plan's dominant stage.

    ``max_bucket`` caps bucket size — DEFAULT-ON (5k). On a real crawl
    the cluster size that bounds a bucket is itself unbounded: 10M
    copies of an empty/template page collide on EVERY band, landing one
    10M-id array on a single executor row and 10^14 pair rows. The cap
    bounds per-task memory at ~max_bucket longs and pair fan-out at
    ~max_bucket²/2. Oversized buckets are DROPPED and surfaced (count
    via ``log``) — the same stop-shingle ``max_df`` discipline the rest
    of this module applies. HONEST LIMIT: a dropped bucket may hold a
    genuine NEAR-duplicate family larger than the cap (6k template
    pages differing only in a date), and those pairs are simply not
    found — exact dedup only removes the exactly-identical portion
    first. Raising ``max_bucket`` finds them at a cost that grows
    quadratically; ROADMAP direction 5 tracks how the drop is
    reported."""
    band_hashes = F.array(*[
        F.xxhash64(F.concat_ws(
            ",", *[F.col(f"h{b * rows + r}").cast("string")
                   for r in range(rows)]))
        for b in range(bands)])
    banded = sig.select(
        "id", F.posexplode(band_hashes).alias("band_idx", "band_hash"))
    grp = (banded.groupBy("band_idx", "band_hash")
           .agg(F.sort_array(F.collect_set("id")).alias("ids"))
           .filter(F.size("ids") > 1))
    if max_bucket is not None:
        # materialize ONLY on the capped path: the oversize count and
        # the downstream consumers then share checkpointed blocks, and
        # the checkpoint rows are ≤ max_bucket ids each. Uncapped, a
        # mega-bucket row has unbounded size — exactly what must not
        # land in a checkpoint — so the lazy table flows through and
        # callers decide what to truncate (minhash_dedup checkpoints
        # the PAIR set instead on that path).
        grp = _materialize(grp)
        n = grp.filter(F.size("ids") > max_bucket).count()
        if n:
            log.warning(
                "lsh_candidate_pairs: dropping %d band bucket(s) larger "
                "than max_bucket=%d — near-dup families this size are "
                "NOT found (see _lsh_buckets docstring); raise "
                "max_bucket or pre-apply exact dedup", n, max_bucket)
        grp = grp.filter(F.size("ids") <= max_bucket)
    return grp


def _expand_bucket_pairs(grp: DataFrame) -> DataFrame:
    """In-bucket pair expansion over a (materialized) bucket table."""
    return (grp.select(F.explode("ids").alias("id_a"), "ids")
            .select("id_a", F.explode("ids").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b")))


def lsh_candidate_pairs(sig: DataFrame, bands: int = 8,
                        rows: int = 4,
                        max_bucket: int | None = 5_000) -> DataFrame:
    """Band the signature (bands × rows = k) and emit candidate pairs
    from ONE aggregation per band bucket (groupBy → collect_set →
    in-bucket pair expansion), replacing the earlier bucket self-join —
    one shuffle of bands × (band_hash, id) rows instead of two scans of
    the banded table. Bucket capping and materialization:
    ``_lsh_buckets``. A pair that shares several bands is emitted once
    (the cross-band dedup is one shuffle of the pair set).
    """
    return _expand_bucket_pairs(_lsh_buckets(sig, bands, rows,
                                             max_bucket)).distinct()


def minhash_dedup(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", threshold: float = 0.8,
                  k: int = 32, bands: int = 8, rows: int = 4,
                  n: int = 3, verify: str = "exact",
                  verify_max_df: int | None = None,
                  max_bucket: int | None = 5_000) -> DataFrame:
    """Candidates from LSH, verified on candidate ids only (never
    all-pairs). Returns (id_a, id_b, jaccard) ≥ threshold.

    ``verify='exact'``   — re-shingle ONLY the candidate documents and
    compute exact Jaccard (the correctness-grade mode; cost ∝ candidate
    volume, not corpus size). EXACT means exact: ``verify_max_df`` is
    None by default (no stop-shingle cap inside the verification —
    candidates are already LSH-bounded, and the join cost here grows with
    true near-dup cluster size, which is what you asked to find). Set it
    to trade exactness for safety on adversarial candidate sets.
    ``verify='estimate'`` — Jaccard ≈ fraction of agreeing minhashes,
    computed from the signatures already in hand: zero further touches of
    the document table (the RefinedWeb/C4-style 100-TB mode — at that
    scale a second pass over the payload column is the dominant cost).
    """
    sig = minhash_signatures(df, id_col, text_col, k, n)
    # The bucket table is materialized inside ``_lsh_buckets`` (reliable
    # checkpoint on clusters), so every consumer below reads checkpointed
    # blocks instead of re-running the signature aggregation — the
    # plan's dominant stage. The in-bucket pair expansion is
    # deliberately run ONCE per verify mode: the candidate-id set comes
    # straight from the bucket membership (any id in a multi-occupant
    # bucket is in ≥1 pair), never from re-expanding pairs.
    grp = _lsh_buckets(sig, bands, rows, max_bucket)
    cand = _expand_bucket_pairs(grp)       # cross-band dupes possible
    if max_bucket is None:
        # uncapped: the bucket table deliberately stayed lazy (a
        # mega-bucket row must not land in a checkpoint), so truncate
        # lineage at the PAIR set instead for the multi-consumer plans
        cand = _materialize(cand)
    if verify == "estimate":
        cand = cand.distinct()
        sa = sig.select(F.col("id").alias("id_a"),
                        *[F.col(f"h{i}").alias(f"a{i}") for i in range(k)])
        sb = sig.select(F.col("id").alias("id_b"),
                        *[F.col(f"h{i}").alias(f"b{i}") for i in range(k)])
        agree = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
                    for i in range(k))
        return (cand.join(sa, "id_a").join(sb, "id_b")
                .withColumn("jaccard", F.round(agree / F.lit(k), 6))
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))
    if verify != "exact":
        raise ValueError(f"unknown verify mode {verify!r}")
    if max_bucket is not None:
        # capped: bucket membership IS the candidate-id set, read from
        # the checkpointed bucket table with no pair expansion
        ids = grp.select(F.explode("ids").alias(id_col)).distinct()
    else:
        ids = (cand.select(F.col("id_a").alias(id_col))
               .union(cand.select("id_b")).distinct())
    subset = df.join(ids, id_col, "left_semi")
    verified = jaccard_pairs(subset, id_col, text_col, n, threshold,
                             max_df=verify_max_df)
    return verified.join(cand, ["id_a", "id_b"], "left_semi")


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 25,
                         reliable: bool | None = None) -> DataFrame:
    """(id, component) over the near-dup pair graph; component = MIN id
    reachable — the transitive-closure canonicalization real dedup
    pipelines need (min-id-wins on raw pairs alone mislabels chains:
    (a,b),(b,c) without (a,c) leaves c pointing at b, which is itself
    dropped).

    Algorithm: min-label propagation + pointer jumping — each round every
    node takes min(own, neighbours') label, then labels jump through one
    indirection (comp ← label(comp)), so convergence is ~log2(diameter)
    rounds instead of diameter. Every shuffle carries only (id, label)
    longs.

    Iterative plans need LINEAGE TRUNCATION, not caching: persist +
    unpersist fails two ways (a short-circuiting action caches only the
    partitions it touches, and Spark's CacheManager cascade-invalidates
    dependent cache entries on unpersist — either way round k silently
    re-executes rounds 0..k-1, exponential blowup by round ~4). So each
    round's label table is checkpointed eagerly — the same discipline
    GraphX/GraphFrames use. The checkpointed state is only (id, label)
    longs, the algorithm's irreducible working set.

    Checkpoint RELIABILITY is ``gates.materialize``'s rule (override with
    ``reliable``): when ``sc.setCheckpointDir`` is configured, rounds use
    reliable checkpoints — blocks land on the shared store, so an
    executor loss mid-iteration recomputes nothing and kills nothing.
    ``localCheckpoint`` (the local-mode default) stores blocks on
    executors: non-recomputable lineage, one lost executor fails the job
    — fine on local[N], wrong on a 1000-executor cluster.
    """
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = _materialize(sym, reliable)
    labels = _materialize(sym.select(F.col("a").alias("id")).distinct()
                          .withColumn("component", F.col("id")), reliable)
    for _ in range(max_iter):
        nbr = (sym.join(labels.withColumnRenamed("id", "b"), "b")
               .select(F.col("a").alias("id"), "component"))
        prop = (labels.union(nbr)
                .groupBy("id")
                .agg(F.min("component").alias("component")))
        # pointer jump: component ← label(component) (a component value is
        # always itself a node id, so the self-join always hits)
        jump = prop.select(F.col("id").alias("component"),
                           F.col("component").alias("jumped"))
        new_labels = _materialize(
            prop.join(jump, "component")
            .select("id", F.least("component", "jumped").alias("component")),
            reliable)
        changed = (labels.withColumnRenamed("component", "old")
                   .join(new_labels, "id")
                   .filter(F.col("old") != F.col("component"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            break
    return labels


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 64


def simhash_fingerprints(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """64-bit SimHash (Charikar) over whitespace tokens — fully JVM-side.

    Token hash = ``xxhash64`` (the same family the MinHash path uses);
    the per-bit ±1 accumulation is 64 conditional sums in ONE
    partial+final aggregation over the exploded tokens, and the sign
    bits reassemble into the signature with shift/when arithmetic. The
    shuffle carries 64 longs per doc (map-side combine), whole-stage
    codegen keeps the whole thing off Python workers — the previous
    implementation looped hashlib per token inside a pandas UDF, the one
    remaining per-token Python hot loop in the engine.

    Duplicate tokens weight the accumulation by occurrence count (the
    standard construction); empty/whitespace-only docs yield signature 0
    via the left join-back. ``test_simhash_matches_bit_oracle`` pins the
    construction against an independent Python re-accumulation.
    """
    ids = df.select(F.col(id_col).alias("id"))
    toks = (df.select(F.col(id_col).alias("id"),
                      F.explode(tokens_col(text_col)).alias("tok"))
            .filter(F.col("tok") != "")
            .withColumn("h", F.xxhash64("tok")))
    sums = toks.groupBy("id").agg(*[
        F.sum(F.shiftrightunsigned(F.col("h"), i)
              .bitwiseAND(F.lit(1)).cast("long") * 2 - 1).alias(f"b{i}")
        for i in range(_SIMHASH_BITS)])
    sig = None
    for i in range(_SIMHASH_BITS):
        term = F.when(F.col(f"b{i}") > 0,
                      F.shiftleft(F.lit(1).cast("long"), i)) \
                .otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    signed = sums.select("id", sig.alias("simhash"))
    return (ids.join(signed, "id", "left")
            .select("id", F.coalesce("simhash", F.lit(0).cast("long"))
                    .alias("simhash")))


# ---------------------------------------------------------------------------
# Winnowing (Schleimer, Wilkerson, Aiken — SIGMOD 2003, public)
# ---------------------------------------------------------------------------

def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8,
                        window: int = 4) -> DataFrame:
    """(id, fingerprint) — winnowed char-k-gram fingerprints, all JVM.

    The classic local-fingerprinting guarantee: any shared substring of
    length ≥ k + window − 1 between two documents yields at least one
    SHARED selected fingerprint, while only ~2/(window+1) of gram hashes
    are kept — robust partial-overlap detection (quotes, boilerplate,
    plagiarized spans) that whole-document hashes miss and MinHash only
    approximates globally.

    Shape: normalize (lowercase, collapse whitespace) → char k-gram
    hashes via ``transform`` + ``xxhash64`` (no gram strings leave the
    row) → per-window minima via ``transform``/``slice``/``array_min``
    → ``array_distinct`` → explode. Shuffle-free; output is (id, long)
    pairs. Docs shorter than k get no fingerprints; docs with fewer than
    ``window`` grams keep the single global min (the paper's boundary
    rule).
    """
    t = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    n = F.length(t)
    grams = F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - k + 1),
                    lambda i: F.xxhash64(F.substring(t, i, F.lit(k)))),
    ).otherwise(F.array().cast("array<bigint>"))
    base = df.select(F.col(id_col).alias("id"), grams.alias("_g"))
    fps = (F.when(
        F.size("_g") >= window,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.size("_g") - window),
            lambda j: F.array_min(F.slice("_g", j + 1, window)))))
        .when(F.size("_g") > 0, F.array(F.array_min("_g")))
        .otherwise(F.array().cast("array<bigint>")))
    return base.select("id", F.explode(fps).alias("fingerprint"))


def _winnow_shared_counts(df: DataFrame, id_col: str, text_col: str,
                          k: int, window: int,
                          max_df: int | None) -> tuple[DataFrame, DataFrame]:
    """Shared plumbing for the two winnow consumers: fingerprint →
    materialize → ``max_df`` stop-fingerprint guard → inverted-index
    self-join → per-pair shared counts. Returns (shared_pairs, fp) where
    ``shared_pairs`` is (id_a, id_b, shared) and ``fp`` the guarded
    fingerprint table (for containment's per-doc sizes).

    The fingerprint table is consumed up to four times (max_df count +
    both self-join sides + sizes) and its char-gram lineage is ~30× a
    token-shingle pass, so it is materialized once via ``_materialize``
    (reliable checkpoint when a checkpoint dir is configured —
    fingerprints are ~2/(window+1) of gram volume; at extreme scale
    write them to a table instead, the ANN-index pattern). ``max_df``
    drops fingerprints shared by more than that many docs — boilerplate
    grams are the stop-shingle skew bomb here too. No ``.distinct()``:
    ``winnow_fingerprints`` is already per-doc distinct by
    construction."""
    fp = _materialize(winnow_fingerprints(df, id_col, text_col, k, window))
    if max_df is not None:
        hot = (fp.groupBy("fingerprint").count()
               .filter(F.col("count") > max_df).select("fingerprint"))
        fp = fp.join(hot, "fingerprint", "left_anti")
    a, b = fp.alias("a"), fp.alias("b")
    shared = (a.join(b, "fingerprint")
              .filter(F.col("a.id") < F.col("b.id"))
              .groupBy(F.col("a.id").alias("id_a"),
                       F.col("b.id").alias("id_b"))
              .agg(F.count("*").alias("shared")))
    return shared, fp


def winnow_similar_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", k: int = 8,
                         window: int = 4, min_shared: int = 2,
                         max_df: int | None = 10_000) -> DataFrame:
    """(id_a, id_b, shared) — pairs sharing ≥ ``min_shared`` winnowed
    fingerprints, via the inverted-index self-join (the same bucketed
    never-all-pairs shape as the other dedup joins); plumbing shared
    with ``winnow_containment`` in ``_winnow_shared_counts``."""
    shared, _ = _winnow_shared_counts(df, id_col, text_col, k, window,
                                      max_df)
    return shared.filter(F.col("shared") >= min_shared)


def winnow_containment(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 8,
                       window: int = 4, threshold: float = 0.5,
                       max_df: int | None = 10_000) -> DataFrame:
    """(id_a, id_b, containment_a, containment_b) — ASYMMETRIC overlap:
    ``containment_x`` = shared fingerprints / |fingerprints(x)| (the
    MOSS-style measure over winnowed fingerprints). Symmetric Jaccard
    misses a short document wholly quoted inside a long one (the union
    dwarfs the intersection); containment of the short side reads ~1.0
    there — exactly the boilerplate/quotation/subset-dup case a training
    pipeline wants to catch. Keeps pairs where EITHER side's containment
    ≥ ``threshold``; join shape and ``max_df`` skew guard shared with
    ``winnow_similar_pairs`` via ``_winnow_shared_counts``."""
    shared, fp = _winnow_shared_counts(df, id_col, text_col, k, window,
                                       max_df)
    sizes = fp.groupBy("id").agg(F.count("*").alias("n_fp"))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_fp").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_fp").alias("nb"))
    return (shared.join(sa, "id_a").join(sb, "id_b")
            .withColumn("containment_a",
                        F.round(F.col("shared") / F.col("na"), 6))
            .withColumn("containment_b",
                        F.round(F.col("shared") / F.col("nb"), 6))
            .filter(F.greatest("containment_a", "containment_b")
                    >= threshold)
            .select("id_a", "id_b", "containment_a", "containment_b"))
