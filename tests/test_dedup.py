"""Dedup operators: exact, n-gram Jaccard, MinHash+LSH, SimHash — verified
against brute-force Python oracles on planted duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_devnagari_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
    shingles,
)


@pytest.fixture(scope="module")
def docs(spark):
    """documents sf0.001 + planted exact dups and near-dups."""
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").limit(120)
    rows = base.collect()
    planted = []
    for i, r in enumerate(rows[:6]):        # exact duplicates
        planted.append((10_000 + i, r.text))
    for i, r in enumerate(rows[6:12]):      # near-duplicates (1 token edit)
        toks = r.text.split()
        toks[len(toks) // 2] = "zzzmutated"
        planted.append((20_000 + i, " ".join(toks)))
    extra = spark.createDataFrame(planted, "doc_id long, text string")
    return base.union(extra).cache()


def _py_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        toks = t.split()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def test_exact_dedup(spark, docs):
    groups = exact_dedup_groups(docs).collect()
    assert len(groups) == 6
    for g in groups:
        assert g.n_docs == 2
        assert g.keep_id < 10_000


def test_shingles_jvm_side(spark, docs):
    sh = shingles(docs.limit(5))
    plan = sh._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    row = docs.limit(1).collect()[0]
    got = {r.shingle for r in sh.filter(F.col("id") == row.doc_id).collect()}
    toks = row.text.split()
    want = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    assert got == want


def test_jaccard_pairs_matches_bruteforce(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in jaccard_pairs(docs, threshold=0.5).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    ids = sorted(texts)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            j = _py_jaccard(texts[a], texts[b])
            if j >= 0.5:
                want[(a, b)] = round(j, 6)
    assert pairs == want
    assert len(want) >= 12          # exact dups + near dups all found


def test_minhash_lsh_finds_planted_dups(spark, docs):
    found = minhash_dedup(docs, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in found.collect()}
    # every planted exact dup and near-dup pair must be recovered
    texts = {r.doc_id: r.text for r in docs.collect()}
    for pid in range(10_000, 10_006):
        src = next(i for i in texts if i < 10_000
                   and texts[i] == texts[pid])
        assert (src, pid) in got
    n_near = sum(1 for (a, b) in got if b >= 20_000)
    assert n_near >= 5              # near-dups recovered (LSH is probabilistic
    #                                 but seeded → deterministic here)


def test_minhash_signatures_shape(spark, docs):
    sig = minhash_signatures(docs.limit(10), k=16)
    assert len(sig.columns) == 17
    assert sig.count() == 10
    cand = lsh_candidate_pairs(sig, bands=4, rows=4)
    assert cand.columns == ["id_a", "id_b"]


def test_simhash_matches_bit_oracle(spark, docs):
    """The JVM aggregation (explode → xxhash64 → 64 conditional sums →
    sign reassembly) must agree EXACTLY with an independent Python
    re-accumulation using the same per-token hashes."""
    from ocr_devnagari_spark.operators.dedup import (
        simhash_fingerprints,
        tokens_col,
    )

    sample = docs.limit(40)
    fps = {r.id: r.simhash
           for r in simhash_fingerprints(sample).collect()}
    tok_h = {r.tok: r.h for r in
             (sample.select(F.explode(tokens_col("text")).alias("tok"))
              .filter("tok != ''").distinct()
              .withColumn("h", F.xxhash64("tok")).collect())}
    checked = 0
    for r in sample.collect():
        acc = [0] * 64
        for tok in r.text.split():
            h = tok_h[tok] & 0xFFFFFFFFFFFFFFFF
            for i in range(64):
                acc[i] += 1 if (h >> i) & 1 else -1
        sig = 0
        for i in range(64):
            if acc[i] > 0:
                sig |= 1 << i
        if sig >= 1 << 63:
            sig -= 1 << 64                  # two's-complement long
        assert sig == fps[r.doc_id], r.doc_id
        checked += 1
    assert checked == 40


def test_simhash_stays_jvm_side(spark, docs):
    """No Python-worker node may appear in the simhash plan — the whole
    point of the aggregation rewrite."""
    from ocr_devnagari_spark.operators.dedup import simhash_fingerprints
    plan = (simhash_fingerprints(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "EvalPython" not in plan


def test_minhash_estimate_mode(spark, docs):
    """verify='estimate' (signature-agreement Jaccard, zero document
    re-reads) must recover every exact clone at ĵ=1.0 and agree with the
    exact mode within minhash sampling error on near-dups."""
    est = {(r.id_a, r.id_b): r.jaccard
           for r in minhash_dedup(docs, threshold=0.5,
                                  verify="estimate").collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    for pid in range(10_000, 10_006):
        src = next(i for i in texts if i < 10_000 and texts[i] == texts[pid])
        assert est.get((src, pid)) == 1.0
    # near-dup estimates sit near the true jaccard (k=32 → σ ≈ 0.08)
    for (a, b), j in est.items():
        if b >= 20_000:
            assert abs(j - _py_jaccard(texts[a], texts[b])) <= 0.25


def test_connected_components_transitive_closure(spark):
    """Chains (a,b),(b,c) without (a,c): only transitive closure labels
    the tail correctly — compared against a Python union-find oracle."""
    from ocr_devnagari_spark.operators.dedup import connected_components

    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (0, 50),
             (50, 51), (100, 101), (7, 8)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.component
           for r in connected_components(pairs).collect()}

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want
    # the chain tail 3 maps to 0, and 51 joins through the long edge
    assert got[3] == 0 and got[51] == 0 and got[12] == 10


def test_connected_components_empty(spark):
    from ocr_devnagari_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_connected_components_reliable_checkpoints(spark, tmp_path):
    """With a checkpoint dir configured the rounds use RELIABLE
    checkpoints (auto-detected): state lands on the shared store, so an
    executor loss mid-iteration is survivable at cluster scale — and the
    labels are identical to the localCheckpoint path."""
    from ocr_devnagari_spark.operators.dedup import connected_components

    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (4, 10)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = {r.id: r.component
            for r in connected_components(pairs, reliable=False).collect()}

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        got = {r.id: r.component
               for r in connected_components(pairs).collect()}
        assert got == want == {i: 0 for i in (0, 1, 2, 3, 4, 10, 11)}
        import glob
        assert glob.glob(f"{ckdir}/**/rdd-*", recursive=True), \
            "no reliable checkpoint data written"
    finally:
        # reset for sibling tests (Scala setter/object names need getattr)
        scala_none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(scala_none)


def test_connected_components_reliable_requires_dir(spark):
    import pytest

    from ocr_devnagari_spark.operators.dedup import connected_components
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("checkpoint dir leaked from another test")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="setCheckpointDir"):
        connected_components(pairs, reliable=True)


def test_winnow_fingerprints_match_python_oracle(spark, docs):
    """Spark winnowing ≡ an independent Python winnower over the same
    per-gram hashes (fetched from Spark's xxhash64, so the comparison
    pins the window/boundary logic, not the hash function)."""
    from ocr_devnagari_spark.operators.dedup import winnow_fingerprints

    K, W = 8, 4
    sample = docs.limit(25)
    got: dict = {}
    for r in winnow_fingerprints(sample, k=K, window=W).collect():
        got.setdefault(r.id, set()).add(r.fingerprint)

    rows = sample.collect()
    grams = set()
    norm = {}
    for r in rows:
        t = " ".join(r.text.strip().split()).lower()
        norm[r.doc_id] = t
        grams.update(t[i:i + K] for i in range(len(t) - K + 1))
    gdf = spark.createDataFrame([(g,) for g in grams], "g string")
    h = {r.g: r.h for r in gdf.select(
        "g", F.xxhash64("g").alias("h")).collect()}

    for r in rows:
        t = norm[r.doc_id]
        hs = [h[t[i:i + K]] for i in range(len(t) - K + 1)]
        if not hs:
            want: set = set()
        elif len(hs) < W:
            want = {min(hs)}
        else:
            want = {min(hs[j:j + W]) for j in range(len(hs) - W + 1)}
        assert got.get(r.doc_id, set()) == want, r.doc_id


def test_winnow_shared_span_guarantee(spark):
    """Documents sharing a substring of length ≥ k + window − 1 MUST
    share a fingerprint (the winnowing paper's core guarantee), and
    unrelated documents here share none."""
    from ocr_devnagari_spark.operators.dedup import winnow_similar_pairs

    span = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, "completely unrelated opening words then " + span),
        (2, span + " with a different ending altogether here"),
        (3, "nothing in common with either of the others at all xyz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.shared
             for r in winnow_similar_pairs(df, min_shared=1).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_winnow_containment_finds_subset_doc(spark):
    """A short document wholly contained in a long one: Jaccard is low
    (union dwarfs intersection) but the short side's containment reads
    ~1.0 — the asymmetric measure is the point of the operator."""
    from ocr_devnagari_spark.operators.dedup import winnow_containment

    import random
    rng = random.Random(3)
    words = [f"w{rng.randrange(4000)}" for _ in range(600)]
    long_doc = " ".join(words)
    short_doc = " ".join(words[200:260])          # contiguous 10% chunk
    other = " ".join(f"q{rng.randrange(4000)}" for _ in range(120))
    df = spark.createDataFrame(
        [(1, long_doc), (2, short_doc), (3, other)],
        "doc_id long, text string")
    rows = {(r.id_a, r.id_b): (r.containment_a, r.containment_b)
            for r in winnow_containment(df, threshold=0.8).collect()}
    assert (1, 2) in rows
    ca, cb = rows[(1, 2)]
    assert cb >= 0.9            # short doc ~fully contained in long
    assert ca <= 0.3            # long doc barely contained in short
    assert all(3 not in pair for pair in rows)


def _with_checkpoint_dir(spark, tmp_path):
    """Context helper: set a checkpoint dir, yield it, restore None."""
    import contextlib

    @contextlib.contextmanager
    def cm():
        sc = spark.sparkContext
        assert sc.getCheckpointDir() is None
        ckdir = str(tmp_path / "ck")
        sc.setCheckpointDir(ckdir)
        try:
            yield ckdir
        finally:
            scala_none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(scala_none)
    return cm()


def test_minhash_reliable_checkpoints(spark, docs, tmp_path):
    """With a checkpoint dir configured, minhash_dedup's materialized
    candidate set rides RELIABLE checkpoints (shared store — survives
    executor loss on a real cluster), and results are identical to the
    localCheckpoint path."""
    import glob

    want = {(r.id_a, r.id_b): r.jaccard
            for r in minhash_dedup(docs, threshold=0.5).collect()}
    with _with_checkpoint_dir(spark, tmp_path) as ckdir:
        got = {(r.id_a, r.id_b): r.jaccard
               for r in minhash_dedup(docs, threshold=0.5).collect()}
        assert got == want and len(got) >= 11
        assert glob.glob(f"{ckdir}/**/rdd-*", recursive=True), \
            "no reliable checkpoint data written"


def test_winnow_reliable_checkpoints(spark, docs, tmp_path):
    """Same contract for the winnow fingerprint materialization."""
    import glob

    from ocr_devnagari_spark.operators.dedup import winnow_similar_pairs

    sample = docs.limit(30)
    want = {(r.id_a, r.id_b): r.shared
            for r in winnow_similar_pairs(sample).collect()}
    with _with_checkpoint_dir(spark, tmp_path) as ckdir:
        got = {(r.id_a, r.id_b): r.shared
               for r in winnow_similar_pairs(sample).collect()}
        assert got == want
        assert glob.glob(f"{ckdir}/**/rdd-*", recursive=True), \
            "no reliable checkpoint data written"


def test_lsh_bucket_cap_drops_mega_cluster(spark):
    """A pathological exact-duplicate family (10k identical docs) collides
    on every band — uncapped that is one 10k-id array on a single task
    and ~5*10^7 pairs per band. With the default cap the oversized
    buckets are DROPPED and the job completes quickly; distinct small
    clusters in the same input are still found."""
    n_mega = 10_000
    mega = [(i, "empty template page body nothing here at all") 
            for i in range(n_mega)]
    small = [(100_000, "a genuinely unique document about winnowing fish"),
             (100_001, "a genuinely unique document about winnowing fish")]
    df = spark.createDataFrame(mega + small, "doc_id long, text string")
    sig = minhash_signatures(df, k=16)
    pairs = lsh_candidate_pairs(sig, bands=4, rows=4,
                                max_bucket=1_000).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (100_000, 100_001) in got
    assert all(a >= 100_000 for a, _ in got), \
        "mega-cluster bucket should have been dropped"


def test_lsh_bucket_cap_none_keeps_all(spark):
    """max_bucket=None preserves the uncapped behaviour."""
    df = spark.createDataFrame(
        [(i, "the same tiny duplicated document text body") for i in range(8)],
        "doc_id long, text string")
    sig = minhash_signatures(df, k=16)
    got = {(r.id_a, r.id_b)
           for r in lsh_candidate_pairs(sig, bands=4, rows=4,
                                        max_bucket=None).collect()}
    assert len(got) == 8 * 7 // 2
