"""Model-application scoring operators: linear classifier, DSIR
importance weights, SemDeDup — brute-force Python oracles throughout."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ocr_devnagari_spark import gates
from ocr_devnagari_spark.operators.scoring import (
    ccnet_tier,
    dsir_weights,
    linear_quality_score,
    lm_cross_entropy,
)
from ocr_devnagari_spark.operators.similarity import semdedup

WEIGHTS = [("science", 1.5), ("research", 1.0), ("spam", -2.0),
           ("click", -1.5)]

DOCS = [
    (0, "Science research advances science"),     # 1.5+1.0+1.5 = 4.0
    (1, "spam click spam offers"),                # -2-1.5-2 = -5.5
    (2, "plain words only here"),                 # no hits
    (3, ""),                                      # empty
    (4, "research  with   science"),              # multi-space split
]


def _brute_linear(text, bias=0.0):
    w = dict(WEIGHTS)
    toks = [t for t in __import__("re").split(r"\s+", text.lower())]
    hits = [t for t in toks if t in w]
    s = bias + sum(w[t] for t in hits)
    return len(hits), round(1.0 / (1.0 + math.exp(-s)), 6)


def test_linear_score_matches_brute_force(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           linear_quality_score(df, WEIGHTS).collect()}
    assert set(got) == {0, 1, 2, 3, 4}          # every doc comes back
    for i, text in DOCS:
        n, score = _brute_linear(text)
        assert got[i]["n_hits"] == n, (i, text)
        assert got[i]["score"] == pytest.approx(score, abs=1e-6)
        assert got[i]["keep"] == (got[i]["score"] >= 0.5)
    assert got[0]["keep"] is True and got[1]["keep"] is False
    # no model hits → sigmoid(bias)=0.5 → keep at the default threshold
    assert got[2]["score"] == 0.5 and got[2]["keep"] is True


def test_linear_score_broadcast_gate_paths_agree(spark, monkeypatch):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    a = sorted(linear_quality_score(df, WEIGHTS).collect())
    monkeypatch.setattr(gates, "BROADCAST_ROWS", 0)
    b = sorted(linear_quality_score(df, WEIGHTS).collect())
    assert a == b


def test_linear_score_bias_shifts(spark):
    df = spark.createDataFrame([(0, "plain")], "doc_id long, text string")
    got = linear_quality_score(df, WEIGHTS, bias=-1.0).collect()[0]
    assert got["score"] == pytest.approx(
        round(1 / (1 + math.exp(1.0)), 6), abs=1e-6)
    assert got["keep"] is False


# ---------------------------------------------------------------------------
# DSIR
# ---------------------------------------------------------------------------

TARGET = [(100, "the quick brown fox jumps"),
          (101, "the quick brown cat sleeps")]
RAW = [(0, "the quick brown fox jumps"),        # = target doc → high w
       (1, "buy cheap pills online now today"),  # disjoint → low w
       (2, "the quick zebra runs"),              # partial overlap
       (3, "x")]                                 # <n words → 0 grams


def _bucket(g, n_buckets):
    """The md5 wheel, written out independently of the engine."""
    import hashlib
    return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % n_buckets


def _grams(t, n):
    ws = t.split(" ")
    return [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)] \
        if len(ws) >= n else []


def _micro(x):
    from decimal import ROUND_HALF_UP, Decimal
    return int(Decimal(repr(x)).scaleb(6).quantize(
        Decimal(1), rounding=ROUND_HALF_UP))


def _brute_dsir(n=2, n_buckets=64, alpha=1.0):
    tb = [_bucket(g, n_buckets) for _, t in TARGET for g in _grams(t, n)]
    rb = [_bucket(g, n_buckets) for _, t in RAW for g in _grams(t, n)]
    dt, dr = len(tb) + alpha * n_buckets, len(rb) + alpha * n_buckets
    lrm = {b: _micro(math.log((tb.count(b) + alpha) / dt)
                     - math.log((rb.count(b) + alpha) / dr))
           for b in range(n_buckets)}
    out = {}
    for i, t in RAW:
        gs = _grams(t, n)
        out[i] = (len(gs), sum(lrm[_bucket(g, n_buckets)] for g in gs) / 1e6)
    return out


def test_dsir_weights_match_brute_force(spark):
    target = spark.createDataFrame(TARGET, "doc_id long, text string")
    raw = spark.createDataFrame(RAW, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dsir_weights(raw, target, n=2, n_buckets=64).collect()}
    want = _brute_dsir()
    assert set(got) == set(want)
    for i, (n_grams, w) in want.items():
        assert got[i]["n_grams"] == n_grams, i
        assert got[i]["weight"] == w, i      # exact — integer sum / 1e6
    # the target-identical doc must outweigh the disjoint one
    assert got[0]["weight"] > got[1]["weight"]
    assert got[3]["n_grams"] == 0 and got[3]["weight"] == 0.0


def test_bucket_counts_match_brute_force(spark):
    """The Arrow per-batch histogram equals a brute-force Counter of
    md5-wheel buckets (NULL text contributes no grams)."""
    from collections import Counter

    from ocr_devnagari_spark.operators.scoring import _bucket_counts
    rows = RAW + [(4, ""), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (1, 2):
        want = Counter(_bucket(g, 64) for _, t in rows if t is not None
                       for g in _grams(t, n))
        got = {r["bucket"]: r["c"]
               for r in _bucket_counts(df, n, 64, "text").collect()}
        assert got == dict(want), n


def test_dsir_rejects_bad_params(spark):
    """Both bucket-model scorers reject an out-of-range ``n_buckets`` or
    a non-positive smoothing ``alpha`` on the driver, before any Spark
    job runs."""
    df = spark.createDataFrame(RAW, "doc_id long, text string")
    sc = spark.sparkContext
    sc.setJobGroup("bad-params", "bad params")
    try:
        for scorer in (dsir_weights, lm_cross_entropy):
            for kw in ({"n_buckets": 0}, {"alpha": 0.0},
                       {"n_buckets": 1, "alpha": -0.5}):
                with pytest.raises(ValueError):
                    scorer(df, df, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("bad-params")) == 0


# ---------------------------------------------------------------------------
# CCNet LM cross-entropy
# ---------------------------------------------------------------------------

def _brute_lm_ce(docs, n=1, n_buckets=64, alpha=1.0):
    tb = [_bucket(g, n_buckets) for _, t in TARGET for g in _grams(t, n)]
    denom = len(tb) + alpha * n_buckets
    lpm = {b: _micro(math.log((tb.count(b) + alpha) / denom))
           for b in range(n_buckets)}
    out = {}
    for i, t in docs:
        gs = _grams(t, n)
        if not gs:
            out[i] = (0, None)
        else:
            s = sum(lpm[_bucket(g, n_buckets)] for g in gs)
            out[i] = (len(gs), -(s / 1e6) / len(gs))
    return out


def test_lm_cross_entropy_matches_brute_force(spark):
    docs = RAW + [(4, "")]
    target = spark.createDataFrame(TARGET, "doc_id long, text string")
    raw = spark.createDataFrame(docs, "doc_id long, text string")
    for n in (1, 2):
        got = {r["doc_id"]: r for r in
               lm_cross_entropy(raw, target, n=n, n_buckets=64).collect()}
        want = _brute_lm_ce(docs, n=n)
        assert set(got) == set(want), n
        for i, (n_grams, ce) in want.items():
            assert got[i]["n_grams"] == n_grams, (n, i)
            assert got[i]["cross_entropy"] == ce, (n, i)   # exact sums
        # the target-identical doc is closest to the LM
        assert got[0]["cross_entropy"] < got[1]["cross_entropy"], n
        if n == 1:
            assert got[3]["n_grams"] == 1       # single word: one unigram
        else:
            assert got[4]["cross_entropy"] is None   # "": no bigram


def test_lm_empty_doc_null_ce_routes_tail(spark):
    target = spark.createDataFrame(TARGET, "doc_id long, text string")
    # bigram LM: a one-word doc has no bigrams → NULL cross-entropy
    raw = spark.createDataFrame([(0, "solo")], "doc_id long, text string")
    r = lm_cross_entropy(raw, target, n=2, n_buckets=64).collect()[0]
    assert r["n_grams"] == 0 and r["cross_entropy"] is None
    tiered = (lm_cross_entropy(raw, target, n=2, n_buckets=64)
              .select(ccnet_tier(F.col("cross_entropy"), 1.0, 2.0)
                      .alias("tier")).collect())
    assert tiered[0]["tier"] == "tail"


def test_lm_requires_target_or_logprobs(spark):
    with pytest.raises(ValueError):
        ccnet_tier(F.col("x"), 2.0, 1.0)


def test_scorers_malformed_id_contract(spark):
    """Duplicate and NULL ids: dsir_weights and lm_cross_entropy emit one
    row per INPUT row, each scoring its own text; linear_quality_score
    emits one row per DISTINCT id (NULL ids group into one row) with the
    group's tokens pooled into one bag."""
    rows = [(7, "science research advances"), (7, "spam click spam"),
            (None, "the quick brown fox jumps"), (None, "science")]
    schema = "doc_id long, text string"
    bad = spark.createDataFrame(rows, schema)
    clean = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(rows)], schema)
    target = spark.createDataFrame(TARGET, schema)

    for score in (
            lambda d: dsir_weights(d, target, n=2, n_buckets=64),
            lambda d: lm_cross_entropy(d, target, n=1, n_buckets=64)):
        got = score(bad).collect()
        assert sorted((r[0] is None, r[0]) for r in got) == \
            [(False, 7), (False, 7), (True, None), (True, None)]
        # every row keeps its own text's score: same multiset as a run
        # over the same texts with clean ids
        assert sorted(tuple(r)[1:] for r in got) == \
            sorted(tuple(r)[1:] for r in score(clean).collect())

    got = {r["doc_id"]: r for r in linear_quality_score(bad, WEIGHTS)
           .collect()}
    assert set(got) == {7, None}
    for i in (7, None):
        n, sc = _brute_linear(" ".join(t for j, t in rows if j == i))
        assert got[i]["n_hits"] == n, i
        assert got[i]["score"] == pytest.approx(sc, abs=1e-6), i


def test_ccnet_tier_routing(spark):
    df = spark.createDataFrame(
        [(0, 0.5), (1, 1.0), (2, 1.5), (3, 2.0), (4, 2.5), (5, None)],
        "doc_id long, ce double")
    got = {r["doc_id"]: r["tier"] for r in df.select(
        "doc_id", ccnet_tier(F.col("ce"), 1.0, 2.0).alias("tier"))
        .collect()}
    assert got == {0: "head", 1: "head", 2: "middle", 3: "middle",
                   4: "tail", 5: "tail"}


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------

def _vec_rows():
    # two clusters; in cluster 0: ids 0,1 identical (dup), 2 far;
    # in cluster 1: ids 3,4 near-identical, 5 far
    return [
        (0, 0, [1.0, 0.0, 0.0]),
        (1, 0, [1.0, 0.0, 0.0]),
        (2, 0, [0.0, 1.0, 0.0]),
        (3, 1, [0.0, 0.6, 0.8]),
        (4, 1, [0.0, 0.6001, 0.7999]),
        (5, 1, [0.9, 0.1, 0.0]),
    ]


def test_semdedup_cluster_col_brute_force(spark):
    df = spark.createDataFrame(
        _vec_rows(), "vec_id long, label int, embedding array<float>")
    got = {r["vec_id"]: r for r in
           semdedup(df, tau=0.95, cluster_col="label").collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5}
    # lowest id of each dup-pair survives; witness side dropped
    assert got[0]["keep"] is True and got[1]["keep"] is False
    assert got[2]["keep"] is True
    assert got[3]["keep"] is True and got[4]["keep"] is False
    assert got[5]["keep"] is True
    assert got[1]["cluster"] == 0 and got[4]["cluster"] == 1


def test_semdedup_cross_cluster_dups_not_compared(spark):
    # identical vectors in DIFFERENT clusters are both kept — the
    # SemDeDup contract (quadratic bounded within cluster)
    df = spark.createDataFrame(
        [(0, 0, [1.0, 0.0]), (1, 1, [1.0, 0.0])],
        "vec_id long, label int, embedding array<float>")
    got = {r["vec_id"]: r["keep"] for r in
           semdedup(df, tau=0.9, cluster_col="label").collect()}
    assert got == {0: True, 1: True}


def test_semdedup_mega_cluster_capped(spark):
    # pathological clustering: one cluster holds ~90% of the rows
    # (plus planted dups).  With the cap engaged the mega-cluster is
    # EXCLUDED from the pair search — all its rows come back keep=True
    # (dups inside it are not found: the documented honest limit) —
    # while small clusters still dedup; uncapped (max_cluster=None)
    # keeps the original exhaustive behaviour.
    rows = [(i, 0, [float(i), 1.0]) for i in range(90)]          # mega
    rows += [(100, 1, [1.0, 0.0]), (101, 1, [1.0, 0.0]),          # dup
             (102, 2, [0.0, 1.0])]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>")
    got = {r["vec_id"]: r["keep"] for r in
           semdedup(df, tau=0.9, cluster_col="label",
                    max_cluster=10).collect()}
    assert len(got) == 93                       # every row reported
    assert all(got[i] for i in range(90))       # mega-cluster all kept
    assert got[100] is True and got[101] is False and got[102] is True
    # uncapped: near-parallel high-index mega rows DO drop
    unc = {r["vec_id"]: r["keep"] for r in
           semdedup(df, tau=0.9, cluster_col="label",
                    max_cluster=None).collect()}
    assert not all(unc[i] for i in range(90))
    assert unc[100] is True and unc[101] is False


def test_semdedup_kmeans_path_drops_planted_dups(spark):
    # 20 well-separated base vectors + exact duplicates of 3 of them;
    # k-means clustering must co-locate each dup with its original,
    # and only the duplicate (higher id) is dropped
    base = [(i, [1.0 if j == i % 8 else 0.0 for j in range(8)])
            for i in range(20)]
    dups = [(100 + i, list(v)) for i, v in base[:3]]
    df = spark.createDataFrame(base + dups,
                               "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["keep"] for r in
           semdedup(df, tau=0.999, n_centroids=8, iterations=4)
           .collect()}
    for i in range(3):
        assert got[100 + i] is False, f"dup of {i} not dropped"
    # originals of the dups survive
    for i in range(3):
        assert got[i] is True
