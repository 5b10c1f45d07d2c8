"""Catalyst-native text functions vs the pure-Python extraction core, plus
whole-stage-codegen sanity (the exprs must stay JVM-side)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_devnagari_spark import gates
from ocr_devnagari_spark.extract_core import (
    detect_critical,
    estimate_confidence,
    validate_text,
)
from ocr_devnagari_spark.functions.text import (
    confidence_expr,
    contains_mantra,
    critical_flag,
    critical_score,
    lang_id,
    quality_score,
    token_count,
    validation_ok,
)

SAMPLES = [
    "short",
    "this is a perfectly reasonable paragraph of english text with "
    "enough letters and words to validate cleanly and score well",
    "der die das und nicht mit sich auf für ist ein langer deutscher "
    "beispieltext mit vielen wörtern",
    "!!!???...;;;:::~~~+++===",
    "ॐ नमः शिवाय ॥ 12 ॥ और यह एक परीक्षण है जो काफी लंबा होना चाहिए",
    "def f(x): return x * 2  # code sample with enough length to pass",
    "1234 5678 91011 1213 1415 1617 numbers 1819 2021 and more 2324",
    "",
    # families 5-7 + recommendation tiers
    "मन्त्र विनियोग ऋषि छन्द देवता की व्याख्या यहाँ है",   # 5 section terms
    "शिव और गणेश की कथा सुनाते हैं",                      # deity names
    "श्रीचक्र मण्डल में बिन्दु और त्रिकोण होते हैं",          # yantra terms
    "ॐ ॐ ॐ तीन बार बीज मन्त्र",                           # 3× bija → high
    "ॐ मन्त्र विनियोग सहित",                              # bija + 2 sections
    "कमल का फूल तालाब में खिलता है",                      # lone yantra word
]


@pytest.fixture(scope="module")
def sdf(spark):
    return spark.createDataFrame([(i, s) for i, s in enumerate(SAMPLES)],
                                 "i int, text string").cache()


def test_validation_matches_core(spark, sdf):
    got = {r.i: r.ok for r in sdf.select(
        "i", validation_ok(F.col("text")).alias("ok")).collect()}
    for i, s in enumerate(SAMPLES):
        assert got[i] == validate_text(s)[0], (i, s)


def test_confidence_matches_core(spark, sdf):
    got = {r.i: r.c for r in sdf.select(
        "i", confidence_expr(F.col("text")).alias("c")).collect()}
    for i, s in enumerate(SAMPLES):
        assert abs(got[i] - estimate_confidence(s)) < 1e-9, (i, s)


def test_critical_matches_core(spark, sdf):
    got = {r.i: r for r in sdf.select(
        "i", critical_score(F.col("text")).alias("s"),
        critical_flag(F.col("text")).alias("flag"),
        contains_mantra(F.col("text")).alias("mantra")).collect()}
    from ocr_devnagari_spark.extract_core import detect_critical_full
    for i, s in enumerate(SAMPLES):
        flag, score, _ = detect_critical(s)
        assert abs(got[i].s - score) < 1e-9, (i, s)
        assert got[i].flag == flag, (i, s)
        assert got[i].mantra == detect_critical_full(s)["contains_mantra"]
    # the strict gate, not the combined score, decides criticality:
    # deity-only (9) and yantra-only (10, 13) samples score ≥ 0.6 but are
    # NOT critical (reference recommends 'skip' — mantra_detector.py:215)
    assert got[9].s >= 0.6 and not got[9].flag
    assert got[10].s >= 0.6 and not got[10].flag
    assert got[8].mantra          # 5 section terms → strict gate fires


def test_recommendation_priority_match_core(spark, sdf):
    """Tri-state recommendation + priority: Catalyst ≡ pure-Python core
    on every sample, and each tier is exercised at least once."""
    from ocr_devnagari_spark.extract_core import detect_critical_full
    from ocr_devnagari_spark.functions.text import (
        detector_recommendation,
        priority_score,
    )
    rows = {r.i: r for r in sdf.select(
        "i", detector_recommendation(F.col("text")).alias("rec"),
        priority_score(F.col("text")).alias("p")).collect()}
    seen = set()
    for i, s in enumerate(SAMPLES):
        want = detect_critical_full(s)
        assert rows[i].rec == want["recommendation"], (i, s)
        assert abs(rows[i].p - want["priority"]) < 1e-9, (i, s)
        seen.add(rows[i].rec)
    assert seen == {"skip", "verify", "high_priority"}
    # reference tier formulas (mantra_detector.py:253-271)
    for i in range(len(SAMPLES)):
        if rows[i].rec == "high_priority":
            assert rows[i].p == 1.0
        elif rows[i].rec == "verify":
            assert 0.5 <= rows[i].p <= 0.9
        else:
            assert rows[i].p < 0.5


def test_lang_id_signal(spark, sdf):
    got = {r.i: r.g for r in sdf.select(
        "i", lang_id(F.col("text")).alias("g")).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[4] == "hi"
    assert got[3] == "und" and got[7] == "und"


def test_quality_and_tokens(spark, sdf):
    rows = {r.i: r for r in sdf.select(
        "i", quality_score(F.col("text")).alias("q"),
        token_count(F.col("text")).alias("t")).collect()}
    assert rows[1].q > rows[3].q            # prose beats symbol soup
    assert rows[1].q > rows[0].q            # long beats short
    for i, s in enumerate(SAMPLES):
        assert rows[i].t == len(s.split())
    assert all(0.0 <= r.q <= 1.0 for r in rows.values())


def test_functions_stay_jvm_side(spark, sdf):
    """No Python-worker nodes in the plan — these are the codegen'd fast
    path; a BatchEvalPython/ArrowEvalPython node here is a regression."""
    df = sdf.select(validation_ok(F.col("text")),
                    confidence_expr(F.col("text")),
                    critical_score(F.col("text")),
                    lang_id(F.col("text")),
                    quality_score(F.col("text")))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "*(1)" in plan       # the codegen'd span marker in plan strings


def test_gated_count_null_propagates(spark):
    """NULL text must yield NULL counts — exactly what the ungated
    ``regexp_count`` (and the DuckDB oracle formulae) produce — not 0."""
    from pyspark.sql import functions as F

    from ocr_devnagari_spark.functions.text import (
        bija_count,
        code_count,
        verse_count,
    )

    df = spark.createDataFrame(
        [(1, None), (2, "ॐ नमः शिवाय"), (3, "plain ascii text")],
        "id long, text string")
    rows = {r.id: (r.b, r.v, r.c)
            for r in df.select(
                "id",
                bija_count(F.col("text")).alias("b"),
                verse_count(F.col("text")).alias("v"),
                code_count(F.col("text")).alias("c")).collect()}
    assert rows[1] == (None, None, None)
    assert rows[2][0] == 1 and rows[2][1] == 0
    assert rows[3] == (0, 0, 0)


# ---------------------------------------------------------------------------
# exact heavy hitters (two-pass Misra-Gries + recount)
# ---------------------------------------------------------------------------

def test_heavy_hitters_exact_vs_bruteforce(spark):
    import collections

    from pyspark.sql import functions as F

    from ocr_devnagari_spark.functions.sketches import heavy_hitters
    # zipf-ish skew: value v_j appears ~N/j times, plus a NULL block
    vals = []
    for j in range(1, 40):
        vals += [f"v{j}"] * (400 // j)
    rows = [(v,) for v in vals] + [(None,)] * 25
    df = spark.createDataFrame(rows, "w string")
    for k in (3, 10, 200):
        for parts in (1, 7):
            got = sorted(map(tuple, heavy_hitters(
                df.repartition(parts), "w", k=k).collect()))
            c = collections.Counter(vals)
            n = len(vals)
            want = sorted((v, cnt) for v, cnt in c.items()
                          if cnt * (k + 1) > n)
            assert got == want, (k, parts)
    import pytest
    with pytest.raises(ValueError):
        heavy_hitters(df, "w", k=0)


def test_mg_candidates_bounded_and_superset(spark):
    from ocr_devnagari_spark.functions.sketches import _mg_candidates
    # adversarial: many singletons drowning a few hot values
    vals = [f"hot{i}" for i in range(3) for _ in range(500)] \
        + [f"cold{i}" for i in range(3000)]
    df = spark.createDataFrame([(v,) for v in vals], "w string") \
        .repartition(4)
    out = _mg_candidates(df, "w", 8).collect()
    cand = set(r["w"] for r in out if r["w"] is not None)
    assert len(cand) <= 8 * 4                      # bounded state
    assert {"hot0", "hot1", "hot2"} <= cand        # freq > n/9 survive
    # the per-partition count rows sum to the input size
    assert sum(r["_pn"] for r in out if r["_pn"] is not None) == len(vals)


def test_exact_quantiles_vs_bruteforce(spark):
    import math

    from ocr_devnagari_spark.functions.sketches import exact_quantiles
    rows = []
    for g, vals in (("a", [5, 1, 3, 3, 2, 9, 7]),
                    ("b", [10]),
                    ("c", [4, 4, 4, 4])):
        rows += [(g, v) for v in vals]
    rows += [("a", None), ("c", None)]
    df = spark.createDataFrame(rows, "g string, v long").repartition(5)
    qs = [0.25, 0.5, 0.9, 1.0]
    got = {(r["g"], r["q"]): r["quantile"]
           for r in exact_quantiles(df, "v", qs, ["g"]).collect()}
    for g, vals in (("a", [5, 1, 3, 3, 2, 9, 7]), ("b", [10]),
                    ("c", [4, 4, 4, 4])):
        sv = sorted(vals)
        for q in qs:
            want = sv[max(0, math.ceil(q * len(sv)) - 1)]
            assert got[(g, q)] == want, (g, q)
    # ungrouped form
    flat = {r["q"]: r["quantile"]
            for r in exact_quantiles(df.filter("g = 'a'"), "v",
                                     [0.5]).collect()}
    assert flat == {0.5: 3}
    import pytest
    with pytest.raises(ValueError):
        exact_quantiles(df, "v", [])
    with pytest.raises(ValueError):
        exact_quantiles(df, "v", [0.0])


def test_exact_quantiles_rejects_colliding_names(spark):
    import pytest

    from ocr_devnagari_spark.functions.sketches import exact_quantiles
    df = spark.createDataFrame([("a", 1)], "q string, v long")
    with pytest.raises(ValueError, match="collide"):
        exact_quantiles(df, "v", [0.5], ["q"])
    df2 = spark.createDataFrame([("a", 1)], "g string, _cum long")
    with pytest.raises(ValueError, match="collide"):
        exact_quantiles(df2, "_cum", [0.5], ["g"])


def test_heavy_hitters_plan_shape(spark):
    """Plan discipline: the MG pass is materialized (it shows as a
    Scan ExistingRDD — computed ONCE for candidates + total), pass 2
    recounts behind a BROADCAST left-semi join, and no cartesian
    product exists — the only Cross is the broadcast of the 1-row
    total."""
    from ocr_devnagari_spark.functions.sketches import heavy_hitters
    df = spark.createDataFrame([("x",), ("y",), ("x",)], "w string")
    plan = (heavy_hitters(df, "w", k=4)
            ._jdf.queryExecution().executedPlan().toString())
    assert "ExistingRDD" in plan          # materialized MG output
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "Cartesian" not in plan


def test_heavy_hitters_gated_shuffle_path(spark, monkeypatch):
    """Counted broadcast gate: forcing a zero broadcast budget must
    route the recount through a NON-broadcast semi join (AQE's pick)
    with IDENTICAL results — at crawl scale the MG candidate set
    (≤ k·partitions) outgrows any broadcast, so the fallback is the
    100-TB path and must stay result-equal."""
    from ocr_devnagari_spark.functions.sketches import heavy_hitters
    vals = [("x",)] * 30 + [("y",)] * 20 + [(f"c{i}",) for i in range(40)]
    df = spark.createDataFrame(vals, "w string").repartition(3)
    want = sorted(map(tuple, heavy_hitters(df, "w", k=4).collect()))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        monkeypatch.setattr(gates, "BROADCAST_ROWS", 0)
        forced = heavy_hitters(df, "w", k=4)
        # with auto-broadcast off AND the gate refusing the hint, the
        # candidate semi join must plan as a non-broadcast join — the
        # hinted path would broadcast regardless of this conf
        plan = forced._jdf.queryExecution().executedPlan().toString()
        semi = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
        assert semi and all("Broadcast" not in ln for ln in semi), plan
        got = sorted(map(tuple, forced.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == want and want   # same rows, and non-trivially so
