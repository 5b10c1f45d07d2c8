"""As-of and range join operators vs brute-force Python oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_devnagari_spark.operators.joins import asof_join, range_join


def _py_asof(lrows, rrows, tol=None):
    out = {}
    for k, ts, x in lrows:
        cands = [(rts, p) for rk, rts, p in rrows
                 if rk == k and rts <= ts]
        if cands:
            rts, p = max(cands)
            if tol is not None and ts - rts > tol:
                rts = p = None
        else:
            rts = p = None
        out[(k, ts)] = (rts, p)
    return out


@pytest.mark.parametrize("tol", [None, 7])
def test_asof_join_matches_bruteforce(spark, tol):
    lrows = [(k, t, k * 1000 + t) for k in range(5)
             for t in range(0, 100, 9)]
    rrows = [(k, t, k * 10 + t) for k in range(4)     # key 4: no quotes
             for t in range(0, 100, 13)]
    ldf = spark.createDataFrame(lrows, "k long, ts long, x long")
    rdf = spark.createDataFrame(rrows, "k long, ts long, p long")
    got = {(r["k"], r["ts"]): (r["ts_r"], r["p_r"])
           for r in asof_join(ldf, rdf, on="ts", by="k",
                              tolerance=tol).collect()}
    exp = _py_asof(lrows, rrows, tol)
    assert len(got) == len(lrows)
    for key, (rts, p) in exp.items():
        grts, gp = got[key]
        assert (grts is None) == (rts is None), key
        if rts is not None:
            assert (int(grts), gp) == (rts, p), key


def test_asof_tie_is_inclusive(spark):
    ldf = spark.createDataFrame([(1, 10, 0)], "k long, ts long, x long")
    rdf = spark.createDataFrame([(1, 10, 99)], "k long, ts long, p long")
    r = asof_join(ldf, rdf, on="ts", by="k").collect()[0]
    assert r["p_r"] == 99                 # quote AT the event matches


def test_asof_preserves_left_rowcount_and_duplicates(spark):
    ldf = spark.createDataFrame([(1, 10, 0), (1, 10, 1)],
                                "k long, ts long, x long")
    rdf = spark.createDataFrame([(1, 5, 7)], "k long, ts long, p long")
    got = asof_join(ldf, rdf, on="ts", by="k").collect()
    assert len(got) == 2 and all(r["p_r"] == 7 for r in got)


@pytest.mark.parametrize("width", [7.0, 100.0, 10000.0])
def test_asof_bucketed_equals_default_plan(spark, width):
    """The hot-key pre-carry plan (bucket_width set) must be value-equal
    to the single-window plan on a skewed input — one key holds 90% of
    the rows, with cross-bucket carries, ties, and left-only buckets."""
    left = [(1, float(i * 13 % 997), i) for i in range(180)] + \
           [(2, float(i * 7), 1000 + i) for i in range(20)]
    right = [(1, float(i * 29 % 811), i) for i in range(90)] + \
            [(1, 100.0, 900), (1, 100.0, 901)] + \
            [(2, 35.0, 950)]
    ldf = spark.createDataFrame(left, "k long, ts double, x long")
    rdf = spark.createDataFrame(right, "k long, ts double, p long")
    base = {(r["k"], r["ts"], r["x"]): (r["ts_r"], r["p_r"]) for r in
            asof_join(ldf, rdf, on="ts", by="k").collect()}
    for tol in (None, 50.0):
        got = {(r["k"], r["ts"], r["x"]): (r["ts_r"], r["p_r"]) for r in
               asof_join(ldf, rdf, on="ts", by="k", tolerance=tol,
                         bucket_width=width).collect()}
        want = base if tol is None else {
            k: (v if v[0] is not None and k[1] - v[0] <= tol
                else (None, None)) for k, v in base.items()}
        assert got == want


def test_asof_bucketed_window_partitions_by_bucket(spark):
    """Plan assertion: the final window's partition spec includes the
    time bucket, so no single task ever holds a full hot key."""
    ldf = spark.createDataFrame([(1, 10.0, 0)], "k long, ts double, x long")
    rdf = spark.createDataFrame([(1, 5.0, 7)], "k long, ts double, p long")
    plan = (asof_join(ldf, rdf, on="ts", by="k", bucket_width=100.0)
            ._jdf.queryExecution().optimizedPlan().toString())
    assert "_bkt" in plan.split("Window")[1][:400], plan


@pytest.mark.parametrize("width", [3.0, 50.0, 1000.0])
def test_range_join_matches_bruteforce(spark, width):
    pts = [(i, float((i * 37) % 500)) for i in range(80)]
    ivs = [(j, float(j * 40), float(j * 40 + 60)) for j in range(12)]
    pdf = spark.createDataFrame(pts, "pid long, v double")
    idf = spark.createDataFrame(ivs, "iid long, lo double, hi double")
    got = {(r["pid"], r["iid"]) for r in
           range_join(pdf, idf, bucket_width=width).collect()}
    exp = {(pid, iid) for pid, v in pts for iid, lo, hi in ivs
           if lo <= v <= hi}
    assert got == exp                     # exactly once per pair
    with pytest.raises(ValueError):
        range_join(pdf, idf, bucket_width=0)


def test_range_join_wide_interval_guard(spark):
    """A degenerate interval spanning far more than ``max_buckets``
    buckets must NOT explode (the unguarded plan fans one row out to
    len/width + 1 rows) — it routes through the broadcast containment
    path, and the result is still the exact inner join."""
    pts = [(i, float(i * 97 % 1000)) for i in range(60)]
    ivs = [(0, 0.0, 1e9),                  # 10^7 buckets at width 100
           (1, 100.0, 160.0), (2, 500.0, 505.0)]
    pdf = spark.createDataFrame(pts, "pid long, v double")
    idf = spark.createDataFrame(ivs, "iid long, lo double, hi double")
    got = {(r["pid"], r["iid"]) for r in
           range_join(pdf, idf, bucket_width=100.0,
                      max_buckets=64).collect()}
    exp = {(pid, iid) for pid, v in pts for iid, lo, hi in ivs
           if lo <= v <= hi}
    assert got == exp and len(got) >= 60   # wide interval matches all


def test_range_join_wide_limit_raises(spark):
    """More wide intervals than ``wide_limit`` is a sizing bug — the
    guard raises (asking for a bigger bucket_width) instead of silently
    building an oversized broadcast."""
    pdf = spark.createDataFrame([(0, 1.0)], "pid long, v double")
    ivs = [(j, 0.0, 1e8) for j in range(5)]
    idf = spark.createDataFrame(ivs, "iid long, lo double, hi double")
    with pytest.raises(ValueError, match="span more than"):
        range_join(pdf, idf, bucket_width=1.0, max_buckets=10,
                   wide_limit=3)


def test_range_join_is_equi_join_not_cartesian(spark):
    pdf = spark.createDataFrame([(0, 1.0)], "pid long, v double")
    idf = spark.createDataFrame([(0, 0.0, 2.0)],
                                "iid long, lo double, hi double")
    plan = (range_join(pdf, idf)._jdf.queryExecution()
            .executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# KMV sketch
# ---------------------------------------------------------------------------

def test_kmv_exact_below_k_and_estimate_above(spark):
    from ocr_devnagari_spark.functions.sketches import kmv_estimate
    small = spark.range(50).select(F.col("id").cast("string").alias("v"))
    r = kmv_estimate(small, "v", k=128).collect()[0]
    assert (r["n_est"], r["k_used"]) == (50.0, 50)   # exact below k
    big = spark.range(20_000).select(
        F.col("id").cast("string").alias("v"))
    r2 = kmv_estimate(big, "v", k=256).collect()[0]
    assert r2["k_used"] == 256
    assert abs(r2["n_est"] - 20_000) / 20_000 < 0.2  # ~1/sqrt(k) error
    # duplicates do not inflate the estimate
    dup = big.unionByName(big)
    r3 = kmv_estimate(dup, "v", k=256).collect()[0]
    assert r3["n_est"] == r2["n_est"]
    with pytest.raises(ValueError):
        from ocr_devnagari_spark.functions.sketches import kmv_sketch
        kmv_sketch(big, "v", k=1)


# ---------------------------------------------------------------------------
# review-fix pins
# ---------------------------------------------------------------------------

def test_asof_matched_row_null_payload_stays_null(spark):
    """The matched right row's columns come from ONE row: a NULL payload
    on the matched row must NOT be backfilled from an older row."""
    ldf = spark.createDataFrame([(1, 10, 0)], "k long, ts long, x long")
    rdf = spark.createDataFrame(
        [(1, 5, 100), (1, 8, None)], "k long, ts long, p int")
    r = asof_join(ldf, rdf, on="ts", by="k").collect()[0]
    assert int(r["ts_r"]) == 8 and r["p_r"] is None


def test_asof_tie_among_right_rows_is_deterministic(spark):
    rows = [(1, 10, 1.0), (1, 10, 2.0)]
    ldf = spark.createDataFrame([(1, 10, 0)], "k long, ts long, x long")
    for perm in (rows, rows[::-1]):
        rdf = spark.createDataFrame(perm, "k long, ts long, p double")
        r = asof_join(ldf, rdf.repartition(4), on="ts", by="k").collect()
        assert r[0]["p_r"] == 2.0          # greatest payload wins


def test_asof_accepts_timestamp_on_column(spark):
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    t1 = dt.datetime(2024, 1, 1, 0, 0, 30)
    ldf = spark.createDataFrame([(1, t1, 7)],
                                "k long, ts timestamp, x long")
    rdf = spark.createDataFrame([(1, t0, 42)],
                                "k long, ts timestamp, p long")
    r = asof_join(ldf, rdf, on="ts", by="k", tolerance=60.0).collect()[0]
    assert r["p_r"] == 42 and r["ts"] == t1      # left col type preserved
    r2 = asof_join(ldf, rdf, on="ts", by="k", tolerance=10.0).collect()[0]
    assert r2["p_r"] is None                      # older than tolerance


def test_kmv_ignores_nulls(spark):
    from ocr_devnagari_spark.functions.sketches import kmv_estimate
    vals = [(str(i),) for i in range(300)] + [(None,)] * 50
    df = spark.createDataFrame(vals, "v string")
    r = kmv_estimate(df, "v", k=64).collect()[0]
    assert r["k_used"] == 64
    r_nonull = kmv_estimate(df.filter("v is not null"), "v",
                            k=64).collect()[0]
    assert r["n_est"] == r_nonull["n_est"]


def test_range_join_auto_bucket_width(spark):
    """bucket_width=None derives the width from interval lengths; the
    result is identical to any explicit width (width only shapes the
    plan), including when point intervals (len 0) dominate the median."""
    pts = [(i, float((i * 37) % 500)) for i in range(80)]
    ivs = [(j, float(j * 40), float(j * 40 + 60)) for j in range(12)]
    pdf = spark.createDataFrame(pts, "pid long, v double")
    idf = spark.createDataFrame(ivs, "iid long, lo double, hi double")
    exp = {(pid, iid) for pid, v in pts for iid, lo, hi in ivs
           if lo <= v <= hi}
    got = {(r["pid"], r["iid"]) for r in
           range_join(pdf, idf, bucket_width=None).collect()}
    assert got == exp
    # point intervals dominate: the sketch runs over POSITIVE lengths
    # only, so the real interval still sets the width (narrow path)
    # and results stay exact
    ivs0 = [(j, float(j), float(j)) for j in range(20)] \
        + [(99, 0.0, 400.0)]
    idf0 = spark.createDataFrame(ivs0, "iid long, lo double, hi double")
    got0 = {(r["pid"], r["iid"]) for r in
            range_join(pdf, idf0, bucket_width=None).collect()}
    exp0 = {(pid, iid) for pid, v in pts for iid, lo, hi in ivs0
            if lo <= v <= hi}
    assert got0 == exp0
