"""Size-driven plan decisions: the broadcast gate's job cost and hint,
and the bounded driver-side listing of ``compact_input``."""

from __future__ import annotations

import os

from ocr_devnagari_spark import gates


def _hinted(df) -> bool:
    return "broadcast" in df._jdf.queryExecution().logical().toString()


def _gate_jobs(spark, group, fn):
    """(fn's result, number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_broadcast_bound_under_limit_runs_no_job(spark):
    df = spark.range(100)
    out, jobs = _gate_jobs(spark, "gate-bound",
                           lambda: gates.broadcast_if_small(df, bound=100))
    assert jobs == 0
    assert _hinted(out)


def test_broadcast_unbounded_small_table_is_hinted(spark):
    df = spark.range(100)
    out, jobs = _gate_jobs(spark, "gate-small",
                           lambda: gates.broadcast_if_small(df))
    assert jobs >= 1                   # the bounded count ran
    assert _hinted(out)
    # a bound over the limit does not settle it: the count still decides
    assert _hinted(gates.broadcast_if_small(df, bound=10**12))


def test_broadcast_unbounded_large_table_is_not_hinted(spark, monkeypatch):
    monkeypatch.setattr(gates, "BROADCAST_ROWS", 10)
    df = spark.range(100)
    out = gates.broadcast_if_small(df)
    assert not _hinted(out)
    assert out is df
    assert _hinted(gates.broadcast_if_small(spark.range(10)))


def _csv_dir(path, n_files):
    os.makedirs(path)
    for i in range(n_files):
        with open(os.path.join(path, f"part-{i:03d}.csv"), "w") as f:
            f.write(f"{i}\n")
    return str(path)


def test_compact_input_stops_listing_at_budget(spark, tmp_path,
                                               monkeypatch):
    """Files are stat'ed only until the running total crosses the
    budget: with each file sized at a quarter of it, the fourth stat
    settles the answer, whatever the file count."""
    df = spark.read.schema("a int").csv(_csv_dir(tmp_path / "in", 60))
    assert len(df.inputFiles()) == 60
    budget = spark.sparkContext.defaultParallelism * gates._conf_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes"))
    calls = []

    def quarter(p):
        calls.append(p)
        return budget // 4 + 1

    monkeypatch.setattr(gates.os.path, "getsize", quarter)
    assert gates.compact_input(df) is False
    assert len(calls) == 4
    # the amplification counts toward the same budget
    calls.clear()
    assert gates.compact_input(df, amplification=4.0) is False
    assert len(calls) == 1


def test_compact_input_small_input_lists_every_file(spark, tmp_path,
                                                    monkeypatch):
    df = spark.read.schema("a int").csv(_csv_dir(tmp_path / "in", 60))
    real = os.path.getsize
    calls = []

    def counted(p):
        calls.append(p)
        return real(p)

    monkeypatch.setattr(gates.os.path, "getsize", counted)
    assert gates.compact_input(df) is True
    assert len(calls) == 60
