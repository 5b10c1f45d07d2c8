"""CLI smoke tests: each subcommand end-to-end on a tiny corpus (the
reference's first-touch surface, cli.py:59-825)."""

from __future__ import annotations

import json

import pytest

from ocr_devnagari_spark.cli import main
from ocr_devnagari_spark.extract_core import PRECISE_COST_PER_PAGE


@pytest.fixture(scope="module")
def tiny_corpus(tmp_path_factory):
    from ocr_devnagari_spark.corpus import write_corpus
    d = str(tmp_path_factory.mktemp("clicorpus"))
    write_corpus(d, 60)
    return d


def _run(capsys, argv) -> tuple[int, dict]:
    rc = main(argv)
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return rc, json.loads(out)


def test_cli_validate(spark, tiny_corpus, capsys):
    rc, out = _run(capsys, ["--cores", "4", "validate",
                            "--corpus", tiny_corpus])
    assert rc == 0
    assert out["rows"] == 60 and out["duplicate_urls"] == 0
    assert out["pdf_rows"] > 0
    assert len(out["size_p50_p95_p99"]) == 3


def test_cli_extract_resume_bench(spark, tiny_corpus, tmp_path, capsys):
    root = str(tmp_path / "tables")
    rc, out = _run(capsys, ["--cores", "4", "extract",
                            "--corpus", tiny_corpus, "--root", root,
                            "--token", "c1", "--limit", "40",
                            "--dedup", "exact"])
    assert rc == 0 and out["rows"] == 40
    assert out["estimated_cost_usd"] == round(
        out["metrics"]["escalated"] * PRECISE_COST_PER_PAGE, 6)

    rc, out = _run(capsys, ["--cores", "4", "resume",
                            "--corpus", tiny_corpus, "--root", root,
                            "--token", "c2", "--dedup", "exact"])
    assert rc == 0 and out["rows"] == 20

    # same token again → idempotent no-op
    rc, out = _run(capsys, ["--cores", "4", "resume",
                            "--corpus", tiny_corpus, "--root", root,
                            "--token", "c2"])
    assert rc == 0 and out["rows"] == 0 and out["resumed"]

    rc, out = _run(capsys, ["--cores", "4", "bench",
                            "--corpus", tiny_corpus, "--reps", "1"])
    assert rc == 0 and out["docs"] == 60 and out["docs_per_sec"] > 0


def test_cli_maintain_collects_crash_orphans(spark, tiny_corpus, tmp_path,
                                             capsys):
    """``cli maintain`` removes the staged files of a crashed job once
    they are past the grace window; the committed table still equals
    golden."""
    import os

    import pyarrow.parquet as pq

    from ocr_devnagari_spark.goldenref import golden_extract_corpus
    from ocr_devnagari_spark.sources.icebox import IceboxTable

    root = str(tmp_path / "tables")
    rc, _ = _run(capsys, ["--cores", "4", "extract",
                          "--corpus", tiny_corpus, "--root", root])
    assert rc == 0
    t = IceboxTable(os.path.join(root, "extracted"))
    orphans, _ = t.stage(t.read(spark).limit(5))   # crash before commit
    for f in orphans:
        os.utime(f, (1, 1))                          # past the grace window
    rc, out = _run(capsys, ["maintain", "--root", root])
    assert rc == 0
    assert out == {"command": "maintain",
                   "removed": {"extracted": len(orphans), "lineage": 0}}
    assert orphans and not any(os.path.exists(f) for f in orphans)
    gold = pq.read_table(golden_extract_corpus(
        tiny_corpus, str(tmp_path / "golden.parquet")))
    assert sorted((r.url, r.text) for r in t.read(spark).collect()) == \
        sorted(zip(gold["url"].to_pylist(), gold["text"].to_pylist()))


def test_cli_bench_reports_session_cores(spark, tiny_corpus, capsys):
    """Without --cores the single-level bench reports the cores its
    session runs on, not null."""
    rc, out = _run(capsys, ["bench", "--corpus", tiny_corpus,
                            "--reps", "1"])
    assert rc == 0 and out["docs"] == 60
    assert out["cores"] == spark.sparkContext.defaultParallelism


def test_cli_validate_empty_corpus(spark, tmp_path, capsys):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_devnagari_spark.plans.pipeline import PAGES_SCHEMA
    d = str(tmp_path / "empty")
    import os
    os.makedirs(d)
    empty = pa.table({"url": pa.array([], pa.string()),
                      "warc_ts": pa.array([], pa.timestamp("us")),
                      "html": pa.array([], pa.binary()),
                      "text": pa.array([], pa.string()),
                      "lang": pa.array([], pa.string())})
    pq.write_table(empty, f"{d}/pages.parquet")
    rc, out = _run(capsys, ["--cores", "4", "validate", "--corpus", d])
    assert rc == 1 and out["rows"] == 0       # reported, not a traceback


def test_cli_pages_subset_and_resume_converges(spark, tiny_corpus,
                                               tmp_path, capsys):
    """--pages restricts an extract run to the selected document numbers
    (reference cli.py:134-251 page ranges), and a follow-up full run
    still converges — the predicate composes with the resume anti-join."""
    root = str(tmp_path / "tables")
    rc, out = _run(capsys, ["--cores", "4", "extract",
                            "--corpus", tiny_corpus, "--root", root,
                            "--token", "p1", "--pages", "0-9,20-24"])
    assert rc == 0 and out["rows"] == 15

    from pyspark.sql import functions as F

    from ocr_devnagari_spark.sources.icebox import IceboxTable
    got = IceboxTable(f"{root}/extracted").read(spark)
    nums = [int(r.n) for r in got.select(
        F.regexp_extract("url", r"(\d+)[^\d]*$", 1).alias("n")).collect()]
    assert len(nums) == 15
    assert all(0 <= n <= 9 or 20 <= n <= 24 for n in nums)

    # the same subset again → nothing pending
    rc, out = _run(capsys, ["--cores", "4", "resume",
                            "--corpus", tiny_corpus, "--root", root,
                            "--token", "p2", "--pages", "0-9,20-24"])
    assert rc == 0 and out["rows"] == 0

    # an unrestricted resume picks up exactly the remainder
    rc, out = _run(capsys, ["--cores", "4", "resume",
                            "--corpus", tiny_corpus, "--root", root,
                            "--token", "p3"])
    assert rc == 0 and out["rows"] == 45
    assert IceboxTable(f"{root}/extracted").read(spark).count() == 60


def test_cli_bench_sweep_subprocess(tiny_corpus):
    """The worker-count sweep (reference benchmark cli.py:731-825) runs
    one fresh session per level and reports the argmax; exercised in a
    subprocess because each level stops its session."""
    import json as _json
    import os
    import subprocess
    import sys

    checkout = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = checkout
    p = subprocess.run(
        [sys.executable, "-m", "ocr_devnagari_spark.cli", "bench",
         "--corpus", tiny_corpus, "--reps", "1", "--sweep", "2,4"],
        capture_output=True, text=True, timeout=420, env=env,
        cwd=checkout)
    assert p.returncode == 0, p.stderr[-2000:]
    out = _json.loads(p.stdout.strip().splitlines()[-1])
    assert out["optimal_workers"] in (2, 4)
    assert len(out["sweep"]) == 2
    assert all(lv["docs"] == 60 and lv["docs_per_sec"] > 0
               for lv in out["sweep"])
