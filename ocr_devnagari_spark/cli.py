"""Multi-command CLI — the user-facing driver over the library.

The reference's largest file is its Typer CLI (``cli.py:30-34`` app;
commands ``validate`` :59-131, ``process`` :134-251, ``fast`` :254-412,
``ocr`` :415-504, ``benchmark`` :731-825, with engine whitelists, page
ranges and resume flags). This is the Spark-shaped equivalent on argparse
(no typer in the sandbox): each subcommand is a thin wrapper over the same
library calls the tests exercise — the CLI adds no semantics of its own.

    python -m ocr_devnagari_spark.cli validate  --corpus DIR
    python -m ocr_devnagari_spark.cli extract   --corpus DIR --root DIR \
        [--token T] [--limit N] [--pages "1-50,60"] [--dedup exact] \
        [--rebalance salted]
    python -m ocr_devnagari_spark.cli resume    --corpus DIR --root DIR
    python -m ocr_devnagari_spark.cli maintain  --root DIR
    python -m ocr_devnagari_spark.cli bench     --corpus DIR [--cores N] \
        [--sweep 2,8,32]

There is one extraction engine, the built-in fast → precise route of
``extract_core.extract_document``, so no subcommand or flag selects one.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    from .session import get_spark
    return get_spark("ocrds-cli", cores=args.cores)


def cmd_validate(args) -> int:
    """Corpus sanity report (``cli.py:59-131`` validate analog): row and
    payload-kind counts, size percentiles, duplicate-url check."""
    from pyspark.sql import functions as F

    from .operators.extract import is_pdf_col
    from .plans.pipeline import read_pages
    spark = _spark(args)
    pages = read_pages(spark, args.corpus)
    stats = pages.agg(
        F.count("*").alias("rows"),
        F.sum(is_pdf_col().cast("long")).alias("pdf_rows"),
        F.sum(F.isnull("html").cast("long")).alias("null_payloads"),
        F.expr("approx_percentile(length(html), array(0.5, 0.95, 0.99))")
        .alias("size_p50_p95_p99"),
        (F.count("*") - F.countDistinct("url")).alias("duplicate_urls"),
    ).first().asDict()
    # zero rows → approx_percentile is NULL; report, don't traceback —
    # an empty corpus is exactly what this command exists to catch
    pct = stats["size_p50_p95_p99"]
    stats["size_p50_p95_p99"] = [int(x) for x in pct] if pct else None
    print(json.dumps({"command": "validate", "corpus": args.corpus, **stats}))
    ok = (stats["rows"] > 0 and stats["null_payloads"] == 0
          and stats["duplicate_urls"] == 0)
    return 0 if ok else 1


def cmd_extract(args) -> int:
    """Run (or resume — the anti-join makes them the same verb) the
    extraction job (``cli.py:134-251`` process / ``:415-504`` ocr
    analog)."""
    from .config import ExtractConfig
    from .plans.pipeline import run_extract_job
    spark = _spark(args)
    cfg = ExtractConfig(root_dir=args.root)
    summary = run_extract_job(
        spark, args.corpus, cfg,
        job_token=args.token,
        rebalance_mode=args.rebalance,
        limit_pending=args.limit,
        dedup=args.dedup,
        pages=args.pages,
    )
    summary["metrics"] = dict(summary.get("metrics") or {})
    print(json.dumps({"command": "extract", **summary}))
    return 0


def cmd_maintain(args) -> int:
    """Collect what commits left behind under ``--root``: superseded
    manifests and data files, and the staged files of a crashed job,
    once they are older than ``icebox.ORPHAN_GRACE_SECONDS``. Pure
    filesystem work — no SparkSession starts."""
    import os

    from .config import ExtractConfig
    from .sources.icebox import IceboxTable
    cfg = ExtractConfig(root_dir=args.root)
    removed = {}
    for name, path in (("extracted", cfg.extracted_table),
                       ("lineage", cfg.lineage_table)):
        if os.path.isdir(path):
            removed[name] = IceboxTable(path).expire_snapshots()
    print(json.dumps({"command": "maintain", "removed": removed}))
    return 0


def _timed_extract(spark, corpus: str, reps: int) -> dict:
    """Best-of-``reps`` fused extraction over the corpus."""
    from .operators.extract import extract_fused
    from .plans.pipeline import read_pages
    pages = read_pages(spark, corpus)
    runs = []
    n = 0
    for _ in range(max(reps, 1)):
        t0 = time.monotonic()
        n = extract_fused(pages).count()
        runs.append(round(time.monotonic() - t0, 3))
    best = min(runs)
    return {"docs": n, "runs_sec": runs, "best_sec": best,
            "docs_per_sec": round(n / best, 1)}


def _bench_level(cores: int, corpus: str, reps: int) -> dict:
    """One sweep level: fresh session at local[cores], warm the Python
    workers, best-of-reps fused extraction."""
    from pyspark.sql import functions as F

    from .session import get_spark
    spark = get_spark(f"ocrds-bench-{cores}", cores=cores,
                      shuffle_partitions=cores)
    warm = F.pandas_udf(lambda s: s, "long")
    spark.range(cores * 4, numPartitions=cores * 4).select(
        warm("id")).count()
    result = _timed_extract(spark, corpus, reps)
    spark.stop()
    return {"workers": cores, **result}


def cmd_bench(args) -> int:
    """Throughput bench on a corpus (reference ``benchmark``,
    ``cli.py:731-825``): single level by default; ``--sweep 2,8,32``
    replicates the reference's worker-count sweep {1,5,10} and reports
    the per-level docs/s plus the argmax ("optimal workers")."""
    if args.sweep:
        from pyspark.sql import SparkSession
        if SparkSession.getActiveSession() is not None:
            raise RuntimeError(
                "--sweep manages its own sessions (one local[N] per "
                "level, stopped between levels); run it in a fresh "
                "process, not inside an active SparkSession")
        levels = [int(x) for x in args.sweep.split(",") if x.strip()]
        results = [_bench_level(c, args.corpus, args.reps)
                   for c in levels]
        best = max(results, key=lambda r: r["docs_per_sec"])
        print(json.dumps({"command": "bench", "sweep": results,
                          "optimal_workers": best["workers"],
                          "optimal_docs_per_sec": best["docs_per_sec"]}))
        return 0
    spark = _spark(args)
    print(json.dumps({"command": "bench",
                      **_timed_extract(spark, args.corpus, args.reps),
                      "cores": spark.sparkContext.defaultParallelism}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="ocrds", description="PySpark web-text extraction engine")
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] cores (default: $SPARK_GRAFT_CPUS, else the "
                   "CPUs this process may run on)")
    sub = p.add_subparsers(dest="command", required=True)

    v = sub.add_parser("validate", help="corpus sanity report")
    v.add_argument("--corpus", required=True)
    v.set_defaults(fn=cmd_validate)

    for name in ("extract", "resume"):
        e = sub.add_parser(name, help=f"{name} an extraction job")
        e.add_argument("--corpus", required=True)
        e.add_argument("--root", required=True,
                       help="table root (extracted + lineage live here)")
        e.add_argument("--token", default=None,
                       help="idempotency token (re-run with same token = "
                            "no-op)")
        e.add_argument("--limit", type=int, default=None,
                       help="process at most N pending rows")
        e.add_argument("--pages", default=None, metavar="SPEC",
                       help="document-number subset, e.g. '1-50,60' or "
                            "'all' (reference --pages; matches the last "
                            "number in each url)")
        e.add_argument("--dedup", choices=["none", "exact"], default="none")
        e.add_argument("--rebalance", choices=["none", "salted"],
                       default="none")
        e.set_defaults(fn=cmd_extract)

    m = sub.add_parser("maintain", help="expire superseded snapshots "
                       "and crash orphans")
    m.add_argument("--root", required=True,
                   help="table root (extracted + lineage live here)")
    m.set_defaults(fn=cmd_maintain)

    b = sub.add_parser("bench", help="extraction throughput on a corpus")
    b.add_argument("--corpus", required=True)
    b.add_argument("--reps", type=int, default=2)
    b.add_argument("--sweep", default=None, metavar="N,M,...",
                   help="worker-count sweep, e.g. '2,8,32' — one fresh "
                        "local[N] session per level, reports the argmax")
    b.set_defaults(fn=cmd_bench)
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
