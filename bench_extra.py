"""Supplementary measurement harness for the optimization round
(guide §1: measure first; noop-sink isolation per §1.4; labelled jobs
per §1.5).  ``bench.py`` is FROZEN for driver measurement — everything
exploratory lives here.

Modes:

  python bench_extra.py time  [names...]   # per-query noop wall, N reps
  python bench_extra.py plans [dir] [names...]   # explain("formatted")
  python bench_extra.py extract            # headline extraction timings
  python bench_extra.py calibrate          # mp-pool ideal docs/s probe

``calibrate`` measures the HARDWARE's own ceiling — a raw
``multiprocessing.Pool`` running ``extract_document`` on identical rows,
no Spark — so a cross-phase comparison of bench numbers can be
normalized for the documented hypervisor stalls (5× run-to-run variance
on identical plans).  Record it next to any bench sample you cite.

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: the CPUs this
process may run on, as ``get_spark``), OCRDS_BENCH_REPS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ocr_devnagari_spark.session import default_cores, get_spark  # noqa: E402

BENCH_QUERIES = (
    "tpch_q1", "tpch_q3_top10", "dedup_minhash",
    "sim_cosine_topk", "quality_scores", "m5_route_stats",
    "repetition_gate", "curate_report", "curate_full_report",
    "quality_classifier", "dsir_weights", "lm_tiers",
    "exact_substr", "heavy_hitters", "token_quantiles",
)


def _extract_one(url, html):
    from ocr_devnagari_spark.extract_core import extract_document
    return extract_document(url, html)["success"]


def _spark(cpus: int):
    return get_spark(
        "ocrds-bench-extra", cores=cpus, shuffle_partitions=cpus,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
        })


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cores()
    reps = int(os.environ.get("OCRDS_BENCH_REPS", "3"))
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"

    if mode == "calibrate":
        import multiprocessing as mp

        from ocr_devnagari_spark.corpus import corpus_dir_for_sf

        corpus = corpus_dir_for_sf(0.1)      # 50k docs ≈ a 2-5 s probe
        import pyarrow.dataset as ds
        tbl = ds.dataset(os.path.join(corpus, "pages.parquet")) \
            .to_table(columns=["url", "html"])
        rows = list(zip(tbl["url"].to_pylist(), tbl["html"].to_pylist()))
        with mp.Pool(cpus) as pool:
            t0 = time.monotonic()
            pool.starmap(_extract_one, rows, chunksize=64)
            dt = time.monotonic() - t0
        print(json.dumps({"mp_ideal_docs_per_sec": round(len(rows) / dt, 1),
                          "docs": len(rows), "wall_s": round(dt, 3),
                          "cpus": cpus}))
        return

    import __spark_entry__ as em
    qs = em.queries()
    spark = _spark(cpus)

    if mode == "plans":
        out_dir = sys.argv[2] if len(sys.argv) > 2 else "plans/r06"
        names = sys.argv[3:] or list(BENCH_QUERIES)
        suffix = os.environ.get("OCRDS_PLAN_SUFFIX", "_before")
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(out_dir, f"{name}{suffix}.txt"),
                      "w") as f:
                f.write(plan)
            print(name, "->", os.path.join(out_dir, f"{name}{suffix}.txt"))
        spark.stop()
        return

    if mode == "extract":
        from ocr_devnagari_spark.corpus import corpus_dir_for_sf
        from ocr_devnagari_spark.operators.extract import extract_fused
        import re
        m = re.search(r"sf([\d.]+)", os.path.basename(
            os.path.normpath(sf_dir)))
        sf = float(m.group(1)) if m else 0.1
        corpus = corpus_dir_for_sf(sf)
        pages = spark.read.parquet(os.path.join(corpus, "pages.parquet"))
        times = []
        for i in range(reps):
            spark.sparkContext.setJobDescription(f"extract rep{i}")
            t0 = time.monotonic()
            extract_fused(pages).write.format("noop").mode(
                "overwrite").save()
            times.append(round(time.monotonic() - t0, 3))
        print(json.dumps({"extract_noop": times}))
        spark.stop()
        return

    names = sys.argv[2:] or list(BENCH_QUERIES)
    out: dict = {}
    for name in names:
        samples = []
        for i in range(reps):
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            t0 = time.monotonic()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
            samples.append(round(time.monotonic() - t0, 3))
        out[name] = samples
        print(name, samples, flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
