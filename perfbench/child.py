"""One measured Spark session: set up, warm up, run timed rounds, report.

Run as ``python3 perfbench/child.py <spec.json> <out.json>`` by
``run.py``; every measured session is a fresh process so no JVM gateway,
worker daemon or cache survives from an earlier session.  The spec names
the workload, the cores, the input and work directories, the time budget
and whether to trace.

The program is driven only through its public API (``session.get_spark``,
``plans.pipeline.run_extract_job``, ``sources.icebox.IceboxTable``,
``plans.curation.curation_report``, ``operators.dedup.minhash_dedup``).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402



# ---------------------------------------------------------------------------
# Peak resident memory of this process tree (driver Python, JVM, workers)
# ---------------------------------------------------------------------------

class PeakRss:
    """Samples the summed RSS of this process and all its descendants.

    A process counts from its second sample on: the JVM runs shell
    commands (Hadoop's local file system without its native library),
    and a fork caught before its exec reports the whole JVM's RSS again.
    Those children live for milliseconds; workers live for the run."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._seen: set[int] = set()

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    st = f.read()
                with open(f"/proc/{name}/statm") as f:
                    pages = int(f.read().split()[1])
            except OSError:
                continue
            fields = st[st.rindex(")") + 2:].split()
            parent[int(name)] = int(fields[1])
            rss[int(name)] = pages * self._page
        me = os.getpid()
        total = 0
        tree = set()
        for pid in rss:
            p = pid
            while p and p != me and p in parent:
                p = parent[p]
            if p == me:
                tree.add(pid)
                if pid == me or pid in self._seen:
                    total += rss[pid]
        self._seen = tree
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_rss())


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------

def start_session(spec: dict) -> tuple:
    """get_spark with the host-fitting settings; returns (spark, timings)."""
    import ocr_devnagari_spark.session as session
    timings = {"package_zip_s": 0.0}
    zip_dir = os.path.join(spec["work"], "zip")
    os.makedirs(zip_dir, exist_ok=True)
    orig_zip = session.package_zip

    def package_zip(out_dir: str = zip_dir) -> str:
        # default out_dir is /tmp; keep the artifact inside the checkout
        t = time.perf_counter()
        try:
            return orig_zip(out_dir)
        finally:
            timings["package_zip_s"] += time.perf_counter() - t

    session.package_zip = package_zip
    tmp = os.environ["TMPDIR"]
    t = time.perf_counter()
    spark = session.get_spark(
        f"perfbench-{spec['workload']}", cores=spec["cores"],
        extra_conf={
            # whole heap committed and touched at start: peak RSS no
            # longer depends on when G1 decides to grow the heap
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['OCRDS_DRIVER_MEM']} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(spec["work"], "wh"),
            "spark.ui.showConsoleProgress": "false",
        })
    timings["get_spark_s"] = time.perf_counter() - t
    return spark, timings


# ---------------------------------------------------------------------------
# Workloads.  Each has warm(), prepare() (untimed, per run) and a round
# function; rounds repeat until the time budget is spent.
# ---------------------------------------------------------------------------

def _cfg(root: str):
    from ocr_devnagari_spark.config import ExtractConfig
    return ExtractConfig(root_dir=root)


def _pl():
    # attribute lookup at call time, so traced wrappers apply
    from ocr_devnagari_spark.plans import pipeline
    return pipeline


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def _manifest_bytes(root: str) -> int:
    total = 0
    for t in ("extracted", "lineage"):
        d = os.path.join(root, t)
        if os.path.isdir(d):
            total += _dir_bytes(os.path.join(d, "manifests"))
            cur = os.path.join(d, "_current")
            if os.path.exists(cur):
                total += os.path.getsize(cur)
    return total


def _data_files(root: str) -> set:
    from ocr_devnagari_spark.sources.icebox import IceboxTable
    m = IceboxTable(os.path.join(root, "extracted")).current_manifest()
    return set(m["files"]) if m else set()


class CrawlFresh:
    """Fresh run_extract_job calls (submit_job.py defaults: no dedup, no
    rebalance) into an empty table, alternating a 4-task job over all
    pages with a 1-task job over the first quarter of them (one file, one
    row group, so one scan task).  Both run in the same warm session, so
    the scaling ratio compares 1 and 4 busy cores under one worker set-up."""

    min_rounds, max_rounds, step = 6, 12, 2
    SIDES = (("4task", "pages"), ("1task", "pages_1task"))

    def __init__(self, spark, spec):
        self.spark, self.spec = spark, spec
        self.k = 0

    def warm(self):
        # two passes: the first pays the cold start, the second lets the
        # JIT settle before the timed rounds
        for k in range(2):
            _pl().run_extract_job(
                self.spark, os.path.join(self.spec["inputs"], "warm"),
                _cfg(os.path.join(self.spec["work"], f"warm-{k}")),
                job_token="warm")

    def prepare(self):
        pass

    def round(self) -> dict:
        side, sub = self.SIDES[self.k % 2]
        root = os.path.join(self.spec["work"], f"fresh-{self.k:02d}")
        token = f"fresh-{self.k}"
        self.k += 1
        pages = os.path.join(self.spec["inputs"], sub)
        t = time.perf_counter()
        res = _pl().run_extract_job(self.spark, pages, _cfg(root),
                                    job_token=token)
        dt = time.perf_counter() - t
        return {"s": dt, "docs": res["rows"], "root": root, "side": side,
                "pages": sub, "wall": [t, t + dt]}

    def write_base(self, r: dict) -> int:
        return sum(os.path.getsize(f) for f in _data_files(r["root"]))


class CrawlResume:
    """Batches of crash (limit_pending) → resume → no-op rerun with the
    same token, dedup='exact', against a table with a long history."""

    min_rounds, max_rounds, step = 3, gen.RESUME_BATCHES, 1

    def __init__(self, spark, spec):
        self.spark, self.spec = spark, spec
        self.inputs = spec["inputs"]
        self.pristine = os.path.join(spec["work"], "history")
        self.b = 0
        self.root = None
        self.n_restore = 0

    def _batch(self, root: str, b: int, tag: str) -> dict:
        pl = _pl()
        from ocr_devnagari_spark.sources.icebox import IceboxTable
        bdir = os.path.join(self.inputs, f"batch-{b:02d}")
        cfg = _cfg(root)
        t = time.perf_counter()
        crash = pl.run_extract_job(self.spark, bdir, cfg,
                                   job_token=f"{tag}{b}-crash",
                                   limit_pending=gen.BATCH_CRASH_LIMIT,
                                   dedup="exact")
        resume = pl.run_extract_job(self.spark, bdir, cfg,
                                    job_token=f"{tag}{b}-resume",
                                    dedup="exact")
        snap_before = IceboxTable(cfg.extracted_table).snapshot_id()
        noop = pl.run_extract_job(self.spark, bdir, cfg,
                                  job_token=f"{tag}{b}-resume",
                                  dedup="exact")
        dt = time.perf_counter() - t
        return {"s": dt, "docs": crash["rows"] + resume["rows"],
                "batch": b, "root": root,
                "crash_rows": crash["rows"], "resume_rows": resume["rows"],
                "noop_rows": noop["rows"], "snap_before_noop": snap_before,
                "snap_after_noop": IceboxTable(cfg.extracted_table
                                               ).snapshot_id(),
                "wall": [t, t + dt]}

    def warm(self):
        root = os.path.join(self.spec["work"], "warm")
        wdir = os.path.join(self.inputs, "warm")
        pl = _pl()
        pl.run_extract_job(self.spark, wdir, _cfg(root), job_token="w1",
                           limit_pending=gen.RESUME_WARM // 2, dedup="exact")
        pl.run_extract_job(self.spark, wdir, _cfg(root), job_token="w2",
                           dedup="exact")
        pl.run_extract_job(self.spark, wdir, _cfg(root), job_token="w2",
                           dedup="exact")

    def prepare(self):
        """Build the history with the program itself (untimed)."""
        with open(os.path.join(self.inputs, "history_ranges.json")) as f:
            ranges = json.load(f)
        hdir = os.path.join(self.inputs, "history")
        for k, rng in enumerate(ranges):
            _pl().run_extract_job(self.spark, hdir, _cfg(self.pristine),
                                  job_token=f"hist-{k}", pages=rng,
                                  dedup="exact")
        self.restore()

    def restore(self) -> str:
        """A new table root whose snapshots are the history's: manifests
        are copied, data files are shared (committed files are immutable
        and referenced by absolute path)."""
        root = os.path.join(self.spec["work"], f"resume-{self.n_restore}")
        self.n_restore += 1
        for t in ("extracted", "lineage"):
            src = os.path.join(self.pristine, t)
            dst = os.path.join(root, t)
            os.makedirs(os.path.join(dst, "data"), exist_ok=True)
            shutil.copytree(os.path.join(src, "manifests"),
                            os.path.join(dst, "manifests"))
            shutil.copy2(os.path.join(src, "_current"),
                         os.path.join(dst, "_current"))
        self.root, self.b = root, 0
        return root

    def round(self) -> dict:
        r = self._batch(self.root, self.b, f"r{self.n_restore}-")
        self.b += 1
        return r

    def write_base(self, r: dict) -> int:
        return r["added_bytes"]


class CurateSuite:
    """curation_report with the full recipe, then minhash_dedup, on the
    golden text of a corpus with planted exact and near duplicates."""

    min_rounds, max_rounds, step = 2, 4, 1

    def __init__(self, spark, spec):
        import __spark_entry__ as em
        self.spark, self.spec = spark, spec
        self.blockterms = list(em._BLOCKTERMS)
        self.k = 0

    def _frames(self, sub: str):
        d = os.path.join(self.spec["inputs"], sub)
        cur = self.spark.read.parquet(os.path.join(d, "curate_input"))
        mh = self.spark.read.parquet(os.path.join(d, "minhash_input")
                                     ).select("doc_id", "text")
        return cur, mh

    def _run(self, cur, mh, tracer=None) -> tuple:
        from ocr_devnagari_spark.operators import dedup
        from ocr_devnagari_spark.plans import curation

        def report():
            return curation.curation_report(
                cur, blockterms=self.blockterms, pii_scrub=True,
                para_max_docs=1).collect()

        def pairs():
            return dedup.minhash_dedup(mh, threshold=0.8).select(
                "id_a", "id_b", "jaccard").collect()

        t0 = time.perf_counter()
        if tracer is None:
            rep = report()
            t1 = time.perf_counter()
            prs = pairs()
        else:
            rep = tracer.span("curate.report", report)
            t1 = time.perf_counter()
            prs = tracer.span("curate.minhash", pairs)
        t2 = time.perf_counter()
        return rep, prs, t0, t1, t2

    def warm(self):
        self._run(*self._frames("warm"))

    def prepare(self):
        self.cur, self.mh = self._frames("main")
        self.n_docs = self.mh.count()

    def round(self, tracer=None) -> dict:
        rep, prs, t0, t1, t2 = self._run(self.cur, self.mh, tracer)
        self.k += 1
        return {"s": t2 - t0, "docs": self.n_docs,
                "report_s": t1 - t0, "minhash_s": t2 - t1,
                "report": [r.asDict() for r in rep],
                "pairs": [[p["id_a"], p["id_b"], p["jaccard"]] for p in prs],
                "wall": [t0, t2]}


WORKLOADS = {"crawl_fresh": CrawlFresh, "crawl_resume": CrawlResume,
             "curate_suite": CurateSuite}


# ---------------------------------------------------------------------------
# Rounds
# ---------------------------------------------------------------------------

def run_rounds(wl, seconds: float) -> list[dict]:
    """Rounds until ``seconds`` have passed (at least ``wl.min_rounds``,
    at most ``wl.max_rounds``, stopping only at a multiple of
    ``wl.step``)."""
    rounds: list[dict] = []
    t0 = time.perf_counter()
    while len(rounds) < wl.max_rounds:
        if (len(rounds) >= wl.min_rounds and len(rounds) % wl.step == 0
                and time.perf_counter() - t0 >= seconds):
            break
        before = _data_files(wl.root) if isinstance(wl, CrawlResume) else None
        mbytes = _manifest_bytes(wl.root) if before is not None else 0
        r = wl.round()
        if before is not None:
            new = _data_files(wl.root) - before
            r["added_bytes"] = sum(os.path.getsize(f) for f in new)
            r["manifest_bytes"] = _manifest_bytes(wl.root) - mbytes
        elif "root" in r:
            r["manifest_bytes"] = _manifest_bytes(r["root"])
        rounds.append(r)
    return rounds


def _epoch(t_perf: float) -> float:
    """perf_counter → epoch seconds (for matching Spark job times)."""
    return time.time() - (time.perf_counter() - t_perf)


def round_stats(sc, wl, rounds: list[dict]) -> None:
    """Attach Spark job totals and write amplification to each round."""
    for r in rounds:
        jobs = spans.jobs_between(sc, _epoch(r["wall"][0]),
                                  _epoch(r["wall"][1]))
        tot = spans.spark_totals(jobs)
        r["spark"] = tot
        if isinstance(wl, CurateSuite):
            written = sum(s["shuffle_w"] + s["output_b"] + s["spill_b"]
                          for j in jobs for s in j["stages"])
            read = sum(s["input_b"] for j in jobs for s in j["stages"])
            r["write_amp"] = written / read if read else 0.0
        else:
            written = tot["bytes_written_mb"] * 1e6 + r["manifest_bytes"]
            base = wl.write_base(r)
            r["write_amp"] = written / base if base else 0.0


# ---------------------------------------------------------------------------
# Traced round → per-layer metrics
# ---------------------------------------------------------------------------

def _note_read(args, _result) -> dict:
    m = args[0].current_manifest()
    return {"files": len(m["files"]) if m else 0}


def _note_job(_args, res) -> dict:
    return {"rows": res.get("rows", 0),
            "dedup_marked": res.get("dedup_marked", 0),
            "files_rewritten": res.get("dedup_files_rewritten", 0)}


def install_wrappers(tracer: spans.Tracer) -> None:
    from ocr_devnagari_spark.operators import dedup, paragraphs
    from ocr_devnagari_spark.plans import curation, pipeline
    from ocr_devnagari_spark.sources.icebox import IceboxTable
    tracer.wrap(pipeline, "run_extract_job", "pipeline.run_extract_job",
                note=_note_job)
    for attr in ("pending_pages", "keeper_map", "mark_staged_duplicates",
                 "lineage_rows", "extract_fused", "exact_dedup_mark"):
        tracer.wrap(pipeline, attr, f"pipeline.{attr}")
    for attr in ("stage", "commit_staged", "append"):
        tracer.wrap(IceboxTable, attr, f"icebox.{attr}")
    tracer.wrap(IceboxTable, "read", "icebox.read", note=_note_read)
    tracer.wrap(dedup, "_materialize", "dedup._materialize")
    tracer.wrap(dedup, "minhash_dedup", "dedup.minhash_dedup")
    tracer.wrap(curation, "curation_report", "curation.curation_report")
    tracer.wrap(paragraphs, "paragraph_dedup", "paragraphs.paragraph_dedup")


def _jobs_by_span(jobs) -> dict:
    out: dict[int, list] = {}
    for j in jobs:
        d = j["desc"] or ""
        if d.startswith("span:"):
            out.setdefault(int(d.split(":")[1]), []).append(j)
    return out


def _sub_jobs(tracer, by_span, sid) -> list:
    return [j for s in tracer.subtree(sid) for j in by_span.get(s, [])]


def pipeline_layers(tracer, jobs) -> dict:
    """pipeline.* / icebox.* / extract.task_run_s per run_extract_job
    call (no-op reruns reported separately)."""
    by_span = _jobs_by_span(jobs)
    calls = [s for s in tracer.spans
             if s["name"] == "pipeline.run_extract_job"]
    real = [s for s in calls if s.get("rows", 0) > 0]
    noop = [s for s in calls if s.get("rows", 0) == 0]
    m = {k: 0.0 for k in (
        "jobs", "stages", "tasks", "anti_join_s", "keeper_map_s",
        "mark_rewrite_s", "lineage_s", "stage_write_s", "commit_s",
        "driver_gap_s", "shuffle_mb", "input_mb", "bytes_written_mb",
        "files_read", "files_rewritten", "dedup_marked", "task_run_s")}
    for s in real:
        sub = tracer.subtree(s["id"])
        cjobs = _sub_jobs(tracer, by_span, s["id"])
        tot = spans.spark_totals(cjobs)
        m["jobs"] += tot["jobs"]
        m["stages"] += tot["stages"]
        m["tasks"] += tot["tasks"]
        m["shuffle_mb"] += tot["shuffle_mb"]
        m["input_mb"] += tot["input_mb"]
        m["bytes_written_mb"] += tot["bytes_written_mb"]
        m["driver_gap_s"] += (s["end"] - s["start"]) - tot["job_s"]
        m["files_rewritten"] += s["files_rewritten"]
        m["dedup_marked"] += s["dedup_marked"]
        for c in (tracer.spans[i] for i in sorted(sub)):
            dur = c["end"] - c["start"]
            parent = tracer.spans[c["parent"]] if c["parent"] is not None \
                else None
            pname = parent["name"] if parent else ""
            if c["name"] == "icebox.stage" and pname == \
                    "pipeline.run_extract_job":
                sj = sorted(by_span.get(c["id"], []), key=lambda j: j["id"])
                feed = spans.union_len([(j["start"], j["end"])
                                         for j in sj[:-1]])
                m["anti_join_s"] += feed
                m["stage_write_s"] += dur - feed
                m["task_run_s"] += sum(st["run_s"] for j in sj
                                       for st in j["stages"])
            elif c["name"] == "dedup._materialize" and pname == \
                    "pipeline.mark_staged_duplicates":
                m["keeper_map_s"] += dur
            elif c["name"] == "pipeline.mark_staged_duplicates":
                kids = [k for k in tracer.children(c["id"])
                        if k["name"] == "dedup._materialize"]
                m["mark_rewrite_s"] += dur - sum(k["end"] - k["start"]
                                                 for k in kids)
            elif c["name"] == "icebox.append" and pname == \
                    "pipeline.run_extract_job":
                m["lineage_s"] += dur
            elif c["name"] == "icebox.commit_staged" and pname == \
                    "pipeline.run_extract_job":
                m["commit_s"] += dur
            elif c["name"] == "icebox.read":
                m["files_read"] += c.get("files", 0)
    n = max(len(real), 1)
    out = {f"pipeline.{k}": v / n for k, v in m.items()
           if k not in ("files_read", "files_rewritten", "dedup_marked",
                        "stage_write_s", "commit_s", "task_run_s")}
    out["icebox.stage_write_s"] = m["stage_write_s"] / n
    out["icebox.commit_s"] = m["commit_s"] / n
    out["icebox.files_read"] = m["files_read"] / n
    out["icebox.files_rewritten"] = m["files_rewritten"] / n
    out["icebox.dedup_marked"] = m["dedup_marked"] / n
    out["pipeline.noop_rerun_s"] = (statistics.mean(
        s["end"] - s["start"] for s in noop) if noop else 0.0)
    out["extract.task_run_s"] = m["task_run_s"]
    return out


def curate_stage_layers(tracer, wl) -> dict:
    """Each public curation stage timed alone on the same input."""
    from pyspark.sql import functions as F

    from ocr_devnagari_spark.functions.pii import redact_pii
    from ocr_devnagari_spark.functions.repetition import repetition_pass_expr
    from ocr_devnagari_spark.functions.text import blocklist_pass, gopher_pass
    from ocr_devnagari_spark.operators import dedup
    from ocr_devnagari_spark.operators.paragraphs import paragraph_dedup

    cur, mh = wl.cur, wl.mh
    text = F.col("text")
    stages = {
        "curation.gate_s": lambda: cur.filter(
            gopher_pass(text) & blocklist_pass(text, wl.blockterms)).count(),
        "repetition.repetition_s": lambda: cur.filter(
            repetition_pass_expr(text)).count(),
        "paragraphs.para_dedup_s": lambda: paragraph_dedup(
            cur.select("doc_id", "text"), max_docs=1).write.format(
                "noop").mode("overwrite").save(),
        "pii.pii_s": lambda: cur.select(redact_pii(text).alias("t")).write
        .format("noop").mode("overwrite").save(),
        "dedup.exact_dedup_s": lambda: dedup.exact_dedup_groups(cur).collect(),
    }
    out = {}
    for name, fn in stages.items():
        t = time.perf_counter()
        tracer.span(name, fn)
        out[name] = time.perf_counter() - t
    # candidate pairs with minhash_dedup's default bands/rows
    sig = dedup.minhash_signatures(mh)
    out["dedup.minhash_candidates"] = float(tracer.span(
        "dedup.candidates", lambda: dedup.lsh_candidate_pairs(sig).count()))
    return out


def traced_round(spark, wl, spec, untraced: list[dict] | None) -> dict:
    """Traced rounds → per-layer metrics.  ``untraced`` rounds of the same
    session give the tracing overhead (None: not computed)."""
    sc = spark.sparkContext
    tracer = spans.Tracer(f"{spec['workload']}-{spec['seed']}", sc)
    install_wrappers(tracer)
    t_start = time.time()
    layers: dict = {}
    try:
        if isinstance(wl, CrawlResume):
            # same batches as the first untraced ones, on a fresh restore
            wl.restore()
            rounds = [wl.round() for _ in range(2)]
            base = untraced[:2]
        elif isinstance(wl, CurateSuite):
            rounds = [wl.round(tracer)]
            base = untraced
        else:
            rounds = [wl.round(), wl.round()]      # one 4-task, one 1-task
            base = untraced
        # crawl_fresh's job_s is the 4-task side's; compare like with like
        traced_4 = [r for r in rounds if r.get("side", "4task") == "4task"]
        overhead = 0.0
        if base:
            base = [r for r in base if r.get("side", "4task") == "4task"]
            overhead = statistics.median(r["s"] for r in traced_4) - \
                statistics.median(r["s"] for r in base)
        if isinstance(wl, CurateSuite):
            layers.update(curate_stage_layers(tracer, wl))
    finally:
        tracer.unwrap_all()
    jobs = spans.jobs_between(sc, t_start, time.time())
    layers.update(pipeline_layers(tracer, jobs))
    for k, v in spans.python_node_metrics(spark, t_start).items():
        layers[f"extract.{k}"] = v
    by_span = _jobs_by_span(jobs)
    if isinstance(wl, CurateSuite):
        for name, jobs_key, shuffle_key in (
                ("curate.report", "curation.jobs", "curation.shuffle_mb"),
                ("curate.minhash", "dedup.minhash_jobs",
                 "dedup.minhash_shuffle_mb")):
            sid = next(s["id"] for s in tracer.spans if s["name"] == name)
            tot = spans.spark_totals(_sub_jobs(tracer, by_span, sid))
            layers[jobs_key] = tot["jobs"]
            layers[shuffle_key] = tot["shuffle_mb"]
        layers["dedup.minhash_s"] = rounds[0]["minhash_s"]
        n_pairs = len(rounds[0]["pairs"])
        cand = layers.get("dedup.minhash_candidates", 0.0)
        layers["dedup.minhash_verified_frac"] = n_pairs / cand if cand else 0.0
    layers["trace.overhead_s"] = overhead
    layers["trace.job_s"] = statistics.median(r["s"] for r in traced_4)
    for sp in tracer.spans:
        sp["self_s"] = tracer.self_time(sp["id"])
        sp["jobs"] = [j["id"] for j in by_span.get(sp["id"], [])]
    return {"layers": layers, "rounds": rounds, "spans": tracer.spans}


CURATE_LAYERS = ("curation.", "repetition.", "paragraphs.", "pii.", "dedup.")


def curate_probe(spark, spec: dict) -> dict:
    """curate_suite's layers, measured inside a crawl workload's traced
    run on the seed's curate_suite inputs: warm-up, one untraced round,
    one traced round and each stage alone."""
    cspec = {**spec, "workload": "curate_suite",
             "inputs": spec["curate_inputs"]}
    cs = CurateSuite(spark, cspec)
    cs.warm()
    cs.prepare()
    tr = traced_round(spark, cs, cspec, untraced=None)
    return {"layers": {k: v for k, v in tr["layers"].items()
                       if k.startswith(CURATE_LAYERS)},
            "rounds": tr["rounds"], "spans": tr["spans"]}


# ---------------------------------------------------------------------------

def main() -> None:
    spec_path, out_path = sys.argv[1], sys.argv[2]
    with open(spec_path) as f:
        spec = json.load(f)
    spark, timings = start_session(spec)
    wl = WORKLOADS[spec["workload"]](spark, spec)
    t = time.perf_counter()
    wl.warm()
    timings["warmup_s"] = time.perf_counter() - t
    timings["setup_s"] = time.monotonic() - spec["spawn_monotonic"]
    wl.prepare()
    gen.read_inputs_once(spec["inputs"])
    with PeakRss() as rss:
        rounds = run_rounds(wl, spec["seconds"])
    sc = spark.sparkContext
    round_stats(sc, wl, rounds)
    t0 = _epoch(rounds[0]["wall"][0])
    t1 = _epoch(rounds[-1]["wall"][1])
    all_jobs = spans.jobs_between(sc, t0, t1)
    out = {"timings": timings, "rounds": rounds,
           "peak_rss_mb": rss.peak / 1e6,
           "spark": spans.spark_totals(all_jobs),
           "task_skew": spans.task_skew(sc, all_jobs)}
    if spec["trace"]:
        out["traced"] = traced_round(spark, wl, spec, rounds)
        if spec.get("curate_inputs"):
            out["curate_probe"] = curate_probe(spark, spec)
    with open(out_path + ".tmp", "w") as f:
        json.dump(out, f, default=str)
    os.replace(out_path + ".tmp", out_path)
    spark.stop()


if __name__ == "__main__":
    main()
