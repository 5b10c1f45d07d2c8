"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 15 \
        --trace 0

Builds (or loads from cache) the seeded inputs, starts each measured
Spark session in a fresh child process (``child.py``), runs the
correctness gate on what the sessions left behind, and prints one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics.

Everything is read and written under the checkout: inputs are cached in
``.bench_cache/``, each run gets a fresh ``.bench_work/run-*`` directory
(output tables, SPARK_LOCAL_DIRS, TMPDIR) that is removed afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gate  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

CORES = 4
DRIVER_MEM = "2g"          # fits a 15 GiB host; the package default is 48g
RUN_DEADLINE_S = 170.0     # whole run, first (cache-filling) run included
WORKLOADS = ("crawl_fresh", "crawl_resume", "curate_suite")


def metric_units(section: str) -> dict:
    """name → unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[section]}


class BenchError(Exception):
    pass


def _procs() -> list[tuple[int, int, int, str]]:
    """(pid, ppid, session id, state) of every process."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2:].split()
        out.append((int(name), int(fields[1]), int(fields[3]), fields[0]))
    return out


def _kill_and_wait(select, what: str) -> None:
    """SIGKILL every process ``select(pid, ppid, sid)`` picks, reap the
    ones that are (or became, as orphans) this process's children, and
    wait until none is left.  Raises BenchError if one outlives 30 s."""
    me = os.getpid()
    deadline = time.monotonic() + 30
    while True:
        left = [(pid, ppid, state) for pid, ppid, sid, state in _procs()
                if pid != me and select(pid, ppid, sid)]
        for pid, _, state in left:
            if state != "Z":
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        # Done when what is left is zombies someone else reaps.  A zombie
        # of ours, or one whose parent is still in the set, is not done:
        # a multi-threaded process (the JVM) reads as a zombie while its
        # threads still exit, and its children are reparented to us only
        # after that.
        pids = {pid for pid, _, _ in left}
        if all(state == "Z" and ppid != me and ppid not in pids
               for _, ppid, state in left):
            return
        if time.monotonic() > deadline:
            raise BenchError(f"{what} still running: "
                             + " ".join(str(p) for p in sorted(pids)))
        time.sleep(0.05)


def _reap_session(sid: int) -> None:
    """Kill whatever is left of a child's session: the JVM and the Python
    worker daemon with its workers.  The daemon moves itself into a
    process group of its own (pyspark.daemon calls setpgid), so the
    session, not the process group, is what holds them all."""
    _kill_and_wait(lambda pid, ppid, sid_: sid_ == sid,
                   f"processes of session {sid}")


def _reap_descendants() -> None:
    """Kill and wait for every process this one started, directly or
    through orphaned children (this process is their subreaper)."""
    me = os.getpid()
    _kill_and_wait(lambda pid, ppid, sid: ppid == me, "child processes")


def _become_subreaper() -> None:
    """Orphans of our children are reparented to this process, so it can
    reap them (prctl PR_SET_CHILD_SUBREAPER; Linux only, best effort)."""
    try:
        import ctypes
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def run_child(spec: dict, work: str, deadline: float) -> dict:
    spec_path = os.path.join(work, "spec.json")
    out_path = os.path.join(work, "out.json")
    log_path = os.path.join(work, "log.txt")
    env = dict(os.environ)
    env.update({
        "OCRDS_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    env.pop("SPARK_GRAFT_CPUS", None)
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    spec["spawn_monotonic"] = time.monotonic()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), spec_path,
             out_path], stdout=log, stderr=subprocess.STDOUT, env=env,
            cwd=work, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            proc.kill()
            proc.wait()
            _reap_session(proc.pid)
    if rc != 0 or not os.path.exists(out_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        raise BenchError(f"{spec['workload']} session "
                         f"{'timed out' if rc is None else f'exited {rc}'}"
                         f":\n{tail}")
    with open(out_path) as f:
        return json.load(f)


def _med(vals) -> float:
    return statistics.median(list(vals))


def _docs_per_s(rounds: list[dict]) -> float:
    return _med(r["docs"] / r["s"] for r in rounds)


def end_to_end(out: dict, tally) -> dict:
    """crawl_fresh's job_s/docs_per_s/write_amp come from its 4-task
    rounds; its 1-task rounds only feed scaling_eff."""
    rounds = [r for r in out["rounds"] if r.get("side", "4task") == "4task"]
    one = [r for r in out["rounds"] if r.get("side") == "1task"]
    m = {
        "setup_s": out["timings"]["setup_s"],
        "job_s": _med(r["s"] for r in rounds),
        "docs_per_s": _docs_per_s(rounds),
        "peak_rss_mb": out["peak_rss_mb"],
        "write_amp": _med(r["write_amp"] for r in rounds),
        "ok_frac": 1.0 - tally.failed / max(tally.attempted, 1),
        # measured on crawl_fresh only; 1 = "not measured" elsewhere
        "scaling_eff": 1.0,
    }
    if one:
        m["scaling_eff"] = m["docs_per_s"] / (CORES * _docs_per_s(one))
    return m


def per_layer(workload: str, inputs: str, main: dict) -> dict:
    import pyarrow.parquet as pq

    tr = main["traced"]
    # a layer this workload does not load reads 0
    m = {k: 0.0 for k in metric_units("per_layer")}
    m.update(tr["layers"])
    if "curate_probe" in main:
        m.update(main["curate_probe"]["layers"])
    t = main["timings"]
    m["session.get_spark_s"] = t["get_spark_s"]
    m["session.warmup_s"] = t["warmup_s"]
    m["session.package_zip_s"] = t["package_zip_s"]
    n_rounds = len(main["rounds"])
    sp = main["spark"]
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "jvm_gc_s", "failed_tasks"):
        m[f"spark.{k}"] = sp[k] / n_rounds
    m["spark.task_skew"] = main["task_skew"]

    # extract_core over every page of the workload, in this process
    hostile: set = set()
    if workload == "crawl_fresh":
        dirs = ["pages"]
        with open(os.path.join(inputs, "hostile.json")) as f:
            hostile = {u for u, _ in json.load(f)}
    elif workload == "crawl_resume":
        dirs = ["history"] + [f"batch-{b:02d}"
                              for b in range(gen.RESUME_BATCHES)]
    else:
        dirs = []
    pages: dict = {}
    for d in dirs:
        tb = pq.read_table(os.path.join(inputs, d, "pages.parquet"),
                           columns=["url", "html"])
        pages.update(zip(tb.column("url").to_pylist(),
                         tb.column("html").to_pylist()))
    pages = list(pages.items())
    core, per_url = layers.extract_core_layers(pages, hostile)
    m.update(core)
    # boundary share of the traced extraction stages: the pages those
    # stages extracted, timed in-process, against their task run time
    core_s = 0.0
    for r in tr["rounds"]:
        if workload == "crawl_fresh":
            urls = gate.pages_urls(os.path.join(inputs, r["pages"]))
        elif workload == "crawl_resume":
            urls = _new_urls(inputs, r["batch"])
        else:
            urls = set()
        core_s += sum(per_url.get(u, 0.0) for u in urls)
    run_s = m["extract.task_run_s"]
    m["extract.boundary_frac"] = 1.0 - core_s / run_s if run_s else 0.0
    return m


def _new_urls(inputs: str, batch: int) -> set:
    urls = gate.pages_urls(os.path.join(inputs, f"batch-{batch:02d}"))
    hist = gate.pages_urls(os.path.join(inputs, "history"))
    return urls - hist


def write_trace(args, out: dict) -> None:
    """Spans of the traced rounds (with self time and the Spark jobs each
    launched) to ``.bench_traces/<workload>-<seed>.json``."""
    d = os.path.join(ROOT, ".bench_traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-{args.seed}.json")
    runs = {"main": out["traced"]["spans"]}
    if "curate_probe" in out:
        runs["curate_probe"] = out["curate_probe"]["spans"]
    with open(path, "w") as f:
        json.dump(runs, f, indent=1)
    _log(f"spans written to {path}")


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(args) -> dict:
    started = time.monotonic()
    deadline = started + RUN_DEADLINE_S
    cache = os.path.join(ROOT, ".bench_cache")
    inputs = gen.load_or_build(cache, args.workload, args.seed, CORES)
    _log(f"inputs ready in {time.monotonic() - started:.1f} s")
    work = os.path.join(ROOT, ".bench_work",
                        f"run-{os.getpid()}-{int(time.time() * 1e3)}")
    os.makedirs(work)
    try:
        spec = {"workload": args.workload, "seed": args.seed,
                "inputs": inputs, "trace": bool(args.trace), "cores": CORES,
                "seconds": args.seconds, "work": os.path.join(work, "s")}
        curate_inputs = None
        if args.trace and args.workload == "crawl_fresh":
            # the curation layers are traced here (curate_suite is not
            # one of the timed workloads; see README.md)
            curate_inputs = gen.load_or_build(cache, "curate_suite",
                                              args.seed, CORES)
            spec["curate_inputs"] = curate_inputs
        t_child = time.monotonic()
        out = run_child(spec, work, deadline)
        t = out["timings"]
        _log(f"session took {time.monotonic() - t_child:.1f} s: setup "
             f"{t['setup_s']:.2f} s (get_spark {t['get_spark_s']:.2f}, "
             f"warm-up {t['warmup_s']:.2f}), rounds "
             + ", ".join(f"{r['s']:.2f}" for r in out["rounds"]))
        tally = gate.Tally()
        sets = [out["rounds"]]
        if "traced" in out:
            sets.append(out["traced"]["rounds"])
        for rounds in sets:
            if args.workload == "crawl_fresh":
                t = gate.check_fresh(inputs, rounds)
            elif args.workload == "crawl_resume":
                t = gate.check_resume(inputs, rounds, gen.RESUME_BATCHES)
            else:
                t = gate.check_curate(inputs, rounds)
            tally.add(t)
        if "curate_probe" in out:
            tally.add(gate.check_curate(curate_inputs,
                                        out["curate_probe"]["rounds"]))
        # Spark tasks: a failed or retried task is a failed operation
        tally.attempted += out["spark"]["tasks"]
        tally.failed += out["spark"]["failed_tasks"]
        for p in tally.problems[:10]:
            _log(f"gate: {p}")
        _log(f"gate done at {time.monotonic() - started:.1f} s")
        if args.trace:
            write_trace(args, out)
            metrics = per_layer(args.workload, inputs, out)
            units = metric_units("per_layer")
        else:
            metrics = end_to_end(out, tally)
            units = metric_units("end_to_end")
        return {"correct": tally.failed == 0, "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                            for k in units}}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM unwind normally, so the session's process group is
    # killed and reaped and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "ocr_devnagari_spark",
                                       "__init__.py")):
        print("perfbench: the ocr_devnagari_spark package is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2
    _become_subreaper()
    try:
        result = run(args)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        gen.stop_helpers()
        _reap_descendants()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
