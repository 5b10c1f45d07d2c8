"""In-memory spans around calls into the program's layers, plus the Spark
status-store reads that attach job, stage and SQL metrics to them.

A span is (id, name, start, end, parent, run id).  While a span is open
the wrapper sets ``spark.job.description`` to ``span:<id>``; Spark copies
that local property onto every job the call launches, including the
jobs adaptive execution submits from its own threads, so each job is
attributed to the innermost open span.  Self time is a span's duration
minus the time its children cover.

Spans are recorded only around functions this module wraps from the
benchmark's side; the program itself is not instrumented.
"""

from __future__ import annotations

import functools
import re
import time


class Tracer:
    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = sc
        self._undo: list = []

    def _set_desc(self, desc: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty("spark.job.description", desc)

    def span(self, name: str, fn, *args, note=None, **kwargs):
        """Run ``fn`` inside a span; ``note(args, result)`` may return
        extra fields for the span record."""
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "run": self.run_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_desc(f"span:{sid}")
        try:
            result = fn(*args, **kwargs)
            if note is not None:
                rec.update(note(args, result))
            return result
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_desc(f"span:{self._stack[-1]}" if self._stack else None)

    def wrap(self, owner, attr: str, name: str, note=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper until
        ``unwrap_all``.  ``owner`` is a module or a class."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer.span(name, orig, *args, note=note, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- derived ------------------------------------------------------------
    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        covered = union_len([(c["start"], c["end"])
                              for c in self.children(sid)])
        return (s["end"] - s["start"]) - covered

    def subtree(self, sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(cur)
            todo.extend(c["id"] for c in self.children(cur))
        return out


def union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

def _opt(o):
    return o.get() if o.isDefined() else None


def jobs_between(sc, t_start: float, t_end: float) -> list[dict]:
    """Jobs submitted in [t_start, t_end] (epoch seconds), with their
    stage metrics summed over each stage's last attempt."""
    store = sc._jsc.sc().statusStore()
    jl = store.jobsList(None)
    out = []
    for i in range(jl.size()):
        j = jl.apply(i)
        sub = _opt(j.submissionTime())
        if sub is None:
            continue
        sub_s = sub.getTime() / 1000.0
        if not (t_start - 0.002 <= sub_s <= t_end + 0.002):
            continue
        comp = _opt(j.completionTime())
        stages = []
        ids = j.stageIds()
        for k in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(k))
            except Exception:          # stage never ran (skipped)
                continue
            if st.status().toString() == "SKIPPED":
                continue
            stages.append({
                "id": st.stageId(), "attempt": st.attemptId(),
                "tasks": st.numTasks(), "failed": st.numFailedTasks(),
                "run_s": st.executorRunTime() / 1e3,
                "cpu_s": st.executorCpuTime() / 1e9,
                "gc_s": st.jvmGcTime() / 1e3,
                "input_b": st.inputBytes(), "output_b": st.outputBytes(),
                "shuffle_r": st.shuffleReadBytes(),
                "shuffle_w": st.shuffleWriteBytes(),
                "spill_b": st.diskBytesSpilled()})
        out.append({
            "id": j.jobId(), "desc": _opt(j.description()),
            "start": sub_s,
            "end": comp.getTime() / 1000.0 if comp is not None else sub_s,
            "status": j.status().toString(),
            "failed_tasks": j.numFailedTasks(), "stages": stages})
    out.sort(key=lambda r: r["id"])
    return out


def task_skew(sc, jobs: list[dict]) -> float:
    """max ÷ median task duration in the stage with the largest summed
    run time."""
    best = None
    for j in jobs:
        for s in j["stages"]:
            if best is None or s["run_s"] > best["run_s"]:
                best = s
    if best is None or best["tasks"] < 1:
        return 0.0
    store = sc._jsc.sc().statusStore()
    tl = store.taskList(best["id"], best["attempt"], 100_000)
    durs = sorted(_opt(tl.apply(i).duration()) or 0 for i in range(tl.size()))
    if not durs or durs[len(durs) // 2] == 0:
        return 0.0
    return durs[-1] / durs[len(durs) // 2]


def spark_totals(jobs: list[dict]) -> dict:
    stages = [s for j in jobs for s in j["stages"]]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "executor_run_s": sum(s["run_s"] for s in stages),
        "executor_cpu_s": sum(s["cpu_s"] for s in stages),
        "jvm_gc_s": sum(s["gc_s"] for s in stages),
        "input_mb": sum(s["input_b"] for s in stages) / 1e6,
        "shuffle_mb": sum(s["shuffle_w"] for s in stages) / 1e6,
        "bytes_written_mb": sum(s["output_b"] for s in stages) / 1e6,
        "failed_tasks": sum(s["failed"] for s in stages),
        "job_s": union_len([(j["start"], j["end"]) for j in jobs]),
    }


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_VAL_RE = re.compile(r"([\d.,]+)\s*([A-Za-z]+)?")


def _metric_value(text: str) -> float:
    """Total of a formatted SQL metric ('1.2 s' or 'total (min, med,
    max ...)\\n3.4 MiB (...)')."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VAL_RE.match(line.strip())
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1.0)


_PY_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_total_s",
    "data sent to Python workers": "arrow_sent_mb",
    "data returned from Python workers": "arrow_recv_mb",
}


def python_node_metrics(spark, t_start: float, node: str = "MapInPandas"
                        ) -> dict:
    """Sum the Python-boundary SQL metrics of every ``node`` plan node in
    SQL executions submitted after ``t_start`` (epoch seconds)."""
    store = spark._jsparkSession.sharedState().statusStore()
    ex = store.executionsList()
    out = {v: 0.0 for v in _PY_METRICS.values()}
    for i in range(ex.size()):
        e = ex.apply(i)
        if e.submissionTime() / 1000.0 < t_start - 0.002:
            continue
        vals = store.executionMetrics(e.executionId())
        nodes = store.planGraph(e.executionId()).allNodes()
        for k in range(nodes.size()):
            n = nodes.apply(k)
            if n.name() != node:
                continue
            ms = n.metrics()
            for q in range(ms.size()):
                m = ms.apply(q)
                key = _PY_METRICS.get(m.name())
                v = vals.get(m.accumulatorId())
                if key and v.isDefined():
                    out[key] += _metric_value(v.get())
    for k in ("arrow_sent_mb", "arrow_recv_mb"):
        out[k] /= 1e6
    return out
