"""extract_core per-layer metrics: the benchmark calls the core's public
functions itself, page by page in one process, following the default
route of ``extract_document`` (tokenize once → fast → score → precise on
escalation), and times each call."""

from __future__ import annotations

import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _pct(sorted_vals: list, q: float) -> float:
    if not sorted_vals:
        return 0.0
    return sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))]


def extract_core_layers(pages: list[tuple], hostile_urls: set) -> tuple:
    """pages = [(url, html bytes)].  Returns (metrics, per-url seconds)."""
    from ocr_devnagari_spark import extract_core as ec
    clock = time.perf_counter
    t = {"tokenize_s": 0.0, "fast_s": 0.0, "precise_s": 0.0, "pdf_s": 0.0,
         "score_s": 0.0}
    n = {"docs_fast": 0, "docs_escalated": 0, "docs_pdf": 0,
         "docs_hostile": 0}
    kept = 0
    per_url: dict[str, float] = {}

    def score(text):
        ok, _ = ec.validate_text(text)
        conf = ec.estimate_confidence(text)
        critical = ec.detect_critical(text)[0]
        return ok, conf, critical

    for url, payload in pages:
        d0 = clock()
        if url in hostile_urls:
            n["docs_hostile"] += 1
        if ec.is_pdf_payload(payload):
            text = ec.extract_pdf(payload)
            a = clock()
            ec.validate_text(text)
            b = clock()
            t["pdf_s"] += a - d0
            t["score_s"] += b - a
            n["docs_pdf"] += 1
            per_url[url] = b - d0
            continue
        html = payload.decode("utf-8", errors="replace")
        a = clock()
        events = ec.materialize_events(html)
        b = clock()
        fast_text = ec.fast_extract_html(events)[0]
        c = clock()
        ok, conf, critical = score(fast_text)
        d = clock()
        t["tokenize_s"] += b - a
        t["fast_s"] += c - b
        t["score_s"] += d - c
        if ok and conf >= ec.CONFIDENCE_THRESHOLD and not critical:
            n["docs_fast"] += 1
            per_url[url] = d - d0
            continue
        n["docs_escalated"] += 1
        precise_text = ec.precise_extract_html(events)
        e = clock()
        p_ok, _ = ec.validate_text(precise_text)
        f = clock()
        t["precise_s"] += e - d
        t["score_s"] += f - e
        kept += bool(p_ok)
        per_url[url] = f - d0
    times = sorted(per_url.values())
    m = {f"extract_core.{k}": float(v) for k, v in {**n, **t}.items()}
    m["extract_core.doc_ms_p50"] = _pct(times, 0.50) * 1e3
    m["extract_core.doc_ms_p99"] = _pct(times, 0.99) * 1e3
    m["extract_core.doc_ms_max"] = (times[-1] if times else 0.0) * 1e3
    m["extract_core.precise_kept_frac"] = (
        kept / n["docs_escalated"] if n["docs_escalated"] else 0.0)
    m["extract_core.hostile_growth_4x"] = (
        hostile_growth() if hostile_urls else 0.0)
    return m, per_url


def hostile_growth() -> float:
    """Time ratio of the planted hostile kinds at 4n vs n bytes (4 when
    cost is linear in size).  n = a quarter of the planted size."""
    from ocr_devnagari_spark.extract_core import extract_document
    small = big = 0.0
    for kind in gen.HOSTILE_KINDS:
        size = gen.HOSTILE_BYTES[kind]
        for nbytes, acc in ((size // 4, "s"), (size, "b")):
            payload = gen.hostile_payload(kind, nbytes)
            reps = []
            for _ in range(3):
                t = time.perf_counter()
                extract_document("https://hostile.example/x.html", payload)
                reps.append(time.perf_counter() - t)
            if acc == "s":
                small += statistics.median(reps)
            else:
                big += statistics.median(reps)
    return big / small if small else 0.0
