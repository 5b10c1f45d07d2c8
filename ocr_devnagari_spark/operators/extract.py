"""Distributed extraction stage (Arrow-batched ``mapInPandas``).

The reference's hybrid routing (``backends/hybrid_backend.py:144-218``)
runs as ONE narrow ``mapInPandas`` stage per input split: fast-extract every
row, run the precise extractor inline on the escalated minority of the
batch. Plan shape = scan → map → sink: zero shuffles, one pass over the
payload bytes, embarrassingly parallel, task working set bounded by the
Arrow batch size. At 10^12 documents this is the only sane topology — a
fast → filter → precise → join-back plan either scans the payload column
twice or shuffles it.

The per-row logic is ``extract_core.extract_document`` — the same pure
function the golden oracle runs, which is what makes byte-identity a
theorem rather than a hope.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..extract_core import extract_document

# Output schema — FIXTURES.md F3 ``extracted`` + partition provenance.
EXTRACTED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("success", T.BooleanType(), False),
    T.StructField("confidence", T.DoubleType(), False),
    T.StructField("error", T.StringType(), True),
    T.StructField("backend_used", T.StringType(), False),
    T.StructField("needs_verification", T.BooleanType(), False),
    T.StructField("rule_hits", T.MapType(T.StringType(), T.LongType()), False),
    T.StructField("partition_id", T.IntegerType(), False),
])

PDF_MAGIC_HEX = "46504446310a"  # b"FPDF1\n"


def _pid() -> int:
    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else -1


# ---------------------------------------------------------------------------
# Fused stage
# ---------------------------------------------------------------------------

def _fused_batches(batches: Iterator[pd.DataFrame],
                   primary, precise) -> Iterator[pd.DataFrame]:
    pid = _pid()
    # Resolve backends executor-side; lifecycle hooks run ONCE per task
    # around the batch loop (the reference's backend.initialize() /
    # cleanup() contract, base.py:49-132 — per-executor amortization for
    # heavy backends like a real model; pure built-ins have no hooks).
    # A string resolves against the registry AS IMPORTED ON THE WORKER
    # (built-ins + module-registration only); a BackendSpec/callable is
    # shipped inside the task closure and needs no registry sync.
    def _resolve(x):
        if x is None:
            return None, None
        if isinstance(x, str):
            from .registry import get_spec
            spec = get_spec(x)
            return spec.fn, spec
        from .registry import BackendSpec
        if isinstance(x, BackendSpec):
            return x.fn, x
        return x, None                       # bare callable, no lifecycle
    p_fn, p_spec = _resolve(primary)
    pr_fn, pr_spec = _resolve(precise)
    specs = [s for s in (p_spec, pr_spec) if s is not None]
    inited: list = []        # cleanup exactly the specs whose initialize
    #                          ran — a failed SECOND initialize must still
    #                          clean up the first (workers are reused
    #                          across tasks; a leak persists)
    try:
        for spec in specs:
            if spec.initialize is not None:
                ok, msg = spec.initialize()
                if not ok:
                    raise RuntimeError(f"backend initialize failed: {msg}")
            inited.append(spec)
        for pdf in batches:
            rows = [extract_document(u, h, p_fn, pr_fn)
                    for u, h in zip(pdf["url"], pdf["html"])]
            out = pd.DataFrame.from_records(rows)
            out["partition_id"] = pid
            yield out[[f.name for f in EXTRACTED_SCHEMA.fields]]
    finally:
        errs = []
        for spec in inited:
            if spec.cleanup is not None:
                try:
                    spec.cleanup()
                except Exception as e:     # noqa: BLE001 — every inited
                    errs.append(e)         # backend must get its attempt:
                    #                        workers are reused across
                    #                        tasks, a skipped cleanup leaks
        import sys
        if errs and sys.exc_info()[0] is None:
            raise errs[0]      # surface cleanup failure, but never mask
            #                    an in-flight task error with it


def extract_fused(pages: DataFrame,
                  primary=None,
                  precise=None) -> DataFrame:
    """scan(url, html) → one narrow Arrow-batched map → extracted rows.

    Column pruning is explicit: only ``url`` and ``html`` enter the Python
    worker (never ``text``/``lang`` — at 100 TB the WET text column is a
    second copy of the corpus you must not move).

    ``primary``/``precise`` select backends: a string resolves against the
    registry on the worker (``operators/registry.py``), a ``BackendSpec``
    travels in the task closure (lifecycle hooks honored), a bare callable
    travels in the closure with no lifecycle; None = built-in defaults.
    """
    src = pages.select("url", "html")
    return src.mapInPandas(
        lambda it: _fused_batches(it, primary, precise),
        schema=EXTRACTED_SCHEMA)


# ---------------------------------------------------------------------------
# Route predicate (Catalyst-native PDF detection on the binary column)
# ---------------------------------------------------------------------------

def is_pdf_col():
    """``is_pdf_payload`` as a JVM-side Column: pushes to the scan, never
    enters a Python worker.  NULL for a NULL ``html``."""
    return F.expr(f"startswith(html, x'{PDF_MAGIC_HEX}')")
