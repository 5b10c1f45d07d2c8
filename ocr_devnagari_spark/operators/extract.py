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

def _fused_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    pid = _pid()
    for pdf in batches:
        rows = [extract_document(u, h)
                for u, h in zip(pdf["url"], pdf["html"])]
        out = pd.DataFrame.from_records(rows)
        out["partition_id"] = pid
        yield out[[f.name for f in EXTRACTED_SCHEMA.fields]]


def extract_fused(pages: DataFrame) -> DataFrame:
    """scan(url, html) → one narrow Arrow-batched map → extracted rows.

    Column pruning is explicit: only ``url`` and ``html`` enter the Python
    worker (never ``text``/``lang`` — at 100 TB the WET text column is a
    second copy of the corpus you must not move).

    Every row runs ``extract_document``, the built-in fast → precise
    route; there is no engine to choose.
    """
    return pages.select("url", "html").mapInPandas(
        _fused_batches, schema=EXTRACTED_SCHEMA)


# ---------------------------------------------------------------------------
# Route predicate (Catalyst-native PDF detection on the binary column)
# ---------------------------------------------------------------------------

def is_pdf_col():
    """``is_pdf_payload`` as a JVM-side Column: pushes to the scan, never
    enters a Python worker.  NULL for a NULL ``html``."""
    return F.expr(f"startswith(html, x'{PDF_MAGIC_HEX}')")
