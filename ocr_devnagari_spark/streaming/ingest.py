"""Structured-Streaming incremental ingest — the streaming-native variant
of checkpoint/resume.

The reference has no streaming surface (SURVEY.md §2.9): its incremental
story is batch resume (anti-join vs committed work). That stays the primary
mode. This module adds the Spark-idiomatic alternative for continuously
landing crawl data: a file-source stream over the pages directory with
exactly-once semantics from Spark's own checkpoint — new parquet files
appearing under the input dir are extracted incrementally, already-seen
files never reprocess (the file-source ledger replaces our anti-join).

Stateless ``mapInPandas`` is fully supported in Structured Streaming, so
``extract_fused`` is reused verbatim — the streaming and batch paths cannot
diverge semantically because they are the same stage.

``trigger(availableNow=True)`` drains everything currently available and
stops — the cloud-scale pattern for periodic incremental jobs (run from
cron, exactly-once, no long-lived driver).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.extract import extract_fused
from ..plans.pipeline import PAGES_SCHEMA


def stream_extract_available_now(
    spark: SparkSession,
    input_glob: str,
    output_dir: str,
    checkpoint_dir: str,
) -> int:
    """Drain all currently-available new files through extraction.

    Returns the number of micro-batches executed. Exactly-once across
    re-runs: the streaming checkpoint remembers processed files, so calling
    this twice with no new input writes nothing new (the streaming
    counterpart of the reference's resume idempotency,
    ``docs/RESILIENT_OCR_PLAN.md:412-415``).
    """
    pages = (spark.readStream.schema(PAGES_SCHEMA)
             .option("pathGlobFilter", "*.parquet").parquet(input_glob))

    out = extract_fused(pages).drop("partition_id")

    n_batches = 0

    def _count_batches(_df, _epoch):
        nonlocal n_batches
        n_batches += 1
        _df.write.mode("append").parquet(output_dir)

    q = (out.writeStream
         .foreachBatch(_count_batches)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return n_batches
