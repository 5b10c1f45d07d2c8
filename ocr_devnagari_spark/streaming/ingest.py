"""Structured-Streaming incremental ingest — the streaming-native variant
of checkpoint/resume.

The reference has no streaming surface (SURVEY.md §2.9): its incremental
story is batch resume (anti-join vs committed work). That stays the primary
mode. This module adds the Spark-idiomatic alternative for continuously
landing crawl data: a file-source stream over the pages directory, where
each micro-batch goes through the batch job's own commit path,
``plans/pipeline.py::extract_and_commit`` (resume anti-join, extraction,
icebox snapshot, lineage rows). The stream and the batch job write one
table with one schema, and neither commits a url the other committed.

Exactly-once comes from the icebox job token, not from the file-source
ledger alone. ``foreachBatch`` is at-least-once: a batch that fails after
its commit is replayed with the same ``batch_id`` when the query restarts
from its checkpoint. The batch's token is built from the checkpoint
location and ``batch_id``, so the replay finds its token applied, commits
nothing and only heals a missing lineage append. The ledger still keeps
already-seen files from being read again.

``trigger(availableNow=True)`` drains everything currently available and
stops — the cloud-scale pattern for periodic incremental jobs (run from
cron, no long-lived driver).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..config import DEFAULT_CONFIG, ExtractConfig
from ..plans.pipeline import PAGES_SCHEMA, extract_and_commit


def stream_extract_available_now(
    spark: SparkSession,
    input_glob: str,
    checkpoint_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
) -> int:
    """Drain all currently-available new files into ``cfg``'s tables.

    Returns the number of micro-batches executed. Calling this twice with
    no new input commits nothing new (the streaming counterpart of the
    reference's resume idempotency,
    ``docs/RESILIENT_OCR_PLAN.md:412-415``).
    """
    pages = (spark.readStream.schema(PAGES_SCHEMA)
             .option("pathGlobFilter", "*.parquet").parquet(input_glob))

    n_batches = 0

    def _commit_batch(batch, batch_id):
        nonlocal n_batches
        n_batches += 1
        extract_and_commit(spark, batch, cfg,
                           job_token=f"stream-{checkpoint_dir}-{batch_id}")

    q = (pages.writeStream
         .foreachBatch(_commit_batch)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return n_batches
