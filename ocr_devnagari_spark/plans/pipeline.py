"""End-to-end extraction job: read → resume anti-join → extract → commit.

The Spark lifecycle mapping of the reference's primary entry point
(``cli.ocr`` → ``MultiBackendProcessor.process_pdf_async``,
``multi_processor.py:268-532``; SURVEY.md §3.4):

    job args → read pages table → LEFT ANTI join (already-extracted urls)
    → [optional rebalance] → fused hybrid extraction (one narrow map)
    → icebox append commit + per-partition lineage rows.

Scale notes (the parts that must survive 1000 executors × 100 TB):

- **Resume is an anti-join, not a driver loop** (the reference's
  ``[p for p in requested if p not in completed]``, ``utils.py:70-72``,
  is O(n²) driver-side; here Catalyst plans a broadcast or shuffled anti
  join and AQE picks by the checkpoint's actual size).
- **No payload shuffle by default.** The extraction map is narrow; task
  granularity is governed by ``spark.sql.files.maxPartitionBytes``, which
  bounds per-task working set WITHOUT moving 100 TB through a shuffle.
  ``rebalance_mode='salted'`` exists for pathologically skewed inputs (a
  few multi-GB rows): it repartitions by (size-tier, host-hash ⊕ salt) —
  use it only when input file layout itself is skewed, because it pays a
  full shuffle of the payload bytes.
- **Per-partition lineage, not per-row driver writes.** The reference
  JSON-dumps progress after EVERY page (``utils.py:41-56``, called per page
  at ``multi_processor.py:457``) — a driver-side bottleneck at any scale.
  Here each task's stats become one lineage row (FIXTURES.md F3): one
  aggregation by partition_id, a tiny shuffle of (partition_id, counters)
  tuples.

``extract_and_commit`` holds everything from the resume anti-join to
the lineage append and is the one commit path: ``run_extract_job`` calls
it for a batch run and for a resume.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG, ExtractConfig
from ..extract_core import CRITICAL_FAMILIES, PRECISE_COST_PER_PAGE
from ..gates import broadcast_if_small, materialize
from ..operators.extract import EXTRACTED_SCHEMA, extract_fused
from ..sources.icebox import IceboxTable

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

# The extracted table's schema, the same for every dedup mode: the
# extraction output plus ``fingerprint`` (md5 of the text) and
# ``duplicate_of`` (NULL unless an in-job dedup marks the row).  Every
# read of the table or of its staged files passes it, so no read pays a
# schema-inference job; a file written without the last two columns
# reads them as NULL.
TABLE_SCHEMA = T.StructType(EXTRACTED_SCHEMA.fields + [
    T.StructField("fingerprint", T.StringType(), True),
    T.StructField("duplicate_of", T.StringType(), True),
])

LINEAGE_SCHEMA = T.StructType([
    T.StructField("snapshot_id", T.LongType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("url_min", T.StringType(), True),
    T.StructField("url_max", T.StringType(), True),
    T.StructField("row_count", T.LongType(), False),
    T.StructField("failed_count", T.LongType(), False),
    T.StructField("rule_hits", T.MapType(T.StringType(), T.LongType()), True),
    T.StructField("committed_at", T.TimestampType(), False),
])


def read_pages(spark: SparkSession, corpus_dir: str) -> DataFrame:
    return spark.read.schema(PAGES_SCHEMA).parquet(
        os.path.join(corpus_dir, "pages.parquet"))


def pending_pages(pages: DataFrame, extracted: IceboxTable,
                  spark: SparkSession) -> DataFrame:
    """Resume semantics (J1/R2): requested − already committed, as a
    LEFT ANTI join on url. With no checkpoint, everything is pending."""
    if not extracted.exists():
        return pages
    done = extracted.read(spark, TABLE_SCHEMA).select("url")
    return pages.join(done, "url", "left_anti")


# Shape of the salted rebalance: output partitions, per-host salt fan-out
# for hot hosts, and the html-size tier edges in bytes.
REBALANCE_PARTITIONS = 32
SALT_BUCKETS = 8
SIZE_TIER_BYTES = (4_096, 65_536, 1_048_576)


def rebalance(pages: DataFrame) -> DataFrame:
    """Optional skew-breaking shuffle: (size-tier, host, salt) keys.

    Size tier = log2 bucket of payload bytes keeps giant documents from
    convoying small ones in one task; the salt (hash of the full url) splits
    hot hosts across ``SALT_BUCKETS`` partitions (north-rule skew handling;
    Common-Crawl host and size distributions are heavy-tailed).
    """
    sz = F.length(F.col("html"))
    tier = (F.when(sz < SIZE_TIER_BYTES[0], 0)
             .when(sz < SIZE_TIER_BYTES[1], 1)
             .when(sz < SIZE_TIER_BYTES[2], 2)
             .otherwise(3))
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    salt = F.pmod(F.xxhash64(F.col("url")), F.lit(SALT_BUCKETS))
    return pages.repartition(
        REBALANCE_PARTITIONS, tier.alias("size_tier"),
        F.xxhash64(host).alias("host_hash"), salt.alias("salt"))


def lineage_rows(extracted: DataFrame, snapshot_id: int) -> DataFrame:
    """Per-partition commit records (FIXTURES.md F3): row counts, url range,
    failure counts and the rule-hit histogram — ONE aggregation by
    partition_id. The histogram sums each critical family's hits (families
    are a fixed set, ``CRITICAL_FAMILIES``) and keeps the families that
    were hit; a partition without hits gets NULL."""
    hits = F.map_filter(
        F.create_map(*[x for fam in CRITICAL_FAMILIES for x in (
            F.lit(fam), F.sum(F.col("rule_hits")[fam]))]),
        lambda _, n: n.isNotNull())
    stamps = {"snapshot_id": F.lit(snapshot_id).cast("long"),
              "committed_at": F.current_timestamp()}
    return (extracted.groupBy("partition_id").agg(
                F.min("url").alias("url_min"),
                F.max("url").alias("url_max"),
                F.count("*").alias("row_count"),
                F.sum(F.when(~F.col("success"), 1).otherwise(0))
                .alias("failed_count"),
                F.when(F.size(hits) > 0, hits).alias("rule_hits"))
            .select(*[stamps.get(f.name, F.col(f.name)).alias(f.name)
                      for f in LINEAGE_SCHEMA.fields]))


def keeper_map(pairs: DataFrame, prior: DataFrame | None = None) -> DataFrame:
    """The rows of ``pairs`` to MARK, each with ``keep_url``, the
    canonical url of its fingerprint: the minimum url among the ``prior``
    rows of that fingerprint (committed canonical rows take precedence,
    so resumed / incremental runs mark cross-run duplicates too), else,
    when the fingerprint occurs more than once in ``pairs``, the minimum
    url of the batch.  A row whose url is the keeper is not returned.

    ``pairs`` = the batch's (fingerprint, url) columns plus any small
    per-row tags (``mark_staged_duplicates`` adds the row's file) —
    parquet column pruning keeps the text out of the shuffle.  ``prior``
    = (fingerprint, url) of canonical committed rows.  Both meet in ONE
    window over ``fingerprint`` (one shuffle, one scan of each side), so
    every fingerprint's batch and committed urls are compared without a
    join.  A NULL fingerprint (a file written before the column existed)
    never marks and never keeps."""
    is_prior = F.col("_prior")
    rows = pairs.select("*", F.lit(False).alias("_prior"))
    if prior is not None:
        rows = rows.unionByName(
            prior.select("fingerprint", "url", F.lit(True).alias("_prior")),
            allowMissingColumns=True)
    by_fp = Window.partitionBy("fingerprint")
    prior_url = F.min(F.when(is_prior, F.col("url"))).over(by_fp)
    new_min = F.min(F.when(~is_prior, F.col("url"))).over(by_fp)
    n_new = F.count(F.when(~is_prior, F.lit(1))).over(by_fp)
    keep = F.coalesce(prior_url, F.when(n_new > 1, new_min))
    return (rows.filter(F.col("fingerprint").isNotNull())
            .select(*pairs.columns, "_prior", keep.alias("keep_url"))
            .filter(~is_prior & (F.col("url") != F.col("keep_url")))
            .select(*pairs.columns, "keep_url"))


def exact_dedup_mark(staged: DataFrame, marks: DataFrame,
                     bound: int) -> DataFrame:
    """In-job exact dedup — MARK, don't drop: every url still commits (so
    resume converges to zero pending); non-canonical copies carry
    ``duplicate_of`` = the canonical url for their fingerprint. Consumers
    filter ``duplicate_of IS NULL``. Dropping rows instead would leave the
    dropped urls pending forever and re-commit them as duplicates on the
    next resume.

    ``staged`` joins ``marks`` (``keeper_map`` rows, one per
    (fingerprint, url)) on (fingerprint, url).  ``mark_staged_duplicates``
    passes the marks of the whole batch and the committed table, so a
    subset of the staged files is marked against all of them.  Join
    strategy is GATED, not forced: the marks are dup-fraction-sized,
    which is usually broadcastable but NOT always — re-crawl-heavy
    corpora run 20-30%+ exact dups, and a forced broadcast of a
    billion-row side kills the driver.  ``gates.broadcast_if_small``
    decides from ``bound``, an upper bound on the marks' row count
    (``mark_staged_duplicates`` passes the count it observed): at or
    under its limit the choice is settled without a job, else one
    bounded count runs.  Under the limit the marks broadcast (and no
    Exchange carries the payload — ``test_dedup_mark_shuffles_no_payload``),
    above it the hint is omitted and AQE plans a shuffled join.
    """
    marks = broadcast_if_small(
        marks.select("fingerprint", "url", "keep_url"), bound=bound)
    return (staged.drop("duplicate_of")
            .join(marks, ["fingerprint", "url"], "left")
            .select(*[F.col("keep_url").alias(c) if c == "duplicate_of"
                      else c for c in staged.columns]))


def mark_staged_duplicates(spark: SparkSession, out: IceboxTable,
                           files: list, schema: T.StructType,
                           prior: DataFrame | None
                           ) -> tuple[list, int, int]:
    """Single-write dedup commit: annotate duplicates by REWRITING ONLY
    the staged files that contain a to-be-marked row (Iceberg
    MERGE-on-read rewrites only files with matched keys; the emulation
    does the same at file granularity). The previous shape — stage full
    output, read back, mark, re-stage full output — paid 2× the job's
    entire write I/O to annotate a few-% minority of rows; here bytes
    written ≈ 1× + dup-fraction.

    ``schema`` is the staged files' schema: both reads below use it, so
    neither pays a footer-inference job.

    One pass decides everything: the marks — (fingerprint, url, _file,
    keep_url) for exactly the rows to mark — are materialized once, and
    an ``observe`` on that same pass yields the marked-row count and the
    set of affected files, so no further job asks either question.  The
    count then bounds the marks for the broadcast gate (no count job),
    and the affected files join the marks on (fingerprint, url).  A url
    staged twice keeps one marks row per (fingerprint, url), so the join
    never multiplies rows.

    Returns (files_for_commit, n_marked_rows, n_files_rewritten). All
    planning shuffles carry (fingerprint, url, file) tuples only; the
    payload moves once, inside the rewrite of affected files.
    """
    from urllib.parse import unquote, urlparse

    pairs = (spark.read.schema(schema).parquet(*files)
             .select("fingerprint", "url",
                     F.input_file_name().alias("_file")))
    obs = Observation("dedup_marks")
    # The rewrite can only be planned once the observed files are known,
    # so the marks are checkpointed by that same job: the rewrite reads
    # them back instead of rerunning the scans and the window.
    # materialize picks reliable checkpoints when sc.setCheckpointDir is
    # configured (cluster: survives executor loss) and localCheckpoint
    # otherwise (local[N]: executor == driver JVM).
    marks = materialize(
        keeper_map(pairs, prior)
        .observe(obs, F.count(F.lit(1)).alias("n"),
                 F.collect_set("_file").alias("files"))
        .dropDuplicates(["fingerprint", "url"]))
    seen = obs.get
    if not seen["n"]:
        return files, 0, 0
    # input_file_name yields a URI (file:/... or s3a://...); staged file
    # names (part-<n>-<uuid>) are unique within the staging dir, so match
    # on the decoded basename.
    aff_names = {os.path.basename(unquote(urlparse(f).path))
                 for f in seen["files"]}
    affected = [f for f in files if os.path.basename(f) in aff_names]
    untouched = [f for f in files if os.path.basename(f) not in aff_names]
    marked = exact_dedup_mark(spark.read.schema(schema).parquet(*affected),
                              marks=marks, bound=seen["n"])
    marked_files, _ = out.stage(marked)
    for f in affected:                     # superseded, never committed
        os.remove(f)
    return untouched + marked_files, seen["n"], len(affected)


def run_extract_job(
    spark: SparkSession,
    corpus_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    job_token: str | None = None,
    rebalance_mode: str = "none",
    limit_pending: int | None = None,
    dedup: str = "none",
    pages: str | None = None,
) -> dict:
    """Run (or resume) the extraction job. Returns summary counters.

    ``limit_pending`` exists for the resilience tests: process only a prefix
    of the pending work, commit it, and leave the rest for the next run —
    simulating the reference's kill-9-mid-run scenario
    (``docs/RESILIENT_OCR_PLAN.md:438-471``).

    ``pages`` restricts the run to a document-number subset — the
    reference CLI's ``--pages "1-50,60"`` flag (``utils.py:75-141`` parse,
    wired through ``cli.py:134-251``). The number is the last digit run
    in the url (the corpus convention: ``.../a/000000000123.html``);
    rows whose url carries no number are excluded when a range is given.
    The predicate is a Catalyst filter, so it composes with the resume
    anti-join: ``--pages`` + resume converges exactly like a full run.
    """
    src_pages = read_pages(spark, corpus_dir)
    if pages is not None and pages.strip().lower() != "all":
        from ..functions.text import range_predicate
        # try_cast: under ANSI (Spark 4 default) a >19-digit url tail
        # would make a plain cast throw and abort the run; such rows are
        # simply outside any selectable range
        seq = F.regexp_extract(F.col("url"), r"(\d+)[^\d]*$", 1) \
            .try_cast("long")
        src_pages = src_pages.filter(
            seq.isNotNull() & range_predicate(seq, pages))
    return extract_and_commit(spark, src_pages, cfg, job_token,
                              rebalance_mode, limit_pending, dedup)


def extract_and_commit(
    spark: SparkSession,
    src_pages: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    job_token: str | None = None,
    rebalance_mode: str = "none",
    limit_pending: int | None = None,
    dedup: str = "none",
) -> dict:
    """Extract the pages of ``src_pages`` that are not yet committed and
    commit them as one icebox snapshot plus its lineage rows — the one
    commit path of the batch job and its resume. A ``job_token`` already
    applied is a no-op that only heals a missing lineage append.
    Arguments are ``run_extract_job``'s."""
    out = IceboxTable(cfg.extracted_table)
    lin = IceboxTable(cfg.lineage_table)
    if job_token and job_token in out.applied_tokens():
        # Heal the crash window between output commit and lineage append:
        # if THIS token's snapshot committed but its lineage never landed,
        # recompute lineage from the snapshot's own added files.
        lin_token = f"lineage-{job_token}"
        if lin_token not in lin.applied_tokens():
            m = out.snapshot_for_token(job_token)
            if m and m.get("added_files"):
                lin.append(
                    lineage_rows(spark.read.schema(TABLE_SCHEMA)
                                 .parquet(*m["added_files"]),
                                 m["snapshot_id"]), job_token=lin_token)
        return {"snapshot_id": out.snapshot_id(), "rows": 0, "resumed": True}

    pending = pending_pages(src_pages, out, spark)
    if limit_pending is not None:
        pending = pending.limit(limit_pending)
    if rebalance_mode == "salted":
        pending = rebalance(pending)

    result = extract_fused(pending)

    # In-flight metrics via observe() — the Spark-native analog of the
    # reference's TokenUsage accumulator monoid (gemini_backend.py:25-80):
    # commutative aggregates collected DURING the job, no extra pass.
    obs = Observation("extract_metrics")
    result = result.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(~F.col("success"), 1).otherwise(0)).alias("failed"),
        F.sum(F.when(F.col("backend_used") == "fast+precise", 1)
              .otherwise(0)).alias("escalated"),
        F.sum(F.length("text")).alias("total_chars"),
    )
    if dedup not in ("none", "exact"):
        raise ValueError(f"unknown dedup mode {dedup!r}")

    # The extracted schema is STABLE across dedup modes: ``fingerprint``
    # (md5 of the text, computed JVM-side in the same narrow pass) and
    # ``duplicate_of`` (null unless an in-job dedup marks the row) are
    # always present, so a table mixing dedup and non-dedup commits never
    # has parquet files with divergent schemas.
    result = result.select(
        "*", F.md5(F.col("text").cast("binary")).alias("fingerprint"),
        F.lit(None).cast("string").alias("duplicate_of"))

    # ONE computation pass: extraction streams straight into staged parquet
    # files (task-level atomic; never through driver memory — a
    # localCheckpoint here would cache the entire output, impossible at
    # 100 TB). The commit is the manifest swap afterwards; lineage reads the
    # staged files back (cheap columnar scan, no re-extraction).
    files, n = out.stage(result)
    if n == 0:
        return {"snapshot_id": out.snapshot_id(), "rows": 0, "resumed": True}
    metrics = obs.get

    n_marked = files_rewritten = 0
    if dedup == "exact":
        prior = None
        if out.exists():
            prior = (out.read(spark, TABLE_SCHEMA)
                     .filter(F.col("duplicate_of").isNull())
                     .select("fingerprint", "url"))
        files, n_marked, files_rewritten = mark_staged_duplicates(
            spark, out, files, TABLE_SCHEMA, prior)

    snap = out.commit_staged(files, n, job_token=job_token)
    staged = spark.read.schema(TABLE_SCHEMA).parquet(*files)
    lin.append(lineage_rows(staged, snap),
               job_token=f"lineage-{job_token}" if job_token else None)
    # A2 cost accounting (gemini_backend.py:25-80 analog): dollar cost
    # derived from the SAME in-flight observe counters — the fast engine
    # is free, so only escalated rows pay (the hybrid's raison d'être is
    # exactly this number: escalation fraction × precise unit cost).
    est_cost = metrics["escalated"] * PRECISE_COST_PER_PAGE
    summary = {"snapshot_id": snap, "rows": n, "resumed": False,
               "metrics": metrics,
               "estimated_cost_usd": round(est_cost, 6)}
    if dedup == "exact":
        summary["dedup_marked"] = n_marked
        summary["dedup_files_rewritten"] = files_rewritten
    return summary
