"""Checkpoint/resume + idempotent commit tests — the translation of the
reference's manual resilience plan (``docs/RESILIENT_OCR_PLAN.md:438-471``):
kill mid-run → resume processes only the remainder; re-running a completed
job is a no-op; resume N times = same table state.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_devnagari_spark import gates
from ocr_devnagari_spark.config import ExtractConfig
from ocr_devnagari_spark.plans.pipeline import (
    TABLE_SCHEMA,
    pending_pages,
    read_pages,
    run_extract_job,
)
from ocr_devnagari_spark.sources.icebox import IceboxTable


def _corpus_with_clones(corpus_dir, dst, n):
    """Copy the corpus to ``dst`` and append byte copies of its first ``n``
    pages under new urls (``zzz-`` + url, sorting after the originals);
    returns the original page count."""
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.copytree(corpus_dir, dst)
    src = glob.glob(f"{dst}/pages.parquet")[0]
    t = pq.read_table(src)
    clones = t.slice(0, n).set_column(
        0, "url", pa.array(["zzz-" + u for u in
                            t.column("url").to_pylist()[:n]]))
    pq.write_table(pa.concat_tables([t, clones]), src)
    return t.num_rows


def test_partial_run_then_resume(spark, corpus_dir, work_root):
    cfg = ExtractConfig(root_dir=work_root)
    total = read_pages(spark, corpus_dir).count()

    r1 = run_extract_job(spark, corpus_dir, cfg, job_token="t1",
                         limit_pending=200)
    assert r1["rows"] == 200
    out = IceboxTable(cfg.extracted_table)
    assert out.read(spark).count() == 200

    # Resume: only the remaining rows are recomputed.
    r2 = run_extract_job(spark, corpus_dir, cfg, job_token="t2")
    assert r2["rows"] == total - 200
    assert out.read(spark).count() == total
    # No url extracted twice.
    assert out.read(spark).select("url").distinct().count() == total


def test_rerun_completed_job_is_noop(spark, corpus_dir, work_root):
    cfg = ExtractConfig(root_dir=work_root)
    run_extract_job(spark, corpus_dir, cfg, job_token="full")
    out = IceboxTable(cfg.extracted_table)
    n1, snap1 = out.read(spark).count(), out.snapshot_id()
    # Resume of a finished job: anti-join leaves zero pending rows.
    r = run_extract_job(spark, corpus_dir, cfg, job_token="again")
    assert r["rows"] == 0
    assert out.read(spark).count() == n1
    assert out.snapshot_id() == snap1


def test_same_token_append_is_idempotent(spark, work_root):
    t = IceboxTable(f"{work_root}/tbl")
    df = spark.range(10).withColumnRenamed("id", "k")
    t.append(df, job_token="job-A")
    t.append(df, job_token="job-A")         # replayed commit → no-op
    assert t.read(spark).count() == 10
    t.append(df, job_token="job-B")
    assert t.read(spark).count() == 20


def test_lineage_partition_accounting(spark, corpus_dir, work_root):
    cfg = ExtractConfig(root_dir=work_root)
    run_extract_job(spark, corpus_dir, cfg, job_token="t1")
    lin = IceboxTable(cfg.lineage_table).read(spark)
    total = read_pages(spark, corpus_dir).count()
    assert lin.agg(F.sum("row_count")).collect()[0][0] == total
    cols = set(lin.columns)
    assert {"snapshot_id", "partition_id", "url_min", "url_max", "row_count",
            "failed_count", "rule_hits", "committed_at"} <= cols
    # rule-hit histogram has at least one critical family recorded
    fams = (lin.select(F.explode_outer("rule_hits").alias("k", "n"))
            .filter(F.col("k").isNotNull()).groupBy("k").count().collect())
    assert len(fams) >= 1


def test_lineage_rows_match_python_recount(spark, corpus_dir, work_root):
    """Every lineage row equals a recount of the committed rows of its
    partition (url range, row and failure counts, summed rule hits); a
    partition without rule hits records NULL."""
    from collections import Counter

    from ocr_devnagari_spark.plans.pipeline import lineage_rows

    cfg = ExtractConfig(root_dir=work_root)
    run_extract_job(spark, corpus_dir, cfg, job_token="t1",
                    rebalance_mode="salted")
    want: dict = {}
    for r in IceboxTable(cfg.extracted_table).read(spark).collect():
        w = want.setdefault(r.partition_id, {
            "url_min": r.url, "url_max": r.url, "row_count": 0,
            "failed_count": 0, "rule_hits": Counter()})
        w["url_min"] = min(w["url_min"], r.url)
        w["url_max"] = max(w["url_max"], r.url)
        w["row_count"] += 1
        w["failed_count"] += not r.success
        w["rule_hits"].update(r.rule_hits)
    got = {r.partition_id: {k: r[k] for k in (
        "url_min", "url_max", "row_count", "failed_count", "rule_hits")}
        for r in IceboxTable(cfg.lineage_table).read(spark).collect()}
    for w in want.values():
        w["rule_hits"] = dict(w["rule_hits"]) or None
    assert len(want) > 1
    assert got == want

    rows = spark.createDataFrame(
        [("a", True, {}, 0), ("b", False, {"code": 2}, 1),
         ("c", True, {"code": 1, "verse": 3}, 1)],
        "url string, success boolean, rule_hits map<string, bigint>, "
        "partition_id int")
    hits = {r.partition_id: r.rule_hits
            for r in lineage_rows(rows, 1).collect()}
    assert hits == {0: None, 1: {"code": 3, "verse": 3}}


def test_null_payload_flags_one_row(spark, corpus_dir, golden_path,
                                    work_root, tmp_path):
    """A page with a NULL ``html`` (``read_wet_pages`` emits them by
    design) costs its row, never the job: every url commits, exactly that
    row is flagged ``null_payload``, lineage counts one failure, and the
    golden extractor gives the same row."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ocr_devnagari_spark.goldenref import golden_extract_corpus

    # pages the golden extractor accepts, so the NULL row is the only
    # failure; the 8th of them loses its payload
    gold = pq.read_table(golden_path)
    ok_urls = pc.filter(gold.column("url"), gold.column("success"))
    pages = pq.read_table(os.path.join(corpus_dir, "pages.parquet"))
    pages = pages.filter(pc.is_in(pages.column("url"), ok_urls))
    null_url = pages.column("url")[7].as_py()
    html = pages.column("html").to_pylist()
    html[7] = None
    pages = pages.set_column(pages.schema.get_field_index("html"), "html",
                             pa.array(html, pa.binary()))
    src = tmp_path / "nullcorpus"
    src.mkdir()
    pq.write_table(pages, src / "pages.parquet")

    cfg = ExtractConfig(root_dir=work_root)
    r = run_extract_job(spark, str(src), cfg, job_token="n")
    out = IceboxTable(cfg.extracted_table).read(spark)
    assert r["rows"] == pages.num_rows == out.count()
    flagged = [(x.url, x.text, x.success, x.confidence, x.error,
                x.backend_used, x.needs_verification, x.rule_hits)
               for x in out.filter(~F.col("success")).collect()]
    assert flagged == [(null_url, "", False, 0.0, "null_payload", "none",
                        False, {})]
    lin = IceboxTable(cfg.lineage_table).read(spark)
    assert lin.agg(F.sum("failed_count")).first()[0] == 1

    golden = pq.read_table(golden_extract_corpus(
        str(src), str(tmp_path / "golden.parquet"))).to_pylist()
    assert [g for g in golden if not g["success"]] == [
        {"url": null_url, "text": "", "backend_used": "none",
         "success": False}]


def test_poison_pdf_layouts_flag_their_rows(spark, corpus_dir, golden_path,
                                            work_root, tmp_path):
    """A PDF-magic payload whose JSON parses but does not fit the layout
    shape costs its row, never the job: every url commits, exactly the
    five poison rows are flagged ``bad_layout`` on the ``pdf`` backend,
    lineage counts five failures, and the golden extractor agrees."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ocr_devnagari_spark.extract_core import PDF_MAGIC
    from ocr_devnagari_spark.goldenref import golden_extract_corpus

    poison = {
        "pdf-root-list": [1, 2],
        "pdf-pages-string": {"pages": "abc"},
        "pdf-x-not-number": {"pages": [{"page": 1, "blocks": [
            {"x": "left", "y": 1, "text": "a block of words"}]}]},
        "pdf-text-not-string": {"pages": [{"page": 1, "blocks": [
            {"x": 1, "y": 1, "text": 42}]}]},
        "pdf-mixed-page-types": {"pages": [
            {"page": 1, "blocks": []}, {"page": "2", "blocks": []}]},
    }
    gold = pq.read_table(golden_path)
    ok_urls = pc.filter(gold.column("url"), gold.column("success"))
    pages = pq.read_table(os.path.join(corpus_dir, "pages.parquet"))
    pages = pages.filter(pc.is_in(pages.column("url"), ok_urls))
    bad = pa.Table.from_pylist(
        [{"url": u, "html": PDF_MAGIC + json.dumps(doc).encode()}
         for u, doc in poison.items()],
        schema=pa.schema([("url", pa.string()), ("html", pa.binary())]))
    pages = pa.concat_tables(
        [pages, bad.select(["url", "html"]).cast(
            pages.select(["url", "html"]).schema)],
        promote_options="default")
    src = tmp_path / "poisoncorpus"
    src.mkdir()
    pq.write_table(pages, src / "pages.parquet")

    cfg = ExtractConfig(root_dir=work_root)
    r = run_extract_job(spark, str(src), cfg, job_token="p")
    out = IceboxTable(cfg.extracted_table).read(spark)
    assert r["rows"] == pages.num_rows == out.count()
    flagged = sorted((x.url, x.text, x.error, x.backend_used)
                     for x in out.filter(~F.col("success")).collect())
    assert flagged == sorted((u, "", "bad_layout", "pdf") for u in poison)
    lin = IceboxTable(cfg.lineage_table).read(spark)
    assert lin.agg(F.sum("failed_count")).first()[0] == len(poison)

    golden = pq.read_table(golden_extract_corpus(
        str(src), str(tmp_path / "golden.parquet"))).to_pylist()
    assert sorted((g["url"], g["text"], g["backend_used"])
                  for g in golden if not g["success"]) == sorted(
        (u, "", "pdf") for u in poison)


def _job_count(spark, fn):
    """Run ``fn()`` in a job group of its own; return its result and the
    ids of the Spark jobs it ran."""
    import uuid

    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return res, sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_fresh_run_job_budget(spark, corpus_dir, work_root):
    """A fresh run costs 3 Spark jobs: the extraction write and the
    lineage aggregation's two (its shuffle map stage and the write); the
    staged files are read back with a known schema, so no
    schema-inference job."""
    cfg = ExtractConfig(root_dir=work_root)
    r, jobs = _job_count(spark, lambda: run_extract_job(
        spark, corpus_dir, cfg, job_token="t1"))
    assert r["rows"] > 0
    assert len(jobs) <= 3, jobs


def test_dedup_run_job_budget(spark, corpus_dir, work_root, tmp_path):
    """A fresh dedup='exact' run that marks rows costs 7 Spark jobs: the
    extraction write, the marks (the window's shuffle map stage and the
    checkpoint, whose observe also yields the marked count and the
    affected files), the rewrite of the affected files (the marks'
    broadcast, settled by the observed count, and the write) and the
    lineage's two."""
    dup_dir = str(tmp_path / "budgetcorpus")
    _corpus_with_clones(corpus_dir, dup_dir, 50)
    cfg = ExtractConfig(root_dir=work_root)
    r, jobs = _job_count(spark, lambda: run_extract_job(
        spark, dup_dir, cfg, job_token="d", dedup="exact"))
    assert r["dedup_marked"] >= 50
    assert len(jobs) <= 7, jobs


def test_dedup_resume_call_job_budget(spark, corpus_dir, work_root,
                                      tmp_path):
    """A dedup='exact' resume call over a committed history costs 8
    Spark jobs: the fresh dedup run's 7 plus the resume anti-join's
    broadcast.  Both reads of the committed table pass its schema (no
    schema-inference job), and the committed canonical rows enter the
    batch's window in the same shuffle (no join, no extra stage)."""
    dup_dir = str(tmp_path / "resumecorpus")
    _corpus_with_clones(corpus_dir, dup_dir, 50)
    cfg = ExtractConfig(root_dir=work_root)
    run_extract_job(spark, dup_dir, cfg, job_token="r1", dedup="exact",
                    limit_pending=300)
    r, jobs = _job_count(spark, lambda: run_extract_job(
        spark, dup_dir, cfg, job_token="r2", dedup="exact"))
    assert r["rows"] > 0 and r["dedup_marked"] >= 50
    assert len(jobs) <= 8, jobs


def test_dedup_marks_match_python_replay(spark, corpus_dir, work_root,
                                         tmp_path):
    """The marks of a dedup resume call equal a Python replay of the
    keeper-map rule: a fingerprint's canonical url is the minimum url
    among the committed canonical rows, else, when the batch holds the
    fingerprint more than once, the batch's minimum url; every other
    row of it is marked.  The history holds a file written without
    ``fingerprint`` and ``duplicate_of`` (its rows read them as NULL, so
    they neither keep nor mark); the batch holds in-batch clones, clones
    of committed pages of both commits and many empty texts (one
    md5(''))."""
    import hashlib
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{corpus_dir}/pages.parquet")
    urls = t.column("url").to_pylist()
    blank = b"<html><body></body></html>"

    def part(lo, hi, prefix=""):
        idx = list(range(lo, hi))
        return t.take(idx).set_column(0, "url", pa.array(
            [prefix + urls[i] for i in idx]))

    def blanks(tag, k):
        b = t.take(list(range(k)))
        return (b.set_column(0, "url", pa.array(
                    [f"blank-{tag}-{i}" for i in range(k)]))
                .set_column(b.schema.get_field_index("html"), "html",
                            pa.array([blank] * k, pa.binary())))

    def corpus(name, tables):
        d = tmp_path / name
        d.mkdir()
        pq.write_table(pa.concat_tables(tables), d / "pages.parquet")
        return str(d)

    cfg = ExtractConfig(root_dir=work_root)
    out = IceboxTable(cfg.extracted_table)
    a = [part(0, 150), blanks("a", 5)]
    run_extract_job(spark, corpus("a", a), cfg, job_token="r1",
                    dedup="exact")
    # the first commit becomes a file of an older writer: no fingerprint,
    # no duplicate_of (and no stale Hadoop checksum beside it)
    for f in out.current_manifest()["files"]:
        pq.write_table(pq.read_table(f).drop_columns(
            ["fingerprint", "duplicate_of"]), f)
        crc = os.path.join(os.path.dirname(f),
                           f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    b = a + [part(150, 300), part(0, 10, "b-"), blanks("b", 5)]
    run_extract_job(spark, corpus("b", b), cfg, job_token="r2",
                    dedup="exact")
    before = out.current_manifest()["files"]
    c = b + [part(300, len(urls)), part(0, 5, "c-"), part(150, 160, "c-"),
             part(300, 310, "zzz-"), blanks("c", 5)]
    r = run_extract_job(spark, corpus("c", c), cfg, job_token="r3",
                        dedup="exact")

    def md5(text):
        return hashlib.md5(text.encode()).hexdigest()

    prior: dict = {}
    n_legacy = 0
    for f in before:
        tb = pq.read_table(f)
        if "fingerprint" not in tb.column_names:
            n_legacy += tb.num_rows
            continue
        for x in tb.select(["url", "fingerprint", "duplicate_of"]).to_pylist():
            if x["duplicate_of"] is None:
                fp = x["fingerprint"]
                prior[fp] = min(prior.get(fp, x["url"]), x["url"])
    assert n_legacy == 155
    batch = pq.read_table(out.snapshot_for_token("r3")["added_files"],
                          columns=["url", "text", "fingerprint",
                                   "duplicate_of"]).to_pylist()
    assert len(batch) == r["rows"]
    assert all(x["fingerprint"] == md5(x["text"]) for x in batch)
    by_fp: dict = {}
    for x in batch:
        by_fp.setdefault(x["fingerprint"], []).append(x["url"])
    want = {}
    for fp, us in by_fp.items():
        keep = prior.get(fp, min(us) if len(us) > 1 else None)
        want.update({u: keep if u != keep else None for u in us})
    got = {x["url"]: x["duplicate_of"] for x in batch}
    assert got == want
    assert r["dedup_marked"] == sum(v is not None for v in want.values())
    # every kind of duplicate occurs: in-batch clones, clones of both
    # commits (a clone of a legacy row keeps the r2 clone "b-..."), and
    # the empty texts of all three commits
    assert any(got["zzz-" + urls[i]] == urls[i] for i in range(300, 310))
    assert any(got["c-" + urls[i]] == urls[i] for i in range(150, 160))
    assert any(got["c-" + urls[i]] == "b-" + urls[i] for i in range(5))
    assert all(got[f"blank-c-{i}"] is not None for i in range(5))


def test_pending_pages_empty_checkpoint(spark, corpus_dir, work_root):
    cfg = ExtractConfig(root_dir=work_root)
    pages = read_pages(spark, corpus_dir)
    out = IceboxTable(cfg.extracted_table)
    assert pending_pages(pages, out, spark).count() == pages.count()


def test_in_job_exact_dedup(spark, corpus_dir, work_root, tmp_path):
    """dedup='exact' MARKS duplicate extracted texts inside the job
    (duplicate_of = the lexicographically-first url per fingerprint)."""
    # corpus with planted duplicate pages (same html, new urls)
    dup_dir = str(tmp_path / "dupcorpus")
    n_docs = _corpus_with_clones(corpus_dir, dup_dir, 50)

    cfg = ExtractConfig(root_dir=work_root)
    r = run_extract_job(spark, dup_dir, cfg, job_token="d",
                        dedup="exact")
    out = IceboxTable(cfg.extracted_table).read(spark)
    # mark-don't-drop: every url commits (resume convergence preserved)
    assert r["rows"] == n_docs + 50 == out.count()
    assert r["dedup_marked"] >= 50           # clones + natural empty dups
    # the deduplicated view has unique fingerprints
    clean = out.filter(F.col("duplicate_of").isNull())
    assert clean.select(F.md5("text")).distinct().count() == clean.count()
    # clone urls sort after originals → clones are the marked copies
    assert out.filter(out.url.startswith("zzz-")
                      & F.col("duplicate_of").isNull()).count() == 0
    # and a resume run is a no-op (the key property dropping would break)
    r2 = run_extract_job(spark, dup_dir, cfg, job_token="d2",
                         dedup="exact")
    assert r2["rows"] == 0


def test_in_job_dedup_marks_cross_run_duplicates(spark, corpus_dir,
                                                 work_root, tmp_path):
    """A resumed/incremental run must mark NEW rows that duplicate text
    already committed by an earlier run (keeper = the committed url)."""
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    dup_dir = str(tmp_path / "growcorpus")
    shutil.copytree(corpus_dir, dup_dir)
    cfg = ExtractConfig(root_dir=work_root)
    run_extract_job(spark, dup_dir, cfg, job_token="r1", dedup="exact")

    # corpus grows: 30 clones of already-committed pages land with new urls
    src = glob.glob(f"{dup_dir}/pages.parquet")[0]
    t = pq.read_table(src)
    clones = t.slice(0, 30).set_column(
        0, "url", pa.array(["zzz-" + u for u in
                            t.column("url").to_pylist()[:30]]))
    pq.write_table(pa.concat_tables([t, clones]), src)

    r2 = run_extract_job(spark, dup_dir, cfg, job_token="r2", dedup="exact")
    assert r2["rows"] == 30                  # only the clones were pending
    out = IceboxTable(cfg.extracted_table).read(spark)
    marked = out.filter(out.url.startswith("zzz-"))
    assert marked.count() == 30
    # every clone points at its committed original, never at another clone
    assert marked.filter(F.col("duplicate_of").isNull()).count() == 0
    assert marked.filter(F.col("duplicate_of").startswith("zzz-")).count() == 0


def test_in_job_dedup_keeper_map_reliable_checkpoints(
        spark, corpus_dir, work_root, tmp_path, monkeypatch):
    """With a checkpoint dir configured, the keeper-map materialization
    inside mark_staged_duplicates rides RELIABLE checkpoints (shared
    store — the mark phase survives executor loss on a real cluster,
    the dedup-module `_materialize` discipline), and the marked output
    is identical to the localCheckpoint path.  The checkpoint files are
    checked right after ``materialize`` returns, while the keeper map is
    alive: Spark's cleaner may delete them once it is collected."""
    import glob

    from ocr_devnagari_spark.plans import pipeline

    dup_dir = str(tmp_path / "ckcorpus")
    _corpus_with_clones(corpus_dir, dup_dir, 40)

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    materialized = []
    orig_materialize = pipeline.materialize

    def materialize_and_check(df, *args, **kwargs):
        out = orig_materialize(df, *args, **kwargs)
        materialized.append(
            glob.glob(f"{ckdir}/**/rdd-*", recursive=True))
        return out

    monkeypatch.setattr(pipeline, "materialize", materialize_and_check)
    try:
        cfg = ExtractConfig(root_dir=work_root)
        r = run_extract_job(spark, dup_dir, cfg, job_token="ck",
                            dedup="exact")
        assert r["dedup_marked"] >= 40
        out = IceboxTable(cfg.extracted_table).read(spark)
        assert out.filter(out.url.startswith("zzz-")
                          & F.col("duplicate_of").isNull()).count() == 0
        assert len(materialized) == 1 and materialized[0], \
            "keeper map did not write reliable checkpoint data"
    finally:
        scala_none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(scala_none)


def test_dedup_schema_stable_across_modes(spark, corpus_dir, work_root):
    """Mixed dedup / non-dedup commits must yield ONE schema: fingerprint
    and duplicate_of are always present (ADVICE: mergeSchema-free reads
    must not silently drop the column)."""
    cfg = ExtractConfig(root_dir=work_root)
    run_extract_job(spark, corpus_dir, cfg, job_token="a",
                    limit_pending=100, dedup="none")
    run_extract_job(spark, corpus_dir, cfg, job_token="b", dedup="exact")
    out = IceboxTable(cfg.extracted_table).read(spark)
    # the files carry exactly the schema every read of the table passes
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in TABLE_SCHEMA]
    total = read_pages(spark, corpus_dir).count()
    assert out.count() == total
    # duplicate_of is queryable across ALL rows, including the non-dedup
    # commit's (null there by construction)
    assert out.filter(F.col("duplicate_of").isNull()).count() > 0
    assert out.filter(F.col("fingerprint").isNull()).count() == 0


def _self_marks(staged):
    """The marks of ``staged`` against itself, one per (fingerprint,
    url) — what ``mark_staged_duplicates`` builds for a fresh table."""
    from ocr_devnagari_spark.plans.pipeline import keeper_map
    return keeper_map(staged.select("fingerprint", "url")) \
        .dropDuplicates(["fingerprint", "url"])


def test_dedup_mark_shuffles_no_payload(spark, tmp_path):
    """No Exchange in the dedup-mark plan may carry the extracted text —
    the 100-TB property the keeper-map design exists for."""
    import io
    from contextlib import redirect_stdout

    from ocr_devnagari_spark.plans.pipeline import exact_dedup_mark

    df = spark.createDataFrame(
        [(f"u{i}", "x" * 100, f"fp{i % 3}") for i in range(30)],
        "url string, text string, fingerprint string",
    ).withColumn("duplicate_of", F.lit(None).cast("string"))
    staged_dir = str(tmp_path / "staged")
    df.write.parquet(staged_dir)
    staged = spark.read.parquet(staged_dir)
    marked = exact_dedup_mark(staged, _self_marks(staged), bound=27)
    assert marked.filter(F.col("duplicate_of").isNotNull()).count() == 27

    buf = io.StringIO()
    with redirect_stdout(buf):
        marked.explain("formatted")
    plan = buf.getvalue()
    # formatted explain: each node block lists its Input/Output columns
    for block in plan.split("\n\n"):
        head = block.strip().splitlines()[0] if block.strip() else ""
        if "Exchange" in head:
            assert "text#" not in block, f"payload in shuffle:\n{block}"


def test_dedup_mark_large_keeper_map_not_broadcast(spark, tmp_path,
                                                   monkeypatch):
    """Above the keeper-broadcast gate the join must plan WITHOUT a
    broadcast of the keeper map (a forced broadcast of a billion-row map
    OOMs the driver on re-crawl-heavy corpora) — and produce identical
    marks either way."""
    from ocr_devnagari_spark.plans.pipeline import exact_dedup_mark

    df = spark.createDataFrame(
        [(f"u{i}", "x" * 50, f"fp{i % 7}") for i in range(40)],
        "url string, text string, fingerprint string",
    ).withColumn("duplicate_of", F.lit(None).cast("string"))
    staged_dir = str(tmp_path / "staged")
    df.write.parquet(staged_dir)
    staged = spark.read.parquet(staged_dir)
    marks = _self_marks(staged)

    # a zero broadcast limit removes the hint; with auto-broadcast off
    # (emulating a keeper map too big for the thresholds) the join MUST
    # plan shuffled — the old forced F.broadcast() ignored both knobs
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold",
                             None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        with monkeypatch.context() as m:
            m.setattr(gates, "BROADCAST_ROWS", 0)
            shuffled = exact_dedup_mark(staged, marks, bound=33)
        got = {(r.url, r.duplicate_of) for r in shuffled.collect()}
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
                           old_aqe)
    broadcast = exact_dedup_mark(staged, marks, bound=33)   # broadcasts
    want = {(r.url, r.duplicate_of) for r in broadcast.collect()}
    assert got == want
    assert sum(1 for _, d in want if d is not None) == 40 - 7


def test_dedup_commit_rewrites_only_affected_files(spark, tmp_path):
    """Single-write dedup commit: only staged files containing a
    to-be-marked row are rewritten; the rest are referenced unchanged
    (bytes written ≈ 1× + dup-fraction, not 2×)."""
    import os

    from ocr_devnagari_spark.plans.pipeline import mark_staged_duplicates
    from ocr_devnagari_spark.sources.icebox import IceboxTable

    out = IceboxTable(str(tmp_path / "tbl"))
    # 4 staged files; duplicates confined to files 0 and 2 (fingerprint
    # shared within the file), files 1 and 3 are all-unique
    def rows(fid):
        return [(f"u{fid}-{i}", "t" * 30,
                 f"dupfp{fid}" if fid in (0, 2) and i < 2 else f"fp{fid}-{i}",
                 None) for i in range(5)]
    schema = "url string, text string, fingerprint string, duplicate_of string"
    files = []
    for fid in range(4):
        staged, _ = out.stage(spark.createDataFrame(rows(fid), schema)
                              .coalesce(1))
        files.extend(staged)
    assert len(files) == 4

    final, n_marked, n_rewritten = mark_staged_duplicates(
        spark, out, files, T.StructType.fromDDL(schema), prior=None)
    assert n_marked == 2 and n_rewritten == 2
    # the two clean files survive by reference — same physical paths —
    # and contain exactly the all-unique url groups (u1-*, u3-*)
    survivors = set(files) & set(final)
    assert len(survivors) == 2
    prefixes = {r.url.split("-")[0]
                for r in spark.read.parquet(*survivors).collect()}
    assert prefixes == {"u1", "u3"}
    # the two affected originals are gone from disk and from the commit
    gone = set(files) - set(final)
    assert len(gone) == 2 and all(not os.path.exists(f) for f in gone)
    # content: every url still present exactly once, dups marked
    got = spark.read.parquet(*final)
    assert got.count() == 20
    assert got.filter(F.col("duplicate_of").isNotNull()).count() == 2
    assert got.filter((F.col("fingerprint") == "dupfp0")
                      & F.col("duplicate_of").isNull()).count() == 1


def test_dedup_mark_url_staged_twice(spark, tmp_path):
    """A url staged twice (two captures of one page) whose fingerprint
    another url keeps: both copies are marked, and the rewrite's join on
    (fingerprint, url) neither drops nor multiplies rows."""
    from ocr_devnagari_spark.plans.pipeline import mark_staged_duplicates

    out = IceboxTable(str(tmp_path / "tbl"))
    schema = "url string, text string, fingerprint string, duplicate_of string"
    files, _ = out.stage(spark.createDataFrame(
        [("a", "t", "fp", None), ("b", "t", "fp", None),
         ("b", "t", "fp", None), ("c", "u", "fp2", None)], schema)
        .coalesce(1))
    final, n_marked, n_rewritten = mark_staged_duplicates(
        spark, out, files, T.StructType.fromDDL(schema), prior=None)
    got = sorted((r.url, r.duplicate_of)
                 for r in spark.read.parquet(*final).collect())
    assert got == [("a", None), ("b", "a"), ("b", "a"), ("c", None)]
    assert (n_marked, n_rewritten) == (2, 1)


def test_expire_snapshots(spark, work_root):
    import os
    t = IceboxTable(f"{work_root}/tbl")
    df = spark.range(5)
    for _ in range(3):
        t.append(df)
    assert t.read(spark).count() == 15
    committed = set(t.current_manifest()["files"])
    orphans, _ = t.stage(df)                # a crash before commit_staged
    # default grace window: freshly-staged files survive (an in-flight
    # job's staged-but-uncommitted files must never be collected)
    assert t.expire_snapshots() == 0
    for d, _, names in os.walk(t.path):     # age past the grace window
        for name in names:
            os.utime(os.path.join(d, name), (1, 1))
    assert t.expire_snapshots() == len(orphans)
    assert not any(os.path.exists(f) for f in orphans)
    assert os.listdir(os.path.join(t.path, "manifests")) == [
        "manifest-00000003.json"]           # superseded manifests go too
    assert set(t.current_manifest()["files"]) == committed
    assert t.read(spark).count() == 15


def test_snapshot_for_token_unknown_after_expiry(spark, work_root):
    """Once expiry removed the snapshot that first applied a token, the
    token's snapshot is unknown: the current snapshot also carries the
    token (tokens accumulate) but did not add that commit's files, so a
    lineage heal must not read them as the token's."""
    import os
    t = IceboxTable(f"{work_root}/tbl")
    t.append(spark.range(3), job_token="a")
    t.append(spark.range(2), job_token="b")
    assert t.snapshot_for_token("a")["snapshot_id"] == 1
    for d, _, names in os.walk(t.path):     # age past the grace window
        for name in names:
            os.utime(os.path.join(d, name), (1, 1))
    t.expire_snapshots()
    assert t.snapshot_for_token("a") is None
    assert t.snapshot_for_token("c") is None


def test_snapshots_walk_terminates_on_parent_cycle(spark, work_root):
    import json
    import os
    t = IceboxTable(f"{work_root}/tbl")
    t.append(spark.range(3).withColumnRenamed("id", "k"), job_token="a")
    t.append(spark.range(2).withColumnRenamed("id", "k"), job_token="b")
    # corrupt snapshot 1 to point at snapshot 2 (a parent-link cycle —
    # disk damage / hand-edited manifest); every walk-based API must
    # terminate rather than hang, and GC must still run
    m1 = os.path.join(t.path, "manifests", "manifest-00000001.json")
    with open(m1) as f:
        doc = json.load(f)
    doc["parent_snapshot_id"] = 2
    with open(m1, "w") as f:
        json.dump(doc, f)
    assert t.snapshot_for_token("a") is not None
    os.utime(m1, (1, 1))                # age past the grace window
    t.expire_snapshots()                # terminates
    assert not os.path.exists(m1)
    assert t.read(spark).count() == 5   # appends accumulate: 3 + 2


