"""Physical-plan shape assertions — the ``.explain()`` evidence that the
scale-critical properties hold (SURVEY.md §4): filters push to the parquet
scan, only (url, html) enters the Python worker, the fused pipeline is
shuffle-free, and the escalation join-back broadcasts its small side."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from ocr_devnagari_spark.operators.extract import extract_fused, is_pdf_col
from ocr_devnagari_spark.plans.pipeline import read_pages


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_tpch_plan_shapes(spark, sf_dir, sf):
    """Initial plans of two driver TPC-H queries: Q3 broadcasts both of
    its joins (customer by hint, orders under the size threshold) and
    never sort-merges; Q1 is a join-free aggregate with one shuffle."""
    import __spark_entry__ as em
    tables = os.path.join(os.path.dirname(sf_dir), sf)
    q3 = _plan(em.queries()["tpch_q3_top10"](spark, tables))
    assert q3.count("BroadcastHashJoin") == 2, q3
    assert "SortMergeJoin" not in q3, q3
    q1 = _plan(em.queries()["tpch_q1"](spark, tables))
    assert "Join" not in q1, q1
    assert len(re.findall(r"\bExchange\b", q1)) == 1, q1


def test_fused_pipeline_is_shuffle_free(spark, corpus_dir):
    out = extract_fused(read_pages(spark, corpus_dir))
    plan = _plan(out)
    assert "Exchange" not in plan, plan     # narrow scan → map, no shuffle


def test_column_pruning_into_udf(spark, corpus_dir):
    """Only url+html may be read from parquet — the WET ``text`` column is
    a second copy of the corpus and must never reach the Python worker."""
    out = extract_fused(read_pages(spark, corpus_dir))
    plan = _plan(out)
    scan = plan[plan.index("Scan parquet"):]
    schema_line = [ln for ln in scan.splitlines()
                   if "ReadSchema" in ln or "struct<" in ln]
    txt = " ".join(schema_line)
    assert "html" in txt and "url" in txt
    assert "warc_ts" not in txt and "lang" not in txt


def test_filter_pushdown_to_scan(spark, corpus_dir):
    pages = read_pages(spark, corpus_dir).filter(F.col("lang") == "en")
    plan = _plan(pages)
    assert "PushedFilters: [" in plan
    assert "EqualTo(lang,en)" in plan.replace(" ", "")


def test_pdf_route_predicate_is_jvm_side(spark, corpus_dir):
    pages = read_pages(spark, corpus_dir)
    for df in (pages.filter(~is_pdf_col()), pages.filter(is_pdf_col())):
        plan = _plan(df.select("url"))
        assert "EvalPython" not in plan     # startswith on binary: Catalyst


def test_resume_antijoin_planned_as_join(spark, corpus_dir, work_root):
    from ocr_devnagari_spark.config import ExtractConfig
    from ocr_devnagari_spark.plans.pipeline import (
        pending_pages,
        run_extract_job,
    )
    from ocr_devnagari_spark.sources.icebox import IceboxTable
    cfg = ExtractConfig(root_dir=work_root)
    run_extract_job(spark, corpus_dir, cfg, job_token="t",
                    limit_pending=100)
    pend = pending_pages(read_pages(spark, corpus_dir),
                         IceboxTable(cfg.extracted_table), spark)
    plan = _plan(pend)
    assert "LeftAnti" in plan
    assert "EvalPython" not in plan


def test_is_pdf_col_matches_python(spark, corpus_dir):
    pages = read_pages(spark, corpus_dir)
    from ocr_devnagari_spark.extract_core import is_pdf_payload
    rows = pages.select("url", "html", is_pdf_col().alias("p")).collect()
    for r in rows[:200]:
        assert r.p == is_pdf_payload(r.html)
