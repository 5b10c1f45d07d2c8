"""Skew handling: the corpus has Zipf hosts and heavy-tailed sizes by
construction; salted size-tiered rebalance must (a) not change results and
(b) split the hottest host across many partitions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_devnagari_spark.functions.text import parse_range_spec, range_predicate
from ocr_devnagari_spark.operators.extract import extract_fused
from ocr_devnagari_spark.plans.pipeline import read_pages, rebalance


def test_corpus_is_actually_skewed(spark, corpus_dir):
    pages = read_pages(spark, corpus_dir)
    hosts = (pages.select(F.parse_url("url", F.lit("HOST")).alias("h"))
             .groupBy("h").count().orderBy(F.desc("count")).collect())
    total = sum(r["count"] for r in hosts)
    assert hosts[0]["count"] > 0.2 * total       # hottest host ≥20% of rows


def test_rebalance_splits_hot_host(spark, corpus_dir):
    pages = read_pages(spark, corpus_dir)
    hot = (pages.select(F.parse_url("url", F.lit("HOST")).alias("h"))
           .groupBy("h").count().orderBy(F.desc("count")).first()["h"])
    placed = (rebalance(pages)
              .filter(F.parse_url("url", F.lit("HOST")) == hot)
              .select(F.spark_partition_id().alias("p"))
              .distinct().count())
    assert placed >= 4       # hot host spread over ≥4 of 32 partitions


def test_rebalance_preserves_results(spark, corpus_dir, golden_path):
    import pyarrow.parquet as pq
    pages = read_pages(spark, corpus_dir)
    out = {r.url: r.text for r in
           extract_fused(rebalance(pages)).select("url", "text").collect()}
    g = pq.read_table(golden_path)
    for url, text in zip(g.column("url").to_pylist(),
                         g.column("text").to_pylist()):
        assert out[url] == text
    assert len(out) == g.num_rows


# ---- P1 range parser (utils.py:75-141 semantics) ----

def test_parse_range_spec():
    assert parse_range_spec("all") == []
    assert parse_range_spec("5") == [(5, 5)]
    assert parse_range_spec("1-50") == [(1, 50)]
    assert parse_range_spec("1,5,10-20") == [(1, 1), (5, 5), (10, 20)]
    assert parse_range_spec("10-20, 1, 5") == [(1, 1), (5, 5), (10, 20)]
    with pytest.raises(ValueError):
        parse_range_spec("20-10")
    with pytest.raises(ValueError):
        parse_range_spec("x-y")


def test_range_predicate_rows(spark):
    df = spark.range(100).withColumnRenamed("id", "k")
    got = {r.k for r in
           df.filter(range_predicate(F.col("k"), "3,10-12,90-99")).collect()}
    assert got == {3, 10, 11, 12, *range(90, 100)}
    assert df.filter(range_predicate(F.col("k"), "all")).count() == 100


def test_paragraph_dedup_hot_boilerplate_completes(spark):
    """10k documents sharing one boilerplate paragraph: both modes must
    reduce the hot key via aggregation (no para-partitioned window),
    complete quickly, and drop the boilerplate everywhere."""
    from pyspark.sql import functions as F

    from ocr_devnagari_spark.operators.paragraphs import paragraph_dedup
    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("unique body "), F.col("id").cast("string"),
                 F.lit("\ncookie banner boilerplate")).alias("text"))
    out = paragraph_dedup(df, max_docs=1)
    agg = out.agg(F.sum("n_removed").alias("r"),
                  F.count(F.lit(1)).alias("n")).collect()[0]
    assert agg["n"] == 10_000 and agg["r"] == 10_000
    first = paragraph_dedup(df, keep="first")
    plan = first._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    kept = first.filter(F.col("text").contains("cookie banner")).count()
    assert kept == 1          # exactly the global first occurrence
