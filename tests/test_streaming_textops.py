"""The round-4 text operators compose into Structured Streaming: the
pure-Column families (PII, quality/script gates, splits, normalization)
apply per-micro-batch with no semantic drift vs batch — pinned by
running the SAME expressions both ways over the same rows."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ocr_devnagari_spark.functions import pii
from ocr_devnagari_spark.functions.splits import split_assign
from ocr_devnagari_spark.functions.text import (
    dominant_script,
    gopher_pass,
    quality_score,
)


def _curate_cols(df):
    t = F.col("text")
    return df.select(
        "doc_id",
        pii.redact_pii(t).alias("clean"),
        (pii.email_count(t) + pii.ipv4_count(t) + pii.phone_count(t))
        .alias("n_pii"),
        quality_score(F.col("text")).alias("q"),
        gopher_pass(F.col("text"), min_words=3).alias("keep"),
        dominant_script(F.col("text")).alias("script"),
        split_assign(F.col("doc_id").cast("string")).alias("split"))


def test_stream_gates_match_batch(spark, tmp_path):
    rows = [(i, f"w{i} " * (4 + i % 7) +
             ("mail x@y.io now " if i % 3 == 0 else "") +
             ("देवनागरी " * 5 if i % 4 == 0 else ""))
            for i in range(60)]
    src = str(tmp_path / "in")
    os.makedirs(src)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(1).write.parquet(src, mode="append")

    batch = {r["doc_id"]: r for r in _curate_cols(df).collect()}

    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src))
    q = (_curate_cols(stream)
         .writeStream.format("memory").queryName("txtops")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in spark.sql(
        "SELECT * FROM txtops").collect()}

    assert set(got) == set(batch)
    for k in batch:
        assert tuple(got[k]) == tuple(batch[k]), k
    # the spiked rows actually exercised the operators
    assert any(r["n_pii"] > 0 for r in batch.values())
    assert any(r["script"] == "devanagari" for r in batch.values())
