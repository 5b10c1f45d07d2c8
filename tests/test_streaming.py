"""Streaming incremental ingest: new files extract incrementally with
exactly-once semantics through the batch job's icebox commit; output
matches the golden oracle byte-for-byte."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_devnagari_spark.config import ExtractConfig
from ocr_devnagari_spark.corpus import write_corpus
from ocr_devnagari_spark.goldenref import golden_extract_corpus
from ocr_devnagari_spark.sources.icebox import IceboxTable
from ocr_devnagari_spark.streaming.ingest import stream_extract_available_now


@pytest.fixture()
def staged(tmp_path):
    """A corpus split into two parquet files, landed one at a time."""
    src = str(tmp_path / "gen")
    write_corpus(src, 400, workers=2)       # → directory with ≥2 part files
    parts = sorted(glob.glob(os.path.join(src, "pages.parquet", "*.parquet")))
    assert len(parts) >= 2
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    return (src, parts, landing, ExtractConfig(root_dir=str(tmp_path / "out")),
            str(tmp_path / "cp"))


def _golden_map(src):
    golden = pq.read_table(golden_extract_corpus(src))
    return dict(zip(golden.column("url").to_pylist(),
                    golden.column("text").to_pylist()))


def _lineage_rows(spark, cfg):
    lin = IceboxTable(cfg.lineage_table).read(spark)
    return lin.agg(F.sum("row_count")).first()[0]


def test_incremental_extraction_exactly_once(spark, staged):
    src, parts, landing, cfg, cp_dir = staged
    half = len(parts) // 2
    table = IceboxTable(cfg.extracted_table)

    # land first half of the files
    for p in parts[:half]:
        shutil.copy(p, landing)
    n1 = stream_extract_available_now(spark, landing, cp_dir, cfg)
    assert n1 >= 1
    n_first = table.read(spark).count()
    assert n_first == sum(pq.ParquetFile(p).metadata.num_rows
                          for p in parts[:half])

    # draining again with no new files: zero new rows (exactly-once)
    stream_extract_available_now(spark, landing, cp_dir, cfg)
    assert table.read(spark).count() == n_first

    # land the remainder; only the new files are processed
    for p in parts[half:]:
        shutil.copy(p, landing)
    stream_extract_available_now(spark, landing, cp_dir, cfg)
    got = table.read(spark)
    total = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    assert got.count() == total
    assert got.select("url").distinct().count() == total
    assert _lineage_rows(spark, cfg) == total

    # byte-identity against the golden oracle
    gmap = _golden_map(src)
    for r in got.select("url", "text").collect():
        assert r.text == gmap[r.url]


def test_stream_replayed_batch_commits_once(spark, staged, monkeypatch):
    """A micro-batch that fails right after its icebox commit is replayed
    with the same ``batch_id`` on restart: the replay must commit nothing
    (its job token is already applied) and heal the lineage it never
    appended."""
    from pyspark.errors import StreamingQueryException

    src, parts, landing, cfg, cp_dir = staged
    for p in parts:
        shutil.copy(p, landing)

    orig = IceboxTable.commit_staged
    calls = []

    def commit_then_crash(self, *args, **kwargs):
        snap = orig(self, *args, **kwargs)
        calls.append(snap)
        if len(calls) == 1:
            raise RuntimeError("crash after the output commit")
        return snap

    monkeypatch.setattr(IceboxTable, "commit_staged", commit_then_crash)
    with pytest.raises(StreamingQueryException):
        stream_extract_available_now(spark, landing, cp_dir, cfg)
    monkeypatch.setattr(IceboxTable, "commit_staged", orig)

    stream_extract_available_now(spark, landing, cp_dir, cfg)
    got = IceboxTable(cfg.extracted_table).read(spark)
    total = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    assert got.count() == total
    assert got.select("url").distinct().count() == total
    assert _lineage_rows(spark, cfg) == total
    gmap = _golden_map(src)
    for r in got.select("url", "text").collect():
        assert r.text == gmap[r.url]
