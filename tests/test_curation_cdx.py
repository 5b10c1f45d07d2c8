"""Curation composition plan, WARC CDX index, robots Sitemap lines."""

from __future__ import annotations

import gzip
import hashlib
import io

import pytest
from pyspark.sql import functions as F

from ocr_devnagari_spark.functions.robots import sitemap_urls
from ocr_devnagari_spark.plans.curation import curate_docs, curation_report
from ocr_devnagari_spark.sources.warc import (
    iter_warc_records,
    warc_cdx_index,
    write_warc_fs,
)

GOOD = ("solid body text with plenty of distinct words " +
        " ".join(f"tok{i}" for i in range(40)))
SPAMMY = "buy now " * 60
SHORT = "too short"


def _docs(spark):
    rows = [
        (0, GOOD, "a.com"),
        (1, SPAMMY.strip(), "a.com"),       # fails repetition gate
        (2, SHORT, "b.com"),                # fails gopher word floor
        (3, GOOD, "b.com"),                 # exact dup of 0 → dropped
        (4, GOOD + " trailing difference", "c.com"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, "
                                       "host string")


def test_curate_docs_gates_dedups_and_splits(spark):
    out = {r["doc_id"]: r for r in curate_docs(_docs(spark)).collect()}
    assert set(out) == {0, 4}          # 1,2 gated; 3 deduped (0 is keeper)
    assert out[0]["n_tokens"] == len(GOOD.split())
    for r in out.values():
        assert r["split"] in ("train", "val", "test")


def test_curation_report_totals(spark):
    rep = curation_report(_docs(spark)).collect()
    assert sum(r["n_docs"] for r in rep) == 2
    assert sum(r["total_tokens"] for r in rep) == \
        len(GOOD.split()) * 2 + 2      # doc4 adds "trailing difference"


def test_curate_docs_full_recipe_stages(spark):
    """Every optional stage has observable effect: blocklist gates a doc
    the base gates pass; paragraph dedup strips cross-doc boilerplate
    (making two near-dup docs IDENTICAL, caught by the later exact
    dedup); PII scrub redacts before token counting."""
    footer = "copyright footer boilerplate"
    rows = [
        (0, GOOD + "\n" + footer, "a.com"),
        (1, GOOD + " mail me at bob@x.com today\n" + footer, "a.com"),
        # identical to 0 AFTER footer strip → exact-dedup casualty
        (2, GOOD + "\n" + footer, "b.com"),
        (3, GOOD + " but badword appears\n" + footer, "c.com"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, "
                                     "host string")
    out = {r["doc_id"]: r for r in curate_docs(
        df, blockterms=["badword"], pii_scrub=True,
        para_max_docs=1).collect()}
    # 3 blocklist-gated; docs 0 and 2 are all-boilerplate (their shared
    # body paragraph is itself cross-doc hot) → both strip to '', the
    # exact-dedup stage keeps the lowest id of the empty pair
    assert set(out) == {0, 1}
    assert out[0]["n_tokens"] == 0
    # doc 1's unique body survives, footer stripped, email → ONE token
    assert out[1]["n_tokens"] == len(GOOD.split()) + 5
    # without the optional stages only the base exact-dedup fires
    # (docs 0/2 share the identical FULL text): 3 survive, badword
    # and PII untouched
    assert len(curate_docs(df).collect()) == 3


def test_curation_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(7, GOOD, "x.com"), (3, GOOD, "y.com")],
        "doc_id long, text string, host string")
    out = curate_docs(df).collect()
    assert [r["doc_id"] for r in out] == [3]


# ---------------------------------------------------------------------------
# CDX
# ---------------------------------------------------------------------------

def test_cdx_index_offsets_point_at_records(spark, tmp_path):
    body = b"<html><p>" + b"x" * 100 + b"</p></html>"
    p = str(tmp_path / "c.warc")
    write_warc_fs(spark, p, [
        ("http://ex.com/1", "2024-01-01T00:00:00Z", body, "response"),
        ("http://ex.com/skip", "2024-01-01T00:00:00Z",
         b"GET / HTTP/1.1\r\n\r\n", "request"),
        ("http://ex.com/2", "2024-01-01T00:00:01Z", body, "response"),
    ])
    rows = sorted(warc_cdx_index(spark, p).collect(),
                  key=lambda r: r["offset"])
    assert [r["url"] for r in rows] == ["http://ex.com/1",
                                       "http://ex.com/2"]
    raw = open(p, "rb").read()
    for r in rows:
        rec = raw[r["offset"]:r["offset"] + r["length"]]
        assert rec.startswith(b"WARC/1.0")
        assert rec.endswith(body)          # span covers the payload
        assert r["status"] == 200
        assert r["mime"] == "text/html"
        assert r["filename"] == "c.warc"
        # digest = sha1 of the full HTTP payload
        payload = rec[rec.index(b"\r\n\r\n") + 4:]
        assert r["digest"] == hashlib.sha1(payload).hexdigest()


def test_cdx_index_gz_uncompressed_offsets(spark, tmp_path):
    body = b"<html><p>gz offsets</p></html>"
    p = str(tmp_path / "d.warc.gz")
    write_warc_fs(spark, p, [("http://ex.com/z", "2024-01-01T00:00:00Z",
                              body, "response")])
    rows = warc_cdx_index(spark, p).collect()
    assert len(rows) == 1
    raw = gzip.decompress(open(p, "rb").read())
    r = rows[0]
    assert raw[r["offset"]:r["offset"] + r["length"]].startswith(b"WARC/")
    # dedup-by-digest works across plain and gz copies of the same page
    assert r["digest"]


def test_cdx_spans_match_iterator(spark, tmp_path):
    p = str(tmp_path / "e.warc")
    write_warc_fs(spark, p, [("http://ex.com/a", "2024-01-01T00:00:00Z",
                              b"<html>a</html>", "response"),
                             ("http://ex.com/b", "2024-01-01T00:00:01Z",
                              b"<html>bb</html>", "response")])
    raw = open(p, "rb").read()
    spans = [(off, ln) for _, _, off, ln in
             iter_warc_records(io.BytesIO(raw), with_spans=True)]
    assert len(spans) == 2
    assert spans[0][0] == 0
    # records tile the file up to the inter-record separators
    assert spans[1][0] >= spans[0][0] + spans[0][1]


# ---------------------------------------------------------------------------
# robots Sitemap:
# ---------------------------------------------------------------------------

def test_sitemap_urls_global_dedup_comment(spark):
    df = spark.createDataFrame([
        ("h1", "User-agent: bing\nSitemap: https://h1/s.xml # note"),
        ("h2", "sitemap: https://h2/a.xml\r\nSitemap: https://h2/a.xml"),
        ("h3", "Disallow: /x"),
    ], "host string, robots_txt string")
    got = sorted((r["host"], r["sitemap_url"])
                 for r in sitemap_urls(df).collect())
    assert got == [("h1", "https://h1/s.xml"), ("h2", "https://h2/a.xml")]


# ---------------------------------------------------------------------------
# script composition / crawl diff
# ---------------------------------------------------------------------------

def test_script_ratios_and_dominant(spark):
    from ocr_devnagari_spark.functions.text import (
        dominant_script,
        script_ratios,
    )
    rows = [(0, "hello world"),             # latin
            (1, "नमस्ते दुनिया"),              # devanagari
            (2, "你好 世界"),                 # cjk
            (3, "hello नमस्ते"),              # mixed — latin 5 vs deva 6
            (4, "12345 !!!")]               # none → other
    df = spark.createDataFrame(rows, "id long, t string")
    r = script_ratios(F.col("t"))
    got = {x["id"]: x for x in df.select(
        "id", r["latin"].alias("lat"), r["devanagari"].alias("dev"),
        dominant_script(F.col("t")).alias("s")).collect()}
    assert got[0]["s"] == "latin" and got[0]["lat"] == 1.0
    assert got[1]["s"] == "devanagari" and got[1]["lat"] == 0.0
    assert got[2]["s"] == "cjk"
    assert got[3]["s"] == "devanagari"     # 6 deva chars > 5 latin
    assert got[4]["s"] == "other"
    # ratios are over non-whitespace chars
    assert got[3]["lat"] == pytest.approx(5 / 11, abs=1e-6)


def test_dominant_script_tiebreak_alphabetical(spark):
    from ocr_devnagari_spark.functions.text import dominant_script
    df = spark.createDataFrame([(0, "a न")], "id long, t string")
    # 1 latin vs 1 devanagari → first alphabetical wins
    assert df.select(dominant_script(F.col("t")).alias("s")
                     ).collect()[0]["s"] == "devanagari"


def test_crawl_diff_categories(spark):
    from ocr_devnagari_spark.sources.warc import crawl_diff
    old = spark.createDataFrame(
        [("u1", "d1"), ("u2", "d2"), ("u3", "d3")],
        "url string, digest string")
    new = spark.createDataFrame(
        [("u1", "d1"), ("u2", "dX"), ("u4", "d4")],
        "url string, digest string")
    got = {r["url"]: r["change"] for r in crawl_diff(old, new).collect()}
    assert got == {"u1": "unchanged", "u2": "changed",
                   "u3": "gone", "u4": "new"}


def test_crawl_diff_latest_capture_wins(spark):
    import datetime as dt
    from ocr_devnagari_spark.sources.warc import crawl_diff
    t1 = dt.datetime(2024, 1, 1)
    t2 = dt.datetime(2024, 2, 1)
    old = spark.createDataFrame([("u", t1, "stale"), ("u", t2, "fresh")],
                                "url string, warc_ts timestamp, "
                                "digest string")
    new = spark.createDataFrame([("u", t1, "fresh")],
                                "url string, warc_ts timestamp, "
                                "digest string")
    got = crawl_diff(old, new).collect()
    assert got[0]["change"] == "unchanged"


def test_authority_weighted_mix_tiers(spark):
    from ocr_devnagari_spark.plans.curation import authority_weighted_mix
    edges = spark.createDataFrame(
        [("a.com", "hub.com", 5), ("b.com", "hub.com", 2),
         ("hub.com", "a.com", 1)],
        "src_host string, dst_host string, n_links long")
    docs = spark.createDataFrame(
        [(i, "w " * 10, ["hub.com", "b.com", "ghost.net"][i % 3])
         for i in range(300)],
        "doc_id long, text string, host string")
    # hub.com receives two in-links -> top tier keeps 100%;
    # b.com dangles at base rank -> mid tier 50%; ghost.net is not in
    # the graph -> pr 0 -> bottom tier 10%
    tiers = [(0.2, 1.0), (0.04, 0.5), (-1.0, 0.1)]
    got = {r["tier"]: r["n_docs"] for r in
           authority_weighted_mix(docs, edges, tiers=tiers).collect()}
    assert got[0] == 100                 # every hub doc kept
    assert 30 <= got.get(1, 0) <= 70     # ~half the b.com docs
    assert 0 < got.get(2, 0) <= 25       # ~10% of ghost docs
    # deterministic: same call, same counts
    again = {r["tier"]: r["n_docs"] for r in
             authority_weighted_mix(docs, edges, tiers=tiers).collect()}
    assert got == again


def test_extract_then_curate_end_to_end(spark, tmp_path):
    """The full corpus-build story: crawl pages → resumable extraction
    into the icebox table → curation (gates → dedup → split) over the
    EXTRACTED text — proving the storage layer and the curation plan
    compose."""
    from ocr_devnagari_spark.config import ExtractConfig
    from ocr_devnagari_spark.corpus import write_corpus
    from ocr_devnagari_spark.functions.url import url_host
    from ocr_devnagari_spark.plans.curation import curation_report
    from ocr_devnagari_spark.plans.pipeline import run_extract_job
    from ocr_devnagari_spark.sources.icebox import IceboxTable

    src = str(tmp_path / "corpus")
    write_corpus(src, 200)
    cfg = ExtractConfig(root_dir=str(tmp_path / "ocrds"))
    run_extract_job(spark, src, cfg, job_token="cur1")
    extracted = IceboxTable(cfg.root_dir + "/extracted").read(spark)
    # keyed deterministically by url hash (partition-independent)
    docs = (extracted.filter("success")
            .select(F.xxhash64("url").alias("doc_id"), "text",
                    url_host(F.col("url")).alias("host")))
    rep = curation_report(docs, min_words=10).collect()
    total = sum(r["n_docs"] for r in rep)
    assert 0 < total <= docs.count()
    assert all(r["split"] in ("train", "val", "test") for r in rep)
    assert sum(r["total_tokens"] for r in rep) > 0
