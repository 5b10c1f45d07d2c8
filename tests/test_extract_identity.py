"""Byte-identity of the distributed extraction vs the golden oracle —
the primary correctness gate (BASELINE.json: byte-identical text per url).
"""

from __future__ import annotations

import pytest


HOSTILE_MARKUP = [
    "",
    "plain text only",
    "a < b and c<d<e",
    "<p>unclosed",
    "<P CLASS='Nav sideBar'>mixed case attrs</p>",
    '<div class="a" id=\'b\' data-x=">">quoted > inside attr</div>',
    "<script>if (a<b) { x = '</div>'; }</script>after",
    "<SCRIPT>upper close</SCRIPT>tail",
    "<script>never closed raw text",
    "<style>p { content: '<'; }</style>s",
    "<textarea><p>not a tag</p></textarea>done",
    "<!-- comment <p>inside</p> -->x",
    "<!-- unterminated comment <p>y</p>",
    "<!DOCTYPE html><?xml version='1.0'?><p>z</p>",
    "<?php echo '<p>'; ?>w",
    "<br/><img src=x/><p/>v",
    "text &amp; entities &lt;kept&gt; &#65;",
    "<a href='x'>link</a> & <b>bold</b>",
    "<!bang no gt",
    "<",
    "tail<",
    "<1notatag>u",
    "<p><p><p>nested blocks",
    "<td>cell</td></tr></table>stray closers",
]


def test_materialize_events_pinned_spec():
    """The tokenizer IS the extraction spec: fixed expected events for
    the hostile cases (rawtext skips, mixed-case close tags, the
    unterminated comment, bare '<', '<!'/'<?' dispatch, a '<' that
    opens no tag, entities), plus a seeded random sweep that must never
    raise and must tokenize deterministically."""
    from ocr_devnagari_spark.extract_core import (
        DATA,
        END,
        START,
        materialize_events,
    )
    import random
    import string

    expected = {
        "<script>if (a<b) { x = '</div>'; }</script>after":
            [(START, ("script", "", False)), (END, "script"),
             (DATA, "after")],
        "<SCRIPT>upper close</SCRIPT>tail":
            [(START, ("script", "", False)), (END, "script"),
             (DATA, "tail")],
        "<!-- unterminated comment <p>y</p>": [],
        "<": [(DATA, "<")],
        "tail<": [(DATA, "tail"), (DATA, "<")],
        "<!bang no gt": [],
        # '<?' runs to the FIRST '>', even one inside a quoted string
        "<?php echo '<p>'; ?>w": [(DATA, "'; ?>w")],
        "<1notatag>u": [(DATA, "<"), (DATA, "1notatag>u")],
        "text &amp; entities &lt;kept&gt; &#65;":
            [(DATA, "text & entities <kept> A")],
    }
    assert set(expected) <= set(HOSTILE_MARKUP)
    for h, want in expected.items():
        assert materialize_events(h) == want, h

    rng = random.Random(42)
    frags = ["<p>", "</p>", "<div class='ad'>", "</div>", "text ",
             "<script>", "</script>", "<!--", "-->", "&amp;", "<",
             ">", "'", '"', "<br/>", "<a href='u'>", "</a>",
             "<!doctype>", "<?pi?>", "॥ 1 ॥ ॐ "]
    cases = list(HOSTILE_MARKUP)
    for _ in range(300):
        cases.append("".join(rng.choice(frags)
                             for _ in range(rng.randint(1, 40))))
    for _ in range(100):
        cases.append("".join(rng.choice(string.printable)
                             for _ in range(rng.randint(0, 120))))
    for h in cases:
        events = materialize_events(h)
        assert events == materialize_events(h), h
        assert all(kind in (START, END, DATA) for kind, _ in events), h

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ocr_devnagari_spark.corpus import gen_page
from ocr_devnagari_spark.operators.extract import extract_fused, is_pdf_col
from ocr_devnagari_spark.plans.pipeline import PAGES_SCHEMA, read_pages


def _golden_map(golden_path):
    t = pq.read_table(golden_path)
    return {u: (txt, b, s) for u, txt, b, s in zip(
        t.column("url").to_pylist(), t.column("text").to_pylist(),
        t.column("backend_used").to_pylist(), t.column("success").to_pylist())}


def test_fused_matches_golden_byte_identical(spark, corpus_dir, golden_path):
    pages = read_pages(spark, corpus_dir)
    out = extract_fused(pages).select(
        "url", "text", "backend_used", "success").collect()
    golden = _golden_map(golden_path)
    assert len(out) == len(golden)
    for r in out:
        g_text, g_backend, g_success = golden[r.url]
        assert r.text == g_text, f"text mismatch for {r.url}"
        assert r.backend_used == g_backend
        assert r.success == g_success


def test_expected_text_recovered_for_clean_docs(spark, corpus_dir):
    """Extraction recovers the generator's ground-truth main content —
    i.e. the oracle is ground truth, not self-agreement."""
    pages = read_pages(spark, corpus_dir)
    truth = spark.read.parquet(f"{corpus_dir}/truth.parquet")
    got = extract_fused(pages).select("url", "text")
    j = got.join(truth.filter(F.col("adversarial").isNull()), "url")
    bad = j.filter(F.col("text") != F.col("expected_text")).count()
    total = j.count()
    assert total > 400
    assert bad == 0


def test_partitioning_invariance(spark, corpus_dir, golden_path):
    """Output must be identical under repartition(1) / repartition(16) /
    salted-by-hash partitioning — the property that carries byte-identity
    from local[8] to a 1000-executor cluster (SURVEY.md §7.3)."""
    pages = read_pages(spark, corpus_dir)
    golden = _golden_map(golden_path)
    for df in (pages.repartition(1), pages.repartition(16),
               pages.repartition(7, F.pmod(F.xxhash64("url"), F.lit(7)))):
        out = extract_fused(df).select("url", "text").collect()
        assert len(out) == len(golden)
        for r in out:
            assert r.text == golden[r.url][0]


def test_route_split_predicate(spark, corpus_dir):
    """Catalyst-native PDF-magic predicate agrees with the Python check,
    NULL payload included: the predicate is NULL there (neither route),
    and ``extract_fused`` flags that row with ``backend_used='none'``."""
    pages = read_pages(spark, corpus_dir).unionByName(spark.createDataFrame(
        [("null-payload", None, None, None, None)], PAGES_SCHEMA))
    route = {r.pdf: r["count"] for r in pages.groupBy(
        is_pdf_col().alias("pdf")).count().collect()}
    assert route[None] == 1
    assert route[True] + route[False] + 1 == pages.count()
    routed = {r.backend_used: r["count"] for r in extract_fused(pages)
              .groupBy("backend_used").count().collect()}
    assert routed["pdf"] == route[True] > 0
    assert routed["none"] == 1


def test_escalation_fraction_sane(spark, corpus_dir):
    """Hybrid routing escalates a minority (reference reports ~8-15%
    escalation; our corpus lands in the same regime, <35%)."""
    pages = read_pages(spark, corpus_dir)
    byb = dict(extract_fused(pages).groupBy("backend_used").count().collect())
    total = sum(byb.values())
    assert byb.get("fast", 0) > 0.55 * total
    assert 0 < byb.get("fast+precise", 0) < 0.35 * total


def test_validation_floor():
    """Sub-20-char extractions fail validation (MIN_VALID_LENGTH)."""
    for i in range(2000):
        row = gen_page(i)
        if row["adversarial"] == "tiny":
            from ocr_devnagari_spark.extract_core import extract_document
            r = extract_document(row["url"], row["html"])
            assert not r["success"]
            assert r["error"] in ("too_short", "no_alnum")
            return
    raise AssertionError("no tiny doc in first 2000")
