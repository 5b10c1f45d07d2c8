"""Regression tests for the round-1 code-review findings."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from ocr_devnagari_spark.extract_core import extract_document, fast_extract_html
from ocr_devnagari_spark.sources.icebox import IceboxTable


def test_uppercase_rawtext_close_tags():
    """</SCRIPT> (any case) must terminate the raw section — previously it
    swallowed the rest of the document."""
    html = ("<html><head><SCRIPT>var x=1;</SCRIPT></head><body><article>"
            "<p>real content paragraph long enough to validate fine</p>"
            "</article></body></html>")
    text, _ = fast_extract_html(html)
    assert text == "real content paragraph long enough to validate fine"
    for variant in ("</Script>", "</STYLE >",):
        tag = "script" if "cript" in variant else "style"
        h = (f"<{tag}>junk < junk</{tag.upper()}><p>visible text that is "
             f"definitely long enough</p>").replace(
                 f"</{tag.upper()}>", variant)
        t, _ = fast_extract_html(h)
        assert "visible text" in t


def test_expire_survives_crashed_commit(spark, work_root):
    """A manifest written by a crashed commit (never pointed to by
    _current) must not cause expire_snapshots to delete the LIVE one."""
    t = IceboxTable(f"{work_root}/tbl")
    t.append(spark.range(5))
    assert t.snapshot_id() == 1
    # simulate the crash window: manifest-2 exists, _current still → 1
    m = t.current_manifest()
    orphan = dict(m, snapshot_id=2, parent_snapshot_id=1,
                  files=[], added_files=[], row_count=0)
    with open(os.path.join(t.path, "manifests",
                           "manifest-00000002.json"), "w") as f:
        json.dump(orphan, f)
    for d, _, names in os.walk(t.path):      # age past the grace window
        for name in names:
            os.utime(os.path.join(d, name), (1, 1))
    t.expire_snapshots()
    assert not os.path.exists(os.path.join(
        t.path, "manifests", "manifest-00000002.json"))
    assert t.read(spark).count() == 5        # live snapshot intact
    assert t.snapshot_id() == 1


def test_lineage_heals_after_crash_between_commits(spark, corpus_dir,
                                                   work_root):
    """Crash between output commit and lineage append: a token-idempotent
    re-run must recompute the missing lineage from the snapshot's own
    added files."""
    from ocr_devnagari_spark.config import ExtractConfig
    from ocr_devnagari_spark.plans.pipeline import run_extract_job
    cfg = ExtractConfig(root_dir=work_root)
    run_extract_job(spark, corpus_dir, cfg, job_token="t1")
    # wipe the lineage table entirely (as if the job died pre-append)
    import shutil
    shutil.rmtree(cfg.lineage_table)
    r = run_extract_job(spark, corpus_dir, cfg, job_token="t1")
    assert r["resumed"]
    lin = IceboxTable(cfg.lineage_table).read(spark)
    total = spark.read.parquet(f"{corpus_dir}/pages.parquet").count()
    assert lin.agg(F.sum("row_count")).first()[0] == total


def test_deep_nesting_does_not_crash():
    """1500-deep tag nesting must not RecursionError out of the precise
    path (it would kill the whole Spark task at web scale)."""
    deep = ("<div>" * 1500
            + "<p>some content that is long enough to validate okay</p>"
            + "</div>" * 1500)
    # force escalation by adding a critical pattern
    payload = (deep + "<pre><code>def f(x): return x</code></pre>").encode()
    r = extract_document("u", payload)
    assert r["backend_used"] in ("fast", "fast+precise")
    assert "some content" in r["text"]


def test_wet_text_has_no_script_leak():
    """Uppercase <SCRIPT> docs must not leak JS into the WET text column."""
    from ocr_devnagari_spark.corpus import gen_page
    leaks = 0
    for i in range(600):
        row = gen_page(i)
        if not row["is_pdf"] and "var x=" in row["text"]:
            leaks += 1
    assert leaks == 0


def test_knn_empty_input(spark):
    from ocr_devnagari_spark.operators.similarity import knn_self_join
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int")
    assert knn_self_join(empty).count() == 0


def test_class_pattern_in_both_detectors(spark):
    """extract_core and the Catalyst cascade agree on 'class Foo:'."""
    from ocr_devnagari_spark.extract_core import detect_critical
    from ocr_devnagari_spark.functions.text import critical_score
    s = ("class Foo: a perfectly ordinary code sample with enough words "
         "around it to make a long document")
    flag, score, _ = detect_critical(s)
    assert flag
    got = spark.createDataFrame([(s,)], "text string").select(
        critical_score(F.col("text")).alias("s")).first().s
    assert abs(got - score) < 1e-9


def test_data_class_attrs_are_not_class(spark=None):
    """data-class= / data-id= are custom attributes, not class/id — they
    must not mark real content blocks as dropped ('-' is a word boundary,
    so the old \\b(class|id) matched inside them)."""
    h = ('<div data-class="advert" data-id="comment-42">'
         '<p>real content that is definitely long enough to keep</p></div>')
    t, _ = fast_extract_html(h)
    assert "real content" in t
    # a genuine class attribute still drops
    h2 = ('<div class="advert"><p>pure advertisement junk here</p></div>'
          '<p>real content that is definitely long enough to keep</p>')
    t2, _ = fast_extract_html(h2)
    assert "advertisement junk" not in t2 and "real content" in t2


def test_dechunk_rejects_negative_size():
    """A negative hex chunk-size line must terminate, not loop forever
    (find() clamps a negative resume offset back to 0)."""
    from ocr_devnagari_spark.sources.warc import _dechunk
    assert _dechunk(b"-444\r\n" + b"X" * 10) == b""
    assert _dechunk(b"3\r\nabc\r\n-4\r\nzzzz\r\n0\r\n\r\n") == b"abc"


def test_malformed_png_nulls_not_crash(spark):
    """Truncated IHDR / corrupt IDAT / oversize header must all surface
    as UnsupportedMediaError (→ NULL feature row), never a raw
    struct/zlib error that kills the task."""
    import struct
    import zlib

    import pytest as _pytest

    from ocr_devnagari_spark.codecs import (
        UnsupportedMediaError,
        decode_png,
        encode_png,
    )
    good = encode_png([(7,)] * 16, 4, 4, 1)
    cases = {
        "truncated_ihdr": good[:20],
        "corrupt_idat": good[:33] + b"\x00" * (len(good) - 33),
        "bomb_header": (b"\x89PNG\r\n\x1a\n"
                        + struct.pack(">I", 13) + b"IHDR"
                        + struct.pack(">IIBBBBB", 100_000, 100_000,
                                      8, 0, 0, 0, 0)
                        + struct.pack(">I", 0)
                        + struct.pack(">I", 5) + b"IDAT"
                        + zlib.compress(b"\x00" * 10)[:5]
                        + struct.pack(">I", 0)),
    }
    for name, payload in cases.items():
        with _pytest.raises(UnsupportedMediaError):
            decode_png(payload)

    # end-to-end: the stage NULLs them instead of dying
    from ocr_devnagari_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        image_feature_stage,
    )
    rows = [(k, "image", v, "image/png") for k, v in cases.items()]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = image_feature_stage(media).collect()
    assert len(got) == 3
    assert all(r.width is None and r.n_bytes > 0 for r in got)


def test_pages_filter_survives_huge_url_numbers(spark, tmp_path):
    """--pages must not abort under ANSI when a url tail exceeds int64
    (try_cast, not cast)."""
    from ocr_devnagari_spark.config import ExtractConfig
    from ocr_devnagari_spark.plans.pipeline import (
        PAGES_SCHEMA,
        run_extract_job,
    )
    html = (b"<html><body><article><p>a perfectly ordinary paragraph "
            b"with plenty of words to validate</p></article></body></html>")
    rows = [(f"https://h/a/{i:012d}.html", None, html, None, None)
            for i in range(6)]
    rows.append(("https://h/a/12345678901234567890123.html",
                 None, html, None, None))
    spark.createDataFrame(rows, PAGES_SCHEMA).write.mode(
        "overwrite").parquet(str(tmp_path / "c" / "pages.parquet"))
    cfg = ExtractConfig(root_dir=str(tmp_path / "t"))
    r = run_extract_job(spark, str(tmp_path / "c"), cfg, pages="0-3")
    assert r["rows"] == 4          # huge-number url is simply not selected
