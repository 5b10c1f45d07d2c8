"""WARC source: record parsing, gzip handling, skip of non-response
records, and end-to-end extraction over a WARC directory."""

from __future__ import annotations

import pytest

from ocr_devnagari_spark.sources.warc import (
    read_warc_pages,
    warc_bytes,
    write_warc_fs,
)

HTML_A = (b"<html><body><article><p>The quick brown fox paragraph is "
          b"long enough to validate cleanly.</p></article></body></html>")
HTML_B = (b"<html><body><nav>menu</nav><p>Second page body text that "
          b"also exceeds the validation floor.</p></body></html>")


@pytest.fixture()
def warc_dir(tmp_path):
    d = tmp_path / "warcs"
    d.mkdir()
    (d / "a.warc").write_bytes(warc_bytes([
        ("http://ex.com/a", "2024-01-02T03:04:05Z", HTML_A, "response"),
        ("http://ex.com/a", "2024-01-02T03:04:05Z",
         b"GET /a HTTP/1.1\r\n\r\n", "request"),      # must be skipped
        ("http://ex.com/b", "2024-01-02T03:04:06Z", HTML_B, "response"),
    ], compress=False))
    (d / "b.warc.gz").write_bytes(warc_bytes([
        ("http://ex.com/c", "2024-02-02T00:00:00Z", HTML_A, "response"),
    ]))
    return str(d)


def test_warc_pages_schema_and_rows(spark, warc_dir):
    pages = read_warc_pages(spark, warc_dir)
    rows = {r.url: r for r in pages.collect()}
    assert set(rows) == {"http://ex.com/a", "http://ex.com/b",
                         "http://ex.com/c"}
    assert bytes(rows["http://ex.com/a"].html) == HTML_A
    assert bytes(rows["http://ex.com/c"].html) == HTML_A   # gz member
    assert rows["http://ex.com/a"].warc_ts.isoformat() == \
        "2024-01-02T03:04:05"
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]


def test_warc_feeds_extraction(spark, warc_dir):
    from ocr_devnagari_spark.operators.extract import extract_fused
    out = {r.url: r for r in
           extract_fused(read_warc_pages(spark, warc_dir)).collect()}
    assert out["http://ex.com/a"].success
    assert "quick brown fox" in out["http://ex.com/a"].text
    # nav chrome stripped by the fast path
    assert "menu" not in out["http://ex.com/b"].text
    assert "Second page body" in out["http://ex.com/b"].text


def test_warc_truncated_tail_is_tolerated(spark, tmp_path):
    torn = (b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: http://ex.com/torn\r\n"
            b"Content-Length: 99999\r\n\r\nshort")   # torn final record
    (tmp_path / "trunc.warc").write_bytes(warc_bytes([
        ("http://ex.com/ok", "2024-01-01T00:00:00Z", HTML_A, "response"),
    ], compress=False) + torn)
    rows = read_warc_pages(spark, str(tmp_path)).collect()
    assert [r.url for r in rows] == ["http://ex.com/ok"]


def test_warc_malformed_length_resyncs(spark, tmp_path):
    """One record with a bad Content-Length must not discard the rest of
    the archive — the parser resyncs at the next WARC/ line."""
    import gzip
    import io

    out = io.BytesIO()
    def rec(url, body, length=None):
        http = b"HTTP/1.1 200 OK\r\n\r\n" + body
        ln = str(len(http)) if length is None else length
        out.write((f"WARC/1.0\r\nWARC-Type: response\r\n"
                   f"WARC-Target-URI: {url}\r\n"
                   f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
                   f"Content-Length: {ln}\r\n\r\n").encode())
        out.write(http + b"\r\n\r\n")
    rec("http://ex.com/one", HTML_A)
    rec("http://ex.com/bad", b"tiny", length="12, 12")   # malformed
    rec("http://ex.com/two", HTML_B)
    with open(tmp_path / "m.warc", "wb") as f:
        f.write(out.getvalue())
    rows = sorted(r.url for r in
                  read_warc_pages(spark, str(tmp_path)).collect())
    assert "http://ex.com/one" in rows and "http://ex.com/two" in rows


def test_warc_chunked_and_gzip_bodies_decoded(spark, tmp_path):
    """Real Common Crawl 'response' records arrive Transfer-Encoding:
    chunked and/or Content-Encoding: gzip — both must be undone before
    the bytes reach the extractor, or the text silently decodes to
    framing hex / compressed garbage."""
    import gzip as _gzip
    import io
    import zlib

    from ocr_devnagari_spark.sources.warc import read_warc_pages

    html = (b"<html><body><article><p>chunked and gzipped content body "
            b"long enough to validate cleanly for the gate</p>"
            b"</article></body></html>")

    def chunked(body, size=16):
        out = b""
        for i in range(0, len(body), size):
            c = body[i:i + size]
            out += f"{len(c):x}".encode() + b"\r\n" + c + b"\r\n"
        return out + b"0\r\n\r\n"

    out = io.BytesIO()

    def rec(url, http):
        out.write((f"WARC/1.0\r\nWARC-Type: response\r\n"
                   f"WARC-Target-URI: {url}\r\n"
                   f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
                   f"Content-Length: {len(http)}\r\n\r\n").encode())
        out.write(http + b"\r\n\r\n")

    rec("http://ex.com/chunked",
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        + chunked(html))
    rec("http://ex.com/gzip",
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
        + _gzip.compress(html))
    rec("http://ex.com/both",
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        + chunked(_gzip.compress(html)))
    rec("http://ex.com/deflate",
        b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
        + zlib.compress(html))
    rec("http://ex.com/plain",
        b"HTTP/1.1 200 OK\r\n\r\n" + html)
    with open(tmp_path / "enc.warc", "wb") as f:
        f.write(out.getvalue())

    got = {r.url: bytes(r.html)
           for r in read_warc_pages(spark, str(tmp_path)).collect()}
    assert len(got) == 5
    for url, body in got.items():
        assert body == html, url


def test_read_wet_pages_conversion_records(spark, tmp_path):
    """WET archives (conversion records, bare UTF-8 payloads) land in
    the text column with html NULL; interleaved response/metadata
    records are excluded — and the same file read as WARC sees only
    the response record."""
    from ocr_devnagari_spark.sources.warc import (
        read_warc_pages,
        read_wet_pages,
        write_warc_fs,
    )
    recs = [
        ("http://a.example/1", "2024-03-01T00:00:00Z",
         "plain text one — ünïcode".encode(), "conversion"),
        ("http://a.example/2", "2024-03-01T00:00:01Z",
         b"<html><p>raw page</p></html>", "response"),
        ("http://a.example/3", "2024-03-01T00:00:02Z",
         b"plain text three", "conversion"),
        ("http://a.example/meta", "2024-03-01T00:00:03Z",
         b"ignored", "metadata"),
    ]
    path = str(tmp_path / "x.wet.gz")
    write_warc_fs(spark, path, recs)
    wet = {r["url"]: r for r in read_wet_pages(spark, path).collect()}
    assert sorted(wet) == ["http://a.example/1", "http://a.example/3"]
    assert wet["http://a.example/1"]["text"] == "plain text one — ünïcode"
    assert wet["http://a.example/1"]["html"] is None
    assert wet["http://a.example/3"]["text"] == "plain text three"
    warc = {r["url"]: r for r in read_warc_pages(spark, path).collect()}
    assert sorted(warc) == ["http://a.example/2"]
    assert b"raw page" in bytes(warc["http://a.example/2"]["html"])


def test_read_wat_links(spark, tmp_path):
    """WAT metadata records: the published Envelope→HTML-Metadata→Links
    walk yields (url, href, kind) rows; malformed JSON and non-metadata
    records contribute nothing (tolerant, no task failure)."""
    import json

    from ocr_devnagari_spark.sources.warc import (
        read_wat_links,
        write_warc_fs,
    )

    def wat(links):
        return json.dumps({"Envelope": {"Payload-Metadata": {
            "HTTP-Response-Metadata": {"HTML-Metadata": {
                "Links": links}}}}}).encode()

    recs = [
        ("http://a.example/1", "2024-03-01T00:00:00Z",
         wat([{"path": "A@/href", "url": "http://b.example/x"},
              {"path": "IMG@/src", "url": "http://c.example/i.png"},
              {"nourl": True}]), "metadata"),
        ("http://a.example/2", "2024-03-01T00:00:01Z",
         b"{not json", "metadata"),
        ("http://a.example/3", "2024-03-01T00:00:02Z",
         json.dumps({"Envelope": {}}).encode(), "metadata"),
        ("http://a.example/4", "2024-03-01T00:00:03Z",
         b"<html>ignored response</html>", "response"),
    ]
    path = str(tmp_path / "x.wat.gz")
    write_warc_fs(spark, path, recs)
    got = sorted((r["url"], r["href"], r["kind"])
                 for r in read_wat_links(spark, path).collect())
    assert got == [
        ("http://a.example/1", "http://b.example/x", "A@/href"),
        ("http://a.example/1", "http://c.example/i.png", "IMG@/src"),
    ]
