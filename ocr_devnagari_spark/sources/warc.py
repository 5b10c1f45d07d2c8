"""WARC source — read Common-Crawl-style WARC files into the pages schema.

The reference ingests loose PDFs/images from a directory; the web-scale
equivalent input is the WARC archive (ISO 28500, the format Common Crawl
publishes). This source turns `*.warc` / `*.warc.gz` files into the same
``(url, warc_ts, html, text, lang)`` DataFrame the rest of the engine
consumes, so a user can point the pipeline at raw crawl output without a
separate conversion job.

Scale shape: ``binaryFile`` gives one row per archive, and record parsing
runs inside ``mapInPandas`` — so parallelism is per-FILE, which is exactly
how Common Crawl shards its corpus (~1 GB, ~25k-record segments; a 100 TB
crawl is ~100k files, far more than any executor count). Decompression is
STREAMED (``GzipFile``, multi-member) and rows leave in bounded chunks,
so a task holds the compressed file bytes (that part is ``binaryFile``'s
contract) plus one decoded chunk — never the 4-5 GB decompressed archive.
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CRLF = b"\r\n"


def _parse_headers(block: bytes) -> dict:
    headers = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower().decode("latin-1")] = \
                v.strip().decode("latin-1")
    return headers


def iter_warc_records(stream, with_spans: bool = False) -> Iterator:
    """Yield (warc_headers, payload_bytes) per record from a binary
    stream — or, with ``with_spans=True``, (headers, payload, offset,
    length) where ``offset`` is the record's start position and
    ``length`` the bytes through the end of its payload, both in the
    UNCOMPRESSED stream (the CDX convention for non-member-gzip files).
    Tolerates both single-gzip-member and plain files (the caller
    decompresses); skips malformed trailing garbage instead of raising."""
    buf = io.BufferedReader(stream) if not isinstance(
        stream, io.BufferedReader) else stream
    while True:
        line = buf.readline()
        if not line:
            return
        if not line.startswith(b"WARC/"):
            continue                      # inter-record padding
        # tell() only when spans are requested — it raises on
        # non-seekable streams (pipes), which plain iteration supports
        start = (buf.tell() - len(line)) if with_spans else 0
        header_lines = []
        while True:
            ln = buf.readline()
            if not ln or ln == _CRLF:
                break
            header_lines.append(ln.rstrip(b"\r\n"))
        headers = _parse_headers(_CRLF.join(header_lines))
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            continue    # malformed header: resync at the next WARC/ line
            #             (a `return` here would silently drop every
            #             remaining record in a ~25k-record segment)
        payload = buf.read(length)
        if len(payload) < length:
            return                        # truncated archive tail
        if with_spans:
            yield headers, payload, start, buf.tell() - start
        else:
            yield headers, payload


def _dechunk(body: bytes) -> bytes:
    """Undo Transfer-Encoding: chunked framing (hex size line CRLF data
    CRLF, terminated by a 0-size chunk). Best-effort: malformed or
    truncated framing yields the chunks decoded so far."""
    out = []
    i = 0
    while True:
        j = body.find(_CRLF, i)
        if j < 0:
            break
        try:
            size = int(body[i:j].split(b";")[0].strip() or b"0", 16)
        except ValueError:
            break
        if size <= 0:
            break       # 0 = terminator; negative = garbage framing —
            #             accepting it would loop forever (find() clamps
            #             a negative start back to 0)
        chunk = body[j + 2:j + 2 + size]
        out.append(chunk)
        if len(chunk) < size:
            break                          # truncated record tail
        i = j + 2 + size + 2               # skip the chunk's CRLF
    return b"".join(out)


def _http_body(payload: bytes) -> bytes:
    """Strip the HTTP response envelope a 'response' record carries, then
    undo the wire encodings real crawls use: Transfer-Encoding: chunked
    keeps hex framing interleaved in the HTML, and Content-Encoding:
    gzip/deflate bodies are compressed — without this, decode(errors=
    'replace') silently yields garbage text. Decompression is
    best-effort: a corrupt body stays raw (the extractor's validation
    gate rejects it downstream) rather than killing the task."""
    if payload[:5] != b"HTTP/":
        return payload
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        return payload
    headers = _parse_headers(payload[:sep])
    body = payload[sep + 4:]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    ce = headers.get("content-encoding", "").lower().strip()
    if ce in ("gzip", "x-gzip"):
        try:
            body = gzip.decompress(body)
        except OSError:
            pass
    elif ce == "deflate":
        import zlib
        try:
            body = zlib.decompress(body)
        except zlib.error:
            try:                           # some servers send RAW deflate
                body = zlib.decompress(body, -zlib.MAX_WBITS)
            except zlib.error:
                pass
    return body


def _records_to_rows(content: bytes, record_types=("response",),
                     as_text: bool = False):
    if content[:2] == b"\x1f\x8b":       # gzip magic — STREAM the members
        #  (GzipFile reads concatenated members; gzip.decompress would
        #  hold the whole ~4-5 GB decompressed archive as one object)
        stream = gzip.GzipFile(fileobj=io.BytesIO(content))
    else:
        stream = io.BytesIO(content)
    for headers, payload in iter_warc_records(stream):
        if headers.get("warc-type") not in record_types:
            continue                      # request/metadata/warcinfo
        url = headers.get("warc-target-uri")
        if not url:
            continue
        ts = None
        raw_ts = headers.get("warc-date")
        if raw_ts:
            try:
                ts = datetime.fromisoformat(
                    raw_ts.replace("Z", "+00:00")).astimezone(
                        timezone.utc).replace(tzinfo=None)
            except ValueError:
                ts = None
        if as_text:
            # conversion (WET) payloads are bare UTF-8 text — no HTTP
            # envelope to strip, lands in the text column
            yield {"url": url, "warc_ts": ts, "html": None,
                   "text": payload.decode("utf-8", "replace"),
                   "lang": None}
        else:
            yield {"url": url, "warc_ts": ts, "html": _http_body(payload),
                   "text": None, "lang": None}


def _flush_chunks(row_iter, cols, rows_per_batch: int):
    """Accumulate dict rows from ``row_iter`` and yield them as
    pandas frames of ≤ ``rows_per_batch`` rows — the one shared
    bounded-working-set loop behind every mapInPandas parser here."""
    import pandas as pd
    rows = []
    for row in row_iter:
        rows.append(row)
        if len(rows) >= rows_per_batch:
            yield pd.DataFrame(rows, columns=cols)
            rows = []
    if rows:
        yield pd.DataFrame(rows, columns=cols)


def read_warc_pages(spark: SparkSession, path: str,
                    rows_per_batch: int = 1024,
                    record_types=("response",),
                    as_text: bool = False) -> DataFrame:
    """``*.warc`` / ``*.warc.gz`` files → pages DataFrame
    (``plans.pipeline.PAGES_SCHEMA``). One task per archive file; rows
    stream out in ``rows_per_batch`` chunks, so the task working set is
    the COMPRESSED file (held by ``binaryFile``) + one chunk of decoded
    records — never the whole decompressed archive."""
    from ..plans.pipeline import PAGES_SCHEMA

    files = spark.read.format("binaryFile").load(path).select("content")
    cols = [f.name for f in PAGES_SCHEMA.fields]

    def parse(batches):
        for pdf in batches:
            for content in pdf["content"]:
                yield from _flush_chunks(
                    _records_to_rows(bytes(content), record_types,
                                     as_text),
                    cols, rows_per_batch)

    return files.mapInPandas(parse, PAGES_SCHEMA)


def read_wet_pages(spark: SparkSession, path: str,
                   rows_per_batch: int = 1024) -> DataFrame:
    """Common-Crawl WET archives (``WARC-Type: conversion``, bare
    UTF-8 text payloads) → pages DataFrame with ``text`` populated and
    ``html`` NULL — the pre-extracted-text sibling of
    :func:`read_warc_pages`, same streaming/task shape."""
    return read_warc_pages(spark, path, rows_per_batch,
                           record_types=("conversion",), as_text=True)


CDX_COLUMNS = ["url", "warc_ts", "offset", "length", "digest", "mime",
               "status", "filename"]


def _http_meta(payload: bytes) -> tuple:
    """(status, mime) from a response record's HTTP envelope; (None,
    None) when the payload is not an HTTP message."""
    if payload[:5] != b"HTTP/":
        return None, None
    sep = payload.find(b"\r\n\r\n")
    head = payload[:sep] if sep >= 0 else payload
    first = head.split(_CRLF, 1)[0].split(b" ")
    status = None
    if len(first) >= 2:
        try:
            status = int(first[1])
        except ValueError:
            status = None
    mime = _parse_headers(head).get("content-type")
    if mime:
        mime = mime.split(";")[0].strip().lower()
    return status, mime


def _cdx_rows(content: bytes, filename: str):
    import hashlib
    if content[:2] == b"\x1f\x8b":
        stream = gzip.GzipFile(fileobj=io.BytesIO(content))
    else:
        stream = io.BytesIO(content)
    for headers, payload, off, length in iter_warc_records(
            stream, with_spans=True):
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        ts = None
        raw_ts = headers.get("warc-date")
        if raw_ts:
            try:
                ts = datetime.fromisoformat(
                    raw_ts.replace("Z", "+00:00")).astimezone(
                        timezone.utc).replace(tzinfo=None)
            except ValueError:
                ts = None
        status, mime = _http_meta(payload)
        yield {"url": url, "warc_ts": ts, "offset": off,
               "length": length,
               "digest": hashlib.sha1(payload).hexdigest(),
               "mime": mime, "status": status, "filename": filename}


def warc_cdx_index(spark: SparkSession, path: str,
                   rows_per_batch: int = 4096) -> DataFrame:
    """CDX-style capture index over ``*.warc(.gz)`` files: one row per
    response record — ``(url, warc_ts, offset, length, digest, mime,
    status, filename)``.  The crawl-side complement of
    :func:`read_warc_pages`: dedup by payload digest, random access by
    (filename, offset, length), and re-crawl diffing all run off this
    table without touching page bodies again.

    Offsets are positions in the UNCOMPRESSED stream (this source's
    archives are single-member gzip; Common Crawl's member-per-record
    layout would make them compressed offsets — documented difference).
    Same scale shape as ``read_warc_pages``: one task per archive,
    streamed decompression, bounded output chunks."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType([
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("offset", LongType()),
        StructField("length", LongType()),
        StructField("digest", StringType()),
        StructField("mime", StringType()),
        StructField("status", IntegerType()),
        StructField("filename", StringType()),
    ])
    files = (spark.read.format("binaryFile").load(path)
             .select("path", "content"))

    def parse(batches):
        for pdf in batches:
            for fp, content in zip(pdf["path"], pdf["content"]):
                name = fp.rsplit("/", 1)[-1]
                yield from _flush_chunks(_cdx_rows(bytes(content), name),
                                         CDX_COLUMNS, rows_per_batch)

    return files.mapInPandas(parse, schema)


def crawl_diff(old: DataFrame, new: DataFrame,
               url_col: str = "url", digest_col: str = "digest"
               ) -> DataFrame:
    """Re-crawl delta from two capture indexes (CDX tables or anything
    carrying (url, content digest)): ``(url, change)`` where change ∈
    ``new`` / ``gone`` / ``changed`` / ``unchanged``.

    Multiple captures of one url collapse to the LATEST digest per side
    when a ``warc_ts`` column is present, else to the max digest
    (deterministic either way).  One full outer join on url — at crawl
    scale both sides are url-hash-partitioned digests, no payloads.
    """
    def latest(df: DataFrame) -> DataFrame:
        cols = df.columns
        if "warc_ts" in cols:
            pick = F.max(F.struct(F.col("warc_ts"),
                                  F.col(digest_col).alias("d")))
        else:
            pick = F.max(F.struct(F.col(digest_col).alias("d")))
        return (df.groupBy(F.col(url_col).alias("url"))
                .agg(pick.alias("_p"))
                .select("url", F.col("_p.d").alias("digest")))

    o = latest(old).withColumnRenamed("digest", "old_digest")
    n = latest(new).withColumnRenamed("digest", "new_digest")
    joined = o.join(n, on="url", how="full_outer")
    change = (F.when(F.col("old_digest").isNull(), F.lit("new"))
              .when(F.col("new_digest").isNull(), F.lit("gone"))
              .when(F.col("old_digest") != F.col("new_digest"),
                    F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    return joined.select("url", change.alias("change"))


# -- test/demo helper ---------------------------------------------------------

def warc_bytes(records: list, compress: bool = True) -> bytes:
    """Serialize ``records`` = [(url, iso_ts, html_bytes, warc_type),
    ...] to minimal valid WARC bytes (optionally gzip-compressed) —
    the write target (local file, Hadoop FS stream) is the caller's."""
    out = io.BytesIO()
    for url, iso_ts, body, wtype in records:
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + body) if wtype == "response" else body
        head = (f"WARC/1.0\r\n"
                f"WARC-Type: {wtype}\r\n"
                f"WARC-Target-URI: {url}\r\n"
                f"WARC-Date: {iso_ts}\r\n"
                f"Content-Length: {len(http)}\r\n"
                f"\r\n").encode("latin-1")
        out.write(head + http + b"\r\n\r\n")
    data = out.getvalue()
    return gzip.compress(data) if compress else data


def write_warc_fs(spark: SparkSession, path: str, records: list,
                  compress: bool | None = None) -> str:
    """Write ``warc_bytes(records)`` (gzip-compressed when ``path`` ends
    in ``.gz``) through the Hadoop FileSystem API, so ``path`` may
    live on whatever shared store the session resolves (HDFS/S3A/...);
    executors reading the file via ``binaryFile`` then see the same
    bytes the driver wrote — a plain ``open()`` on a real cluster would
    land driver-local and break every executor-side read."""
    if compress is None:
        compress = path.endswith(".gz")
    data = warc_bytes(records, compress=compress)
    sc = spark.sparkContext
    jvm = sc._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()
    return path


WAT_LINKS_SCHEMA = ("url string, warc_ts timestamp, href string, "
                    "kind string")


def read_wat_links(spark: SparkSession, path: str,
                   rows_per_batch: int = 4096) -> DataFrame:
    """Common-Crawl WAT archives (``WARC-Type: metadata``, JSON
    payloads) → outlink rows ``(url, warc_ts, href, kind)`` — the third
    member of the WARC/WET/WAT trio, feeding the link-graph family
    (``functions.links.host_edges`` / PageRank) without an HTML parse.

    The payload walk follows the published WAT layout
    (``Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata
    .Links[] = {path, url}``) and is tolerant: malformed JSON or a
    missing branch yields no rows for that record, never a task
    failure.  Same scale shape as ``read_warc_pages``: one task per
    archive, streamed record batches, the compressed file is the
    working set."""
    import json as _json

    files = spark.read.format("binaryFile").load(path).select("content")
    cols = ["url", "warc_ts", "href", "kind"]

    def link_rows(content):
        for r in _records_to_rows(content, record_types=("metadata",),
                                  as_text=True):
            try:
                doc = _json.loads(r["text"])
                links = (doc["Envelope"]["Payload-Metadata"]
                         ["HTTP-Response-Metadata"]
                         ["HTML-Metadata"]["Links"])
            except (ValueError, KeyError, TypeError):
                continue
            if not isinstance(links, list):
                continue
            for ln in links:
                if not isinstance(ln, dict) or "url" not in ln:
                    continue
                yield {"url": r["url"], "warc_ts": r["warc_ts"],
                       "href": str(ln["url"]),
                       "kind": str(ln.get("path", ""))}

    def parse(batches):
        for pdf in batches:
            for content in pdf["content"]:
                yield from _flush_chunks(link_rows(bytes(content)),
                                         cols, rows_per_batch)

    return files.mapInPandas(parse, WAT_LINKS_SCHEMA)
