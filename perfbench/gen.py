"""Seeded input generator and golden cache for the benchmark.

``corpus.gen_page`` seeds each page by its doc id and takes no seed, so a
benchmark seed selects a disjoint doc-id range (``doc_offset``).  Every
input a workload needs is described as a list of page specs
``(doc_id, html_from, hostile)``: the url always comes from ``doc_id``;
the payload comes from ``html_from`` (a copy of another page, which is how
duplicate text is planted) or from a hostile-markup generator.

Golden texts are computed with ``extract_core.extract_document``, one page
at a time on one thread per worker process; that is the repository's
golden oracle (``goldenref``), run over the same bytes the engine reads.

Everything written here lives under one cache directory whose name carries
(workload, seed, size, source hash); a ``_key.json`` inside is checked on
load, so a stale or foreign cache is rebuilt, never trusted.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# ---------------------------------------------------------------------------
# Sizes.  One place, so BENCHMARK.json's notes and the tests read the same
# numbers the runs use.
# ---------------------------------------------------------------------------
FRESH_PAGES = 8_000         # crawl_fresh: pages of the 4-task job
FRESH_FILES = 8             # input files; 2 per scan task at local[4]
ONE_TASK_PAGES = 2_000      # pages of the 1-task job (first quarter)
HOSTILE_EVERY = 1_000       # one planted hostile page per this many pages
WARM_PAGES = 2_000          # warm-up pages (outside every timed set)

HIST_SNAPSHOTS = 4          # crawl_resume: commits that build the history
HIST_PER_SNAPSHOT = 1_000
RESUME_BATCHES = 4          # batches prepared; a run uses what fits
BATCH_OLD = 300             # already-committed urls re-offered per batch
BATCH_NEW = 700             # new urls per batch
BATCH_CRASH_LIMIT = 350     # limit_pending of the crash step
RESUME_WARM = 500           # crawl_resume's warm-up pages

CURATE_DOCS = 1_000         # curate_suite: distinct source pages
CLONE_EVERY = 50            # planted exact clone of every 50th doc
NEAR_EVERY = 60             # planted near-duplicate of every 60th doc
CLONE_OFFSET = 500_000      # clone id = source id + this
NEAR_OFFSET = 700_000       # near-duplicate id = source id + this
CURATE_WARM_DOCS = 200
SOURCES = 7

HOSTILE_KINDS = ("open_anchor", "open_attr", "open_bx", "deep_nest")
# bytes per kind, sized so one page costs ~0.2-0.35 s of one core today
HOSTILE_BYTES = {"open_anchor": 4_500, "open_attr": 5_000,
                 "open_bx": 5_000, "deep_nest": 40_000}

ROW_GROUP = 500


def hostile_payload(kind: str, nbytes: int) -> bytes:
    """Markup that real crawls contain and that stresses the tokenizer:
    unterminated ``<a `` / ``<img`` / ``<b x=`` runs (every ``<`` starts
    a failed tag match) and deeply nested ``<div>``s."""
    head = b"<html><body><p>lead paragraph of a hostile page</p>"
    if kind == "open_anchor":
        return head + b"<a " * (nbytes // 3)
    if kind == "open_attr":
        return head + b'<img src="x" ' * (nbytes // 13)
    if kind == "open_bx":
        return head + b"<b x=1 " * (nbytes // 7)
    if kind == "deep_nest":
        k = nbytes // 11
        return head + b"<div>" * k + b"deep text" + b"</div>" * k
    raise ValueError(f"unknown hostile kind {kind!r}")


def source_hash() -> str:
    """Hash of every source file that decides generated bytes or golden
    texts: this module, the page generator and the extraction core."""
    h = hashlib.sha256()
    for rel in ("perfbench/gen.py", "ocr_devnagari_spark/corpus.py",
                "ocr_devnagari_spark/extract_core.py"):
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def doc_offset(seed: int) -> int:
    """Disjoint doc-id range per seed (10^6 ids each, 12-digit urls)."""
    d = hashlib.sha256(f"perfbench-seed-{seed}".encode()).digest()
    return 1_000_000 * (1 + int.from_bytes(d[:8], "big") % 900_000)


# ---------------------------------------------------------------------------
# Page specs per workload.  A spec is (doc_id, html_from, hostile) where
# html_from is a doc id whose payload is copied (None = own payload) and
# hostile is a kind name (None = a normal page).
# ---------------------------------------------------------------------------

def fresh_specs(seed: int) -> dict:
    base = doc_offset(seed)
    main = []
    for i in range(FRESH_PAGES):
        hostile = None
        if i % HOSTILE_EVERY == HOSTILE_EVERY // 2:
            hostile = HOSTILE_KINDS[(i // HOSTILE_EVERY) % len(HOSTILE_KINDS)]
        main.append((base + i, None, hostile))
    warm = [(base + FRESH_PAGES + i, None, None) for i in range(WARM_PAGES)]
    return {"pages": main, "warm": warm}


def resume_specs(seed: int) -> dict:
    base = doc_offset(seed)
    n_hist = HIST_SNAPSHOTS * HIST_PER_SNAPSHOT
    hist = []
    for i in range(n_hist):
        # every 40th history page re-serves an earlier page's bytes:
        # the history itself carries dedup marks
        src = base + i - 7 if i % 40 == 39 else None
        hist.append((base + i, src, None))
    batches = []
    nxt = base + n_hist
    for b in range(RESUME_BATCHES):
        old = [hist[(b * 997 + j * 19) % n_hist] for j in range(BATCH_OLD)]
        new = []
        for j in range(BATCH_NEW):
            did = nxt + j
            if j % 10 == 3:          # new url, text of a committed page
                src = base + (b * 131 + j * 7) % n_hist
            elif j % 33 == 5 and j > 5:   # new url, text of a batch page
                src = nxt + j - 5
            else:
                src = None
            new.append((did, src, None))
        nxt += BATCH_NEW
        batches.append(old + new)
    warm = [(nxt + i, None, None) for i in range(RESUME_WARM)]
    return {"history": hist, "batches": batches, "warm": warm}


def curate_specs(seed: int) -> dict:
    base = doc_offset(seed)
    pages = [(base + i, None, None) for i in range(CURATE_DOCS)]
    warm = [(base + CURATE_DOCS + i, None, None)
            for i in range(CURATE_WARM_DOCS)]
    return {"pages": pages, "warm": warm}


# ---------------------------------------------------------------------------
# Page materialization (process pool; one page at a time per worker)
# ---------------------------------------------------------------------------

def _page_payload(spec) -> tuple:
    from ocr_devnagari_spark.corpus import gen_page
    doc_id, html_from, hostile = spec
    row = gen_page(doc_id)
    if hostile is not None:
        html = hostile_payload(hostile, HOSTILE_BYTES[hostile])
    elif html_from is not None:
        html = gen_page(html_from)["html"]
    else:
        html = row["html"]
    return row["url"], row["warc_ts"], html, row["text"], row["lang"]


def _make_rows(specs: list, known: dict | None = None) -> list:
    """Worker: page rows plus the golden text of each payload.  ``known``
    maps payload sha1 → golden text computed earlier (hostile pages)."""
    from ocr_devnagari_spark.extract_core import extract_document
    out = []
    memo: dict = dict(known or {})
    for spec in specs:
        url, ts, html, text, lang = _page_payload(spec)
        key = hashlib.sha1(html).digest()
        if key not in memo:
            memo[key] = extract_document(url, html)["text"]
        out.append((url, ts, html, text, lang, memo[key]))
    return out


def hostile_golden() -> dict:
    """Golden texts of the hostile payloads (seed-independent, slow to
    extract), keyed by payload sha1."""
    from ocr_devnagari_spark.extract_core import extract_document
    out = {}
    for kind in HOSTILE_KINDS:
        html = hostile_payload(kind, HOSTILE_BYTES[kind])
        out[hashlib.sha1(html).digest()] = extract_document("", html)["text"]
    return out


def make_rows(specs: list, workers: int) -> list:
    """Rows in spec order, generated by a pool of single-threaded
    workers over interleaved chunks."""
    known = hostile_golden() if any(s[2] for s in specs) else {}
    if workers <= 1 or len(specs) < 2_000:
        return _make_rows(specs, known)
    n_chunks = workers * 4
    chunks = [specs[c::n_chunks] for c in range(n_chunks)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(workers, initializer=_worker_init, initargs=(ROOT,)) as pool:
        parts = pool.starmap(_make_rows, [(c, known) for c in chunks])
    del pool
    stop_helpers()
    rows = [None] * len(specs)
    for c, part in enumerate(parts):
        rows[c::n_chunks] = part
    return rows


def stop_helpers() -> None:
    """Stop the resource tracker a spawn-context pool leaves running (it
    would otherwise outlive us until it sees our end of its pipe close).
    The pool's semaphores are collected first: their finalizers talk to
    the tracker and would start a new one if it were already stopped."""
    import gc
    from multiprocessing import resource_tracker
    gc.collect()
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def _worker_init(root: str) -> None:
    import sys
    if root not in sys.path:
        sys.path.insert(0, root)


PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

GOLDEN_SCHEMA = pa.schema([("url", pa.string()), ("text", pa.string())])


def write_pages(rows: list, out_dir: str, n_files: int,
                row_group: int = ROW_GROUP) -> None:
    """``<out_dir>/pages.parquet/part-NNNN.parquet`` in contiguous equal
    slices (the layout ``run_extract_job`` reads) + ``golden.parquet``."""
    pdir = os.path.join(out_dir, "pages.parquet")
    os.makedirs(pdir, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[]] * 6
    table = pa.table({"url": cols[0], "warc_ts": cols[1], "html": cols[2],
                      "text": cols[3], "lang": cols[4]}, schema=PAGES_SCHEMA)
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * step, step),
                       os.path.join(pdir, f"part-{f:04d}.parquet"),
                       row_group_size=row_group, compression="zstd")
    pq.write_table(pa.table({"url": cols[0], "text": cols[5]},
                            schema=GOLDEN_SCHEMA),
                   os.path.join(out_dir, "golden.parquet"))


# ---------------------------------------------------------------------------
# Cache
# ---------------------------------------------------------------------------

def _sizes(workload: str) -> dict:
    if workload == "crawl_fresh":
        return {"pages": FRESH_PAGES, "files": FRESH_FILES,
                "one_task": ONE_TASK_PAGES, "hostile_every": HOSTILE_EVERY,
                "warm": WARM_PAGES}
    if workload == "crawl_resume":
        return {"snapshots": HIST_SNAPSHOTS, "per": HIST_PER_SNAPSHOT,
                "batches": RESUME_BATCHES, "old": BATCH_OLD,
                "new": BATCH_NEW, "crash": BATCH_CRASH_LIMIT,
                "warm": RESUME_WARM}
    return {"docs": CURATE_DOCS, "clone": CLONE_EVERY, "near": NEAR_EVERY,
            "warm": CURATE_WARM_DOCS, "sources": SOURCES}


def cache_key(workload: str, seed: int) -> dict:
    return {"workload": workload, "seed": seed, "sizes": _sizes(workload),
            "source": source_hash()}


def _key_dir(cache_root: str, key: dict) -> str:
    tag = hashlib.sha256(json.dumps(key, sort_keys=True).encode()
                         ).hexdigest()[:12]
    return os.path.join(cache_root, f"{key['workload']}-{key['seed']}-{tag}")


def load_or_build(cache_root: str, workload: str, seed: int,
                  workers: int = 4) -> str:
    """Directory holding the workload's inputs for ``seed``; built on a
    miss, and rebuilt when its recorded key does not match."""
    key = cache_key(workload, seed)
    d = _key_dir(cache_root, key)
    kpath = os.path.join(d, "_key.json")
    if os.path.exists(kpath):
        with open(kpath) as f:
            if json.load(f) == key:
                return d
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    BUILDERS[workload](seed, tmp, workers)
    with open(os.path.join(tmp, "_key.json"), "w") as f:
        json.dump(key, f)
    os.replace(tmp, d)
    return d


def _build_fresh(seed: int, out: str, workers: int) -> None:
    s = fresh_specs(seed)
    rows = make_rows(s["pages"] + s["warm"], workers)
    main, warm = rows[:FRESH_PAGES], rows[FRESH_PAGES:]
    write_pages(main, os.path.join(out, "pages"), FRESH_FILES)
    # one file, one row group: Spark plans one busy scan task for it
    write_pages(main[:ONE_TASK_PAGES], os.path.join(out, "pages_1task"), 1,
                row_group=ONE_TASK_PAGES)
    write_pages(warm, os.path.join(out, "warm"), 4)
    with open(os.path.join(out, "hostile.json"), "w") as f:
        json.dump([[r[0], sp[2]] for r, sp in zip(main, s["pages"]) if sp[2]],
                  f)


def _build_resume(seed: int, out: str, workers: int) -> None:
    s = resume_specs(seed)
    flat = s["history"] + [p for b in s["batches"] for p in b] + s["warm"]
    rows = make_rows(flat, workers)
    n_hist = len(s["history"])
    # one pages table for the history; each history commit selects its
    # doc-number range with run_extract_job(pages="lo-hi")
    write_pages(rows[:n_hist], os.path.join(out, "history"), 4)
    pos = n_hist
    for b, batch in enumerate(s["batches"]):
        write_pages(rows[pos:pos + len(batch)],
                    os.path.join(out, f"batch-{b:02d}"), 4)
        pos += len(batch)
    write_pages(rows[pos:], os.path.join(out, "warm"), 4)
    base = doc_offset(seed)
    ranges = [f"{base + k * HIST_PER_SNAPSHOT}-"
              f"{base + (k + 1) * HIST_PER_SNAPSHOT - 1}"
              for k in range(HIST_SNAPSHOTS)]
    with open(os.path.join(out, "history_ranges.json"), "w") as f:
        json.dump(ranges, f)


def near_dup_text(text: str) -> str:
    """Replace one word in the middle of the text: word-3-shingle Jaccard
    to the original stays ≥ 0.8 on texts of ≥ 60 words."""
    ws = text.split(" ")
    ws[len(ws) // 2] = "nearduplicatemarker"
    return " ".join(ws)


DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("source", pa.string()),
                         ("text", pa.string())])


def _curate_docs(rows: list, specs: list) -> pa.Table:
    """(doc_id, source, text) from golden texts, plus planted exact
    clones and near-duplicates with ids past the source range."""
    ids, srcs, texts = [], [], []
    for (doc_id, _, _), r in zip(specs, rows):
        ids.append(doc_id)
        srcs.append(f"src{doc_id % SOURCES}")
        texts.append(r[5])
    n = len(ids)
    for i in range(0, n, CLONE_EVERY):
        ids.append(ids[i] + CLONE_OFFSET)
        srcs.append(srcs[i])
        texts.append(texts[i])
    for i in range(NEAR_EVERY // 2, n, NEAR_EVERY):
        if len(texts[i].split(" ")) >= 60:
            ids.append(ids[i] + NEAR_OFFSET)
            srcs.append(srcs[i])
            texts.append(near_dup_text(texts[i]))
    return pa.table({"doc_id": ids, "source": srcs, "text": texts},
                    schema=DOCS_SCHEMA)


def curation_input_sql(docs: str) -> str:
    """The curate_full_report fixture over a (doc_id, source, text)
    relation: PII and blocklist spikes, then a 3-paragraph page with
    per-source boilerplate, host = 'h' || doc_id % 97.  Built from the
    same SQL fragments the repository's DuckDB oracle uses, so the
    engine's input and the oracle's input cannot drift apart."""
    import __spark_entry__ as em
    return (f"WITH p1 AS (SELECT doc_id, source, {em._PII_TEXT_SQL} AS text "
            f"FROM {docs}), "
            f"p2 AS (SELECT doc_id, source, {em._BLOCKSPIKE_SQL} AS text "
            "FROM p1) "
            f"SELECT doc_id, {em._PARA_TEXT_SQL} AS text, "
            "'h' || CAST(doc_id % 97 AS VARCHAR) AS host FROM p2")


def _write_curate_set(table: pa.Table, out: str, n_files: int) -> None:
    import duckdb
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    con = duckdb.connect()
    try:
        con.register("documents", table)
        cur = con.sql(curation_input_sql("documents")).arrow()
    finally:
        con.close()
    if not isinstance(cur, pa.Table):
        cur = cur.read_all()
    for name, t in (("curate_input", cur), ("minhash_input", table)):
        d = os.path.join(out, name)
        os.makedirs(d, exist_ok=True)
        step = -(-t.num_rows // n_files)
        for f in range(n_files):
            pq.write_table(t.slice(f * step, step),
                           os.path.join(d, f"part-{f:04d}.parquet"),
                           row_group_size=ROW_GROUP)


def _build_curate(seed: int, out: str, workers: int) -> None:
    s = curate_specs(seed)
    rows = make_rows(s["pages"] + s["warm"], workers)
    n = len(s["pages"])
    _write_curate_set(_curate_docs(rows[:n], s["pages"]),
                      os.path.join(out, "main"), 8)
    _write_curate_set(_curate_docs(rows[n:], s["warm"]),
                      os.path.join(out, "warm"), 4)


BUILDERS = {"crawl_fresh": _build_fresh, "crawl_resume": _build_resume,
            "curate_suite": _build_curate}


def read_inputs_once(d: str) -> int:
    """Read every input byte once so the page cache is in the same state
    before every timed region.  Returns the bytes read."""
    total = 0
    for root, _dirs, files in os.walk(d):
        for fn in sorted(files):
            with open(os.path.join(root, fn), "rb") as f:
                while chunk := f.read(1 << 20):
                    total += len(chunk)
    return total
