"""Correctness gate, run outside every timed region on the tables and
results a run left behind.  Each check returns (attempted, failed,
problems); a problem is a short string naming the first few defects.

References are computed independently of the engine: golden texts from
the single-threaded oracle, fingerprints as md5 of the golden text, dedup
marks by replaying the keeper rule commit by commit in Python, curation
totals by the repository's DuckDB oracle, and minhash pairs by exact
Jaccard over the same word shingles.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

import gen


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def add(self, other: "Tally") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.problems.extend(other.problems)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 10:
                self.problems.append(what)


def read_golden(path: str) -> dict:
    t = pq.read_table(path, columns=["url", "text"])
    return dict(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))


def _manifest_chain(table_dir: str) -> list[dict]:
    """Snapshots oldest first, following parent links from _current."""
    with open(os.path.join(table_dir, "_current")) as f:
        name = f.read().strip()
    mdir = os.path.join(table_dir, "manifests")
    chain = []
    while name:
        with open(os.path.join(mdir, name)) as f:
            m = json.load(f)
        chain.append(m)
        p = m.get("parent_snapshot_id")
        name = f"manifest-{p:08d}.json" if p is not None else None
    return chain[::-1]


def _rows(files: list, cols: list) -> list[dict]:
    rows = []
    for fp in files:
        rows.extend(pq.read_table(fp, columns=cols).to_pylist())
    return rows


def check_table(root: str, golden: dict, expected_urls: set,
                tally: Tally) -> list[dict]:
    """Every committed url once, its text byte-identical to golden, the
    committed url set equal to ``expected_urls``, lineage rows summing to
    the committed rows.  Returns the snapshot chain."""
    chain = _manifest_chain(os.path.join(root, "extracted"))
    rows = _rows(chain[-1]["files"], ["url", "text"])
    counts = Counter(r["url"] for r in rows)
    for r in rows:
        url = r["url"]
        tally.check(counts[url] == 1, f"url committed {counts[url]}x: {url}")
        tally.check(url in golden and r["text"] == golden[url],
                    f"text differs from golden: {url}")
    for url in sorted(expected_urls - set(counts)):
        tally.check(False, f"url lost: {url}")
    for url in sorted(set(counts) - expected_urls):
        tally.check(False, f"unexpected url: {url}")
    lin = _manifest_chain(os.path.join(root, "lineage"))
    lin_rows = sum(r["row_count"] for r in _rows(lin[-1]["files"],
                                                  ["row_count"]))
    tally.check(lin_rows == len(rows),
                f"lineage row_count {lin_rows} != committed {len(rows)}")
    return chain


def check_dedup_marks(chain: list[dict], golden: dict, tally: Tally) -> None:
    """Replay ``keeper_map`` commit by commit: the canonical url of a
    fingerprint is the min url among prior canonical rows, else the min
    url of the commit when the commit holds it more than once."""
    canon: dict[str, str] = {}
    for snap in chain:
        rows = _rows(snap["added_files"], ["url", "duplicate_of"])
        by_fp = defaultdict(list)
        for r in rows:
            fp = hashlib.md5(golden.get(r["url"], "").encode()).hexdigest()
            by_fp[fp].append(r)
        for fp, grp in by_fp.items():
            keep = canon.get(fp)
            if keep is None and len(grp) > 1:
                keep = min(r["url"] for r in grp)
            for r in grp:
                want = keep if keep is not None and r["url"] != keep else None
                tally.check(r["duplicate_of"] == want,
                            f"dedup mark of {r['url']}: "
                            f"{r['duplicate_of']!r} != {want!r}")
            if fp not in canon:
                canon[fp] = keep if keep is not None else grp[0]["url"]


def pages_urls(pages_dir: str) -> set:
    return set(pq.read_table(os.path.join(pages_dir, "pages.parquet"),
                             columns=["url"]).column("url").to_pylist())


def check_fresh(inputs: str, rounds: list[dict]) -> Tally:
    tally = Tally()
    for r in rounds:
        d = os.path.join(inputs, r["pages"])
        check_table(r["root"], read_golden(os.path.join(d, "golden.parquet")),
                    pages_urls(d), tally)
    return tally


def check_resume(inputs: str, rounds: list[dict], n_batches: int) -> Tally:
    """One chain of batches on a restored history."""
    golden = read_golden(os.path.join(inputs, "history", "golden.parquet"))
    urls = pages_urls(os.path.join(inputs, "history"))
    for b in range(n_batches):
        bdir = os.path.join(inputs, f"batch-{b:02d}")
        golden.update(read_golden(os.path.join(bdir, "golden.parquet")))
        if b < len(rounds):
            urls |= pages_urls(bdir)
    tally = Tally()
    chain = check_table(rounds[-1]["root"], golden, urls, tally)
    check_dedup_marks(chain, golden, tally)
    for r in rounds:
        tally.check(r["noop_rows"] == 0 and
                    r["snap_after_noop"] == r["snap_before_noop"],
                    f"batch {r['batch']}: no-op rerun committed")
        tally.check(r["crash_rows"] > 0 and r["resume_rows"] > 0,
                    f"batch {r['batch']}: crash/resume committed "
                    f"{r['crash_rows']}/{r['resume_rows']} rows")
    return tally


# ---------------------------------------------------------------------------
# curate_suite
# ---------------------------------------------------------------------------

_SPLIT_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def shingle_set(text: str, n: int = 3) -> set:
    """Word n-grams as ``operators.dedup.shingles`` builds them:
    split(trim(text), '\\s+') with Java's ASCII whitespace class."""
    toks = _SPLIT_RE.split(text.strip(" "))
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    if not sa and not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def curate_oracle(docs_path: str) -> dict:
    import duckdb

    import __spark_entry__ as em
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs_path}')")
        rows = con.sql(em.oracle_sql()["curate_full_report"]).fetchall()
    finally:
        con.close()
    return {r[0]: (int(r[1]), int(r[2])) for r in rows}


def check_pairs(text: dict, pairs: list, tally: Tally, clone_offset: int,
                threshold: float = 0.8) -> None:
    """Every reported pair has true Jaccard ≥ threshold, and every planted
    exact clone (id + clone_offset) of a text with shingles is found."""
    found = {(a, b) for a, b, _ in pairs}
    for a, b, _ in pairs:
        tally.check(a < b and jaccard(text[a], text[b]) >= threshold - 1e-9,
                    f"minhash pair ({a}, {b}) below threshold")
    for a in text:
        b = a + clone_offset
        if b in text and shingle_set(text[a]):
            tally.check((a, b) in found, f"planted clone ({a}, {b}) not found")


def check_curate(inputs: str, rounds: list[dict]) -> Tally:
    docs_path = os.path.join(inputs, "main", "documents.parquet")
    oracle = curate_oracle(docs_path)
    t = pq.read_table(docs_path)
    text = dict(zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()))
    tally = Tally()
    for r in rounds:
        got = {row["split"]: (row["n_docs"], row["total_tokens"])
               for row in r["report"]}
        for split in sorted(set(oracle) | set(got)):
            tally.check(got.get(split) == oracle.get(split),
                        f"split {split}: {got.get(split)} != "
                        f"oracle {oracle.get(split)}")
        check_pairs(text, r["pairs"], tally, gen.CLONE_OFFSET)
    return tally
