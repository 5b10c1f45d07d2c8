"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, os.path.dirname(BENCH))
sys.path.insert(0, BENCH)

import gate  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402


# ---------------------------------------------------------------------------
# Generator
# ---------------------------------------------------------------------------

def _file_digests(d: str) -> dict:
    out = {}
    for root, _dirs, files in os.walk(d):
        for fn in sorted(files):
            p = os.path.join(root, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = hashlib.sha256(f.read()).digest()
    return out


def _sample_specs(seed: int) -> list:
    specs = gen.fresh_specs(seed)["pages"]
    # a few normal pages plus the first hostile one
    return specs[:40] + [specs[gen.HOSTILE_EVERY // 2]]


def test_same_seed_same_bytes(tmp_path):
    for k in range(2):
        rows = gen.make_rows(_sample_specs(7), workers=1)
        gen.write_pages(rows, str(tmp_path / f"run{k}"), 2)
    a = _file_digests(str(tmp_path / "run0"))
    b = _file_digests(str(tmp_path / "run1"))
    assert a and a == b


def test_different_seed_different_urls():
    for s1, s2 in ((1, 2), (0, 12345)):
        u1 = {gen.make_rows([sp], 1)[0][0] for sp in _sample_specs(s1)[:5]}
        u2 = {gen.make_rows([sp], 1)[0][0] for sp in _sample_specs(s2)[:5]}
        assert not (u1 & u2)
    assert gen.doc_offset(1) != gen.doc_offset(2)


def test_hostile_share_matches_stated():
    pages = gen.fresh_specs(3)["pages"]
    hostile = [i for i, sp in enumerate(pages) if sp[2]]
    assert len(hostile) == gen.FRESH_PAGES // gen.HOSTILE_EVERY
    # every kind is planted, evenly: the same count per input file
    kinds = {pages[i][2] for i in hostile}
    assert kinds == set(gen.HOSTILE_KINDS)
    per_file = gen.FRESH_PAGES // gen.FRESH_FILES
    counts = [sum(1 for i in hostile if i // per_file == f)
              for f in range(gen.FRESH_FILES)]
    assert max(counts) - min(counts) <= 1
    # the 1-task job's pages (the first quarter) carry the same share
    one = [i for i in hostile if i < gen.ONE_TASK_PAGES]
    assert len(one) == gen.ONE_TASK_PAGES // gen.HOSTILE_EVERY


def test_resume_batches_plant_duplicates():
    s = gen.resume_specs(5)
    hist_ids = {sp[0] for sp in s["history"]}
    for batch in s["batches"]:
        old = [sp for sp in batch if sp[0] in hist_ids]
        new = [sp for sp in batch if sp[0] not in hist_ids]
        assert len(old) == gen.BATCH_OLD and len(new) == gen.BATCH_NEW
        assert any(sp[1] in hist_ids for sp in new)       # cross-run dup
        assert any(sp[1] is not None and sp[1] not in hist_ids
                   for sp in new)                         # in-batch dup


def test_cache_key_checked_on_load(tmp_path, monkeypatch):
    built = []

    def fake_build(seed, out, workers):
        built.append(seed)
        with open(os.path.join(out, "x"), "w") as f:
            f.write(str(seed))

    monkeypatch.setitem(gen.BUILDERS, "crawl_fresh", fake_build)
    d1 = gen.load_or_build(str(tmp_path), "crawl_fresh", 9, 1)
    d2 = gen.load_or_build(str(tmp_path), "crawl_fresh", 9, 1)
    assert d1 == d2 and built == [9]
    # a tampered key forces a rebuild instead of a silent reuse
    kpath = os.path.join(d1, "_key.json")
    with open(kpath) as f:
        key = json.load(f)
    key["source"] = "stale"
    with open(kpath, "w") as f:
        json.dump(key, f)
    gen.load_or_build(str(tmp_path), "crawl_fresh", 9, 1)
    assert built == [9, 9]


# ---------------------------------------------------------------------------
# Correctness gate: each planted corruption is caught
# ---------------------------------------------------------------------------

def _commit(root: str, table: str, snap: int, rows: list, schema) -> None:
    d = os.path.join(root, table)
    os.makedirs(os.path.join(d, "data"), exist_ok=True)
    os.makedirs(os.path.join(d, "manifests"), exist_ok=True)
    fp = os.path.join(d, "data", f"part-{snap}.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), fp)
    parent = None
    files = [fp]
    if snap > 1:
        with open(os.path.join(d, "manifests",
                               f"manifest-{snap - 1:08d}.json")) as f:
            parent = json.load(f)
        files = parent["files"] + [fp]
    m = {"snapshot_id": snap,
         "parent_snapshot_id": parent["snapshot_id"] if parent else None,
         "files": files, "added_files": [fp]}
    name = f"manifest-{snap:08d}.json"
    with open(os.path.join(d, "manifests", name), "w") as f:
        json.dump(m, f)
    with open(os.path.join(d, "_current"), "w") as f:
        f.write(name)


EXTRACTED = pa.schema([("url", pa.string()), ("text", pa.string()),
                       ("duplicate_of", pa.string())])
LINEAGE = pa.schema([("row_count", pa.int64())])


def _table(root: str, commits: list) -> None:
    for k, rows in enumerate(commits, start=1):
        _commit(root, "extracted", k, rows, EXTRACTED)
        _commit(root, "lineage", k, [{"row_count": len(rows)}], LINEAGE)


GOLDEN = {"u/a": "alpha text", "u/b": "beta text", "u/c": "alpha text",
          "u/d": "delta text", "u/e": "beta text"}
# commit 1: a, b; commit 2: c (dup of a), d, e (dup of b)
GOOD = [[{"url": "u/a", "text": "alpha text", "duplicate_of": None},
         {"url": "u/b", "text": "beta text", "duplicate_of": None}],
        [{"url": "u/c", "text": "alpha text", "duplicate_of": "u/a"},
         {"url": "u/d", "text": "delta text", "duplicate_of": None},
         {"url": "u/e", "text": "beta text", "duplicate_of": "u/b"}]]


def _run_gate(root: str) -> gate.Tally:
    t = gate.Tally()
    chain = gate.check_table(root, GOLDEN, set(GOLDEN), t)
    gate.check_dedup_marks(chain, GOLDEN, t)
    return t


def _copy(commits):
    return [[dict(r) for r in c] for c in commits]


def test_gate_passes_clean_table(tmp_path):
    _table(str(tmp_path), GOOD)
    t = _run_gate(str(tmp_path))
    assert t.attempted > 0 and t.failed == 0, t.problems


def test_gate_catches_flipped_text_byte(tmp_path):
    bad = _copy(GOOD)
    b = bytearray(bad[1][1]["text"].encode())
    b[0] ^= 0x01
    bad[1][1]["text"] = b.decode()
    _table(str(tmp_path), bad)
    t = _run_gate(str(tmp_path))
    assert t.failed == 1 and "text differs" in t.problems[0]


def test_gate_catches_missing_url(tmp_path):
    bad = _copy(GOOD)
    del bad[1][1]                                   # u/d never committed
    _table(str(tmp_path), bad)
    t = _run_gate(str(tmp_path))
    assert t.failed >= 1 and any("url lost" in p for p in t.problems)


def test_gate_catches_wrong_dedup_mark(tmp_path):
    bad = _copy(GOOD)
    bad[1][2]["duplicate_of"] = None                # u/e left unmarked
    _table(str(tmp_path), bad)
    t = _run_gate(str(tmp_path))
    assert t.failed == 1 and "dedup mark" in t.problems[0]


def test_gate_catches_url_committed_twice(tmp_path):
    bad = _copy(GOOD)
    bad[1].append(dict(bad[0][1]))                  # u/b again
    _table(str(tmp_path), bad)
    t = _run_gate(str(tmp_path))
    assert t.failed >= 1 and any("committed 2x" in p for p in t.problems)


def test_dedup_replay_in_commit_dup(tmp_path):
    """Two new copies in one commit: the min url keeps, the other marks."""
    t = gate.Tally()
    text = {"u/x": "same", "u/w": "same"}
    _table(str(tmp_path), [[
        {"url": "u/x", "text": "same", "duplicate_of": "u/w"},
        {"url": "u/w", "text": "same", "duplicate_of": None}]])
    gate.check_dedup_marks(gate._manifest_chain(
        os.path.join(str(tmp_path), "extracted")), text, t)
    assert t.failed == 0, t.problems


def test_pair_check_catches_bad_pair_and_missing_clone():
    base = " ".join(f"w{i}" for i in range(80))
    text = {1: base, 1 + gen.CLONE_OFFSET: base,
            2: " ".join(f"z{i}" for i in range(80))}
    ok = gate.Tally()
    gate.check_pairs(text, [(1, 1 + gen.CLONE_OFFSET, 1.0)], ok,
                     gen.CLONE_OFFSET)
    assert ok.failed == 0
    bad = gate.Tally()
    gate.check_pairs(text, [(1, 2, 0.9)], bad, gen.CLONE_OFFSET)
    assert bad.failed == 2          # the bad pair and the missed clone


def test_near_dup_stays_above_threshold():
    base = " ".join(f"w{i}" for i in range(60))
    assert gate.jaccard(base, gen.near_dup_text(base)) >= 0.8


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

def test_self_time_subtracts_children():
    tr = spans.Tracer("t")
    tr.spans = [
        {"id": 0, "name": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "c", "parent": 0, "start": 3.0, "end": 6.0},
    ]
    assert tr.self_time(0) == pytest.approx(5.0)     # 10 - |[1,6]|
    assert tr.subtree(0) == {0, 1, 2}


def test_wrap_records_nested_spans_and_restores():
    class Mod:
        @staticmethod
        def outer():
            return Mod.inner() + 1

        @staticmethod
        def inner():
            return 1

    tr = spans.Tracer("t")
    orig_outer, orig_inner = Mod.outer, Mod.inner
    tr.wrap(Mod, "outer", "m.outer")
    tr.wrap(Mod, "inner", "m.inner", note=lambda a, r: {"r": r})
    assert Mod.outer() == 2
    tr.unwrap_all()
    assert Mod.outer is orig_outer and Mod.inner is orig_inner
    (o, i) = tr.spans
    assert i["parent"] == o["id"] and i["r"] == 1 and o["parent"] is None


def test_metric_value_parses_spark_formats():
    assert spans._metric_value("2.2 s") == pytest.approx(2.2)
    assert spans._metric_value("423 ms") == pytest.approx(0.423)
    assert spans._metric_value(
        "total (min, med, max (stageId: taskId))\n"
        "1.5 MiB (0.1 MiB, 0.5 MiB, 0.9 MiB (stage 1.0: task 5))"
    ) == pytest.approx(1.5 * 1024 ** 2)
