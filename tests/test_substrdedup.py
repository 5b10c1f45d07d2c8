"""ExactSubstr dedup — brute-force Python oracle over planted corpora."""

from __future__ import annotations

from collections import Counter

import pytest

from ocr_devnagari_spark.operators.substrdedup import exact_substring_dedup


def _brute(docs, L):
    wins: Counter = Counter()
    per = {}
    for i, t in docs:
        ws = t.split(" ")
        gs = ([" ".join(ws[p:p + L]) for p in range(len(ws) - L + 1)]
              if len(ws) >= L else [])
        per[i] = (ws, gs)
        wins.update(gs)
    out = {}
    for i, (ws, gs) in per.items():
        cov: set = set()
        for p, g in enumerate(gs):
            if wins[g] >= 2:
                cov.update(range(p, p + L))
        kept = [w for j, w in enumerate(ws) if j not in cov]
        out[i] = (len(ws), len(ws) - len(kept), " ".join(kept))
    return out


BOILER = "all rights reserved contact us for details"   # 7 tokens

DOCS = [
    (0, "unique alpha prose here " + BOILER),
    (1, "different beta words now " + BOILER),
    (2, "totally original content with no repeats at all"),
    (3, "loop phrase again loop phrase again tail"),      # in-doc repeat
    (4, "short doc"),                                     # < L tokens
    (5, "clone of this entire document body exactly"),
    (6, "clone of this entire document body exactly"),    # full-dup pair
]


@pytest.mark.parametrize("L", [3, 4])
def test_matches_brute_force(spark, L):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           exact_substring_dedup(df, min_len=L).collect()}
    want = _brute(DOCS, L)
    assert set(got) == set(want)
    for i, (n, rm, clean) in want.items():
        assert got[i]["n_tokens"] == n, i
        assert got[i]["n_removed"] == rm, i
        assert got[i]["text_clean"] == clean, i


def test_boilerplate_removed_prefixes_survive(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           exact_substring_dedup(df, min_len=4).collect()}
    # the shared 7-token tail is gone from BOTH docs (no keeper)
    for i in (0, 1):
        assert BOILER not in got[i]["text_clean"], i
        assert got[i]["n_removed"] >= 7, i
    assert got[0]["text_clean"].startswith("unique alpha")
    assert got[1]["text_clean"].startswith("different beta")
    # untouched doc passes through verbatim
    assert got[2]["n_removed"] == 0
    assert got[2]["text_clean"] == DOCS[2][1]


def test_full_duplicate_docs_both_emptied(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           exact_substring_dedup(df, min_len=4).collect()}
    for i in (5, 6):
        assert got[i]["text_clean"] == "", i
        assert got[i]["n_removed"] == got[i]["n_tokens"], i


def test_short_doc_passes_through(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           exact_substring_dedup(df, min_len=4).collect()}
    assert got[4]["n_tokens"] == 2 and got[4]["n_removed"] == 0
    assert got[4]["text_clean"] == "short doc"


def test_min_len_validated(spark):
    df = spark.createDataFrame(DOCS[:1], "doc_id long, text string")
    with pytest.raises(ValueError):
        exact_substring_dedup(df, min_len=1)


def test_random_corpus_matches_brute_force(spark):
    """Byte-equal to the brute-force oracle on a randomized corpus with
    planted cross-doc and in-doc duplication."""
    import random
    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(30)]
    shared = " ".join(rng.choice(vocab) for _ in range(6))
    docs = []
    for i in range(40):
        body = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25)))
        if i % 3 == 0:
            body = body + " " + shared
        if i % 7 == 0:
            body = shared + " " + body
        docs.append((i, body.strip() or "x"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {i: (n, rm, clean) for i, n, rm, clean in
           exact_substring_dedup(df, min_len=4).collect()}
    assert got == _brute(docs, 4)
