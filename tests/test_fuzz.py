"""Property-based fuzzing of the extraction core: for ANY payload — bytes,
a PDF-magic layout of any JSON shape, or NULL — the extractor must (a) not
raise, (b) be deterministic, (c) keep its output invariants — because at
10^12 documents every corrupt byte sequence that exists on the web WILL be
in the table."""

from __future__ import annotations

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_devnagari_spark.extract_core import (
    PDF_MAGIC,
    detect_critical,
    estimate_confidence,
    extract_document,
    validate_text,
)

_html_ish = st.one_of(
    st.binary(max_size=2000),
    st.text(max_size=2000).map(lambda s: s.encode("utf-8")),
    st.from_regex(
        r"(<[a-zA-Z/!][^>]{0,40}>|[\w\s&;#]{0,40}){0,40}",
        fullmatch=True).map(lambda s: s.encode("utf-8", "ignore")),
)

# Any JSON value; objects favour the layout's own keys, so the payloads
# reach every step of ``extract_pdf`` with values of the wrong shape.
_json = st.recursive(
    st.none() | st.booleans() | st.integers() | st.floats()
    | st.text(max_size=20),
    lambda kids: st.lists(kids, max_size=4) | st.dictionaries(
        st.sampled_from(["pages", "page", "blocks", "x", "y", "text"])
        | st.text(max_size=5), kids, max_size=4),
    max_leaves=20)

_payload = st.one_of(
    _html_ish,
    st.none(),
    st.binary(max_size=500).map(lambda b: PDF_MAGIC + b),
    _json.map(lambda v: PDF_MAGIC + json.dumps(v).encode()),
)


@settings(max_examples=500, deadline=None)
@given(payload=_payload)
def test_extract_never_raises_and_is_deterministic(payload):
    r1 = extract_document("u", payload)
    r2 = extract_document("u", payload)
    assert r1 == r2
    assert r1["backend_used"] in ("fast", "fast+precise", "pdf", "none")
    assert 0.0 <= r1["confidence"] <= 1.0
    assert isinstance(r1["text"], str)
    if r1["success"]:
        ok, _ = validate_text(r1["text"])
        assert ok


@settings(max_examples=300, deadline=None)
@given(text=st.text(max_size=1000))
def test_scalar_functions_total(text):
    c = estimate_confidence(text)
    assert 0.5 <= c <= 1.0 or c == 0.55      # formula range
    flag, score, hits = detect_critical(text)
    assert 0.0 <= score <= 1.0
    # strict gate: mantra families or the web (code/numeric) families
    assert flag == (("bija" in hits) or ("verse" in hits)
                    or hits.get("section", 0) >= 2
                    or "code" in hits or "numeric_table" in hits)
    ok, err = validate_text(text)
    assert ok == (err is None)


# ---------------------------------------------------------------------------
# sketch-family invariants (no Spark needed — pure logic + DuckDB)
# ---------------------------------------------------------------------------

def test_quantile_disc_rank_rule_parity_fuzz():
    """Pin the cross-engine assumption exact_quantiles is built on:
    DuckDB quantile_disc(x, q) == the smallest value with rank
    ≥ ceil(q·n) computed in IEEE double — the same arithmetic Spark's
    ceil(lit(q) * n) performs."""
    import math
    import random

    import duckdb
    rng = random.Random(7)
    con = duckdb.connect()
    for _ in range(300):
        n = rng.randint(1, 200)
        vals = sorted(rng.randint(-50, 50) for _ in range(n))
        q = rng.choice([0.01, 0.1, 0.25, 1 / 3, 0.5, 2 / 3, 0.75, 0.9,
                        0.95, 0.99, 1.0, rng.random() or 0.5])
        want = vals[max(0, math.ceil(q * n) - 1)]
        got = con.sql(
            f"SELECT quantile_disc(x, {q!r}) FROM "
            f"(SELECT unnest({vals}) AS x)").fetchone()[0]
        assert got == want, (n, q)
    con.close()


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=30), max_size=300),
       st.integers(min_value=1, max_value=12),
       st.integers(min_value=1, max_value=5))
def test_mg_survival_guarantee_fuzz(stream, capacity, n_chunks):
    """Misra-Gries invariant under ANY batch chunking: every value with
    frequency > n/(capacity+1) survives in the final counter set, and
    the state never exceeds ``capacity`` entries."""
    import collections

    from ocr_devnagari_spark.functions.sketches import _mg_update
    counters: dict = {}
    step = max(1, len(stream) // n_chunks)
    for i in range(0, max(len(stream), 1), step):
        chunk = stream[i:i + step]
        counters = _mg_update(
            counters, collections.Counter(chunk).items(), capacity)
        assert len(counters) <= capacity
    true = collections.Counter(stream)
    for v, c in true.items():
        if c > len(stream) / (capacity + 1):
            assert v in counters, (v, c, len(stream), capacity)
