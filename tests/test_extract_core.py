"""Per-document extraction core: pinned output bytes, linear time on
hostile markup, and the exactness of its scoring shortcuts.

Every rewrite of ``extract_core`` must keep ``extract_document``'s output
(and the tokenizer's events) byte-for-byte; the digest below was computed
before the linear-time tokenizer and the streaming fast path landed.
"""

from __future__ import annotations

import gc
import hashlib
import itertools
import json
import random
import re
import time

from perfbench.gen import HOSTILE_KINDS, hostile_payload
from test_extract_identity import HOSTILE_MARKUP

from ocr_devnagari_spark import extract_core
from ocr_devnagari_spark.corpus import gen_page
from ocr_devnagari_spark.extract_core import (
    CRITICAL_FAMILIES,
    _count_letters,
    detect_critical_full,
    extract_document,
    fast_extract_html,
    materialize_events,
    precise_extract_html,
)

# Markup alphabet of the super-linear search: a tag opener, attribute
# quoting, and the '<!'/'<?'/comment dispatch characters.
PATTERN_ALPHABET = '<a "\'=>/!-?'

_FRAGMENTS = [
    "<p>", "</p>", "<div class='ad'>", "<div class=\"main\">", "</div>",
    "<nav>", "</nav>", "<h1>", "</h1>", "<li>", "<td>", "</tr>",
    "<a href='u'>", "<a href=\"v\">", "</a>", "<a ", "<b x=1 ",
    '<img src="x" ', "<br/>", "<script>", "</script>", "<style>",
    "</style>", "<textarea>", "</textarea>", "<!--", "-->", "<!doctype>",
    "<?pi?>", "&amp;", "&lt;", "<", ">", "'", '"', "=", "/", "-", "!",
    "?", "text ", "some longer content words here ", "॥ 1 ॥ ॐ ",
    "मन्त्र शिव ", "def f(): return 1; ", "123 4567 890 ",
]


def fragment_docs(n: int, seed: int = 7) -> list:
    """Seeded random documents built from markup fragments."""
    rng = random.Random(seed)
    return ["".join(rng.choice(_FRAGMENTS)
                    for _ in range(rng.randint(1, 60)))
            for _ in range(n)]


def repeated_patterns(max_len: int = 4):
    """Every string of 1..max_len chars over PATTERN_ALPHABET."""
    for k in range(1, max_len + 1):
        for tup in itertools.product(PATTERN_ALPHABET, repeat=k):
            yield "".join(tup)


def _digest_corpus():
    """(url, payload, hash the events too) over the pinned corpus."""
    for i in range(5000):
        row = gen_page(i)
        yield row["url"], row["html"], False
    for j, h in enumerate(HOSTILE_MARKUP):
        yield f"m{j}", h.encode(), True
    for kind in HOSTILE_KINDS:
        for nbytes in (300, 1500):
            yield f"{kind}-{nbytes}", hostile_payload(kind, nbytes), True
    for j, h in enumerate(fragment_docs(3000)):
        yield f"f{j}", h.encode(), True
    for pat in repeated_patterns():
        body = pat * (48 // len(pat))
        for tail in ("", ">"):
            yield f"p{pat}{tail}", (body + tail).encode(), True


def test_extract_document_pinned_digest():
    """sha256 over every result dict (sorted keys) and, for the markup
    sets, every event list — unchanged since the digest was pinned."""
    h = hashlib.sha256()
    for url, payload, with_events in _digest_corpus():
        r = extract_document(url, payload)
        h.update(json.dumps(r, sort_keys=True).encode())
        if with_events:
            h.update(json.dumps(materialize_events(
                payload.decode("utf-8", errors="replace"))).encode())
    assert h.hexdigest() == (
        "0aa4d3cf60dff362354362b28026701d770c1ff061a4e8c46f64cd8819a609c1")


def test_drop_class_attribute_name_is_case_insensitive():
    """``ID=``/``CLASS=``/``Class=`` drop a block exactly like their
    lowercase forms, on the fast and the precise path."""
    body = ("<p>Main article paragraph with enough words to be kept.</p>"
            "<div {attr}>Sponsored offer text that must never be kept.</div>"
            "<p>Closing paragraph of the same article body here.</p>")
    for attr in ('ID="ad"', 'CLASS="banner"', "Class='promo'",
                 "iD=ads", 'cLaSs="x social"'):
        for fn in (lambda h: fast_extract_html(h)[0], precise_extract_html):
            got = fn(f"<html><body>{body.format(attr=attr)}</body></html>")
            want = fn(f"<html><body>{body.format(attr=attr.lower())}"
                      f"</body></html>")
            assert "Sponsored" not in want
            assert got == want, (attr, got)


def _best_time(payload: bytes, reps: int = 3) -> float:
    """CPU seconds of one extraction, best of ``reps``. Timed like
    ``timeit``: CPU time, so waiting for a core on a busy host does not
    count, and the cyclic collector off, so collecting whatever else the
    test process holds (a full run holds a lot) does not count either."""
    best = float("inf")
    gc.disable()
    try:
        for _ in range(reps):
            t = time.process_time()
            extract_document("https://hostile.example/x.html", payload)
            best = min(best, time.process_time() - t)
    finally:
        gc.enable()
    return best


def _growth(make, nbytes: int, reps: int = 3) -> tuple:
    """(seconds at nbytes, seconds at 4·nbytes), best of ``reps``."""
    return _best_time(make(nbytes), reps), _best_time(make(4 * nbytes), reps)


def _assert_linear(name, make, nbytes: int, ratio: float,
                   limit: float = float("inf")) -> None:
    """4× the bytes costs at most ``ratio``× the time and 4·nbytes takes
    under ``limit`` seconds. A miss is re-timed once (best of both rounds
    per size) before it fails, so one burst of cache or memory contention
    from other processes does not fail the test."""
    small, big = _growth(make, nbytes)
    if big >= limit or big > ratio * small:
        small2, big2 = _growth(make, nbytes)
        small, big = min(small, small2), min(big, big2)
    assert big < limit, (name, big)
    assert big <= ratio * small, (name, small, big)


def _repeat(unit: str, tail: str = ""):
    return lambda nbytes: (unit * (nbytes // len(unit)) + tail).encode()


LINEAR_INPUTS = {
    **{kind: (lambda nbytes, k=kind: hostile_payload(k, nbytes))
       for kind in HOSTILE_KINDS},
    # quotes pair across the '<': every tag scan jumps to the end and fails
    # on the last, unpaired quote — and the '>' at the end means a '>'
    # follows every '<', so only the quote-aware check rules the tags out
    "single_quoted": _repeat("'<a'", ">"),
    "double_quoted": _repeat('"<a"', ">"),
}


def test_hostile_markup_extracts_in_linear_time():
    """Unterminated tags, unpaired quotes and deep nesting: 4× the bytes
    costs at most 6× the time, and 200 KB extracts in under 0.5 s (the
    quadratic tokenizer took 43 s for 50 KB of ``<a ``)."""
    for name, make in LINEAR_INPUTS.items():
        _assert_linear(name, make, 50_000, ratio=6, limit=0.5)


def test_escalated_deep_nest_is_linear():
    """Too little text for the fast path, so the precise DOM path runs on
    a deep ``<div>`` nest: every div is a content candidate, and summing
    each candidate's subtree again took ~1.2 s at 200 KB. Bounded like
    the pattern search below (8×): the 36k-node tree's memory traffic
    alone puts its 4× growth near 5-6×."""
    def make(nbytes):
        k = nbytes // 11
        return ("<div>" * k + "x" + "</div>" * k).encode()
    _assert_linear("deep_nest", make, 50_000, ratio=8, limit=0.5)


def _primitive_necklaces(max_len: int):
    """One rotation of each pattern that is not a power of a shorter one
    (a repeated pattern and its rotations tokenize alike)."""
    for pat in repeated_patterns(max_len):
        k = len(pat)
        if min(pat[i:] + pat[:i] for i in range(k)) != pat:
            continue
        if any(k % d == 0 and pat[:d] * (k // d) == pat
               for d in range(1, k)):
            continue
        yield pat


def test_no_superlinear_repeated_markup_pattern():
    """Bounded search for super-linear inputs: every repeated pattern of
    up to 4 characters of markup, with and without a trailing '>'. A
    pattern whose time grows more than 8× for 4× the bytes in a quick
    single-run probe is re-timed, best of 3 at 8× the size (twice on a
    miss), and must then stay within 8×."""
    for pat in _primitive_necklaces(4):
        for tail in ("", ">"):
            make = _repeat(pat, tail)
            small, big = _growth(make, 512, reps=1)
            if big <= 8 * small:
                continue
            _assert_linear(pat + tail, make, 4096, ratio=8)


def test_patterns_compile_on_python_3_10():
    """The package supports Python 3.10, whose ``re`` rejects possessive
    quantifiers and atomic groups (both new in 3.11): at import, every
    module importing ``extract_core`` would fail there."""
    pats = [v for v in vars(extract_core).values()
            if isinstance(v, re.Pattern)]
    pats += extract_core._RAWTEXT_CLOSE.values()
    assert extract_core._TOKEN_RE in pats
    for rx in pats:
        assert not re.search(r"[*+?}]\+|\(\?>", rx.pattern), rx.pattern


def test_critical_families_cover_detector_keys():
    """Lineage sums one column per ``CRITICAL_FAMILIES`` entry, so every
    rule-hit key the detector can emit must be listed there."""
    every = ("॥ 1 ॥ ॐ मन्त्र शिव यन्त्र def f(): return 1 "
             "101 202 303 404 505 606")
    assert set(detect_critical_full(every)["hits"]) == set(CRITICAL_FAMILIES)
    for i in range(300):
        text = extract_document("u", gen_page(i)["html"])["text"]
        assert set(detect_critical_full(text)["hits"]) <= set(
            CRITICAL_FAMILIES)


def test_count_letters_ascii_matches_isalpha():
    """The ASCII branch of ``_count_letters`` counts exactly what
    ``str.isalpha`` does: all 128 code points, then seeded strings."""
    for c in map(chr, range(128)):
        assert _count_letters(c) == c.isalpha(), repr(c)
    alphabet = "".join(map(chr, range(128)))
    rng = random.Random(3)
    for _ in range(2000):
        t = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80)))
        assert _count_letters(t) == sum(map(str.isalpha, t)), repr(t)
