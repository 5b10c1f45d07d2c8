"""Catalyst-native text functions — the JVM-side (whole-stage-codegen) fast
path for everything that does NOT need a Python worker.

Each builder returns a ``pyspark.sql.Column``. The reference computes all of
these row-at-a-time in Python; expressed as columns they are pushed,
pruned and codegen'd by Catalyst for free (SURVEY.md §4 scorecard):

- ``validation_ok``      → P2  (``gemini_backend.py:364-398``)
- ``confidence_expr``    → P5  (``marker_backend.py:208-233``)
- ``critical_score``     → M6  (``mantra_detector.py:133-238``)
- ``DEVA_GATE_RE``       → M7  (the 4× duplicated pre-check, one
                           Devanagari-block ``rlike`` in front of
                           ``critical_score`` and its siblings)
- lang-ID / quality / token counts / fingerprints → the training-data
  pipeline text-analysis surface (driver brief), built only from functions
  with exact DuckDB equivalents so every one is oracle-checkable.

Regex notes: only syntax common to Java regex (Spark) and RE2 (DuckDB) is
used — ``\\p{L}``, ``\\b``, alternations; no lookbehind.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..extract_core import (  # single source of truth for the term lists
    DEITY_TERMS,
    SECTION_TERMS,
    YANTRA_TERMS,
)

# ---------------------------------------------------------------------------
# P2 — validation predicate
# ---------------------------------------------------------------------------

ERROR_PATTERN_RE = ("(cannot process|unable to|i can't|i cannot|no text|"
                    "error occurred|not readable|failed to|as an ai|"
                    "i'm sorry|sorry,|no content|blank page)")
ALNUM_RE = r"[\p{L}\p{N}]"


def validation_ok(col: Column, min_len: int = 20) -> Column:
    t = F.trim(col)
    return ((F.length(t) >= F.lit(min_len))
            & ~F.lower(F.substring(t, 1, 300)).rlike(ERROR_PATTERN_RE)
            & t.rlike(ALNUM_RE))


# ---------------------------------------------------------------------------
# P5 — confidence estimation as pure arithmetic on the column
# ---------------------------------------------------------------------------

GARBLED_RE = r"[^\p{L}\p{N}_\s]{5,}"


def letter_ratio(col: Column) -> Column:
    n = F.length(col)
    # counting matches beats regexp_replace+length: same value, no
    # intermediate string materialized per row
    letters = F.regexp_count(col, F.lit(r"\p{L}"))
    return F.when(n > 0, letters / n).otherwise(F.lit(0.0))


def confidence_expr(col: Column) -> Column:
    """max(0.5, 1 − 0.15·issues) — same formula as extract_core, JVM-side."""
    issues = (col.rlike(GARBLED_RE).cast("int")
              + (F.length(col) < 50).cast("int")
              + (letter_ratio(col) < 0.3).cast("int"))
    return F.greatest(F.lit(0.5), F.lit(1.0) - F.lit(0.15) * issues)


# ---------------------------------------------------------------------------
# M6/M7 — critical-pattern scoring cascade, vectorized
# ---------------------------------------------------------------------------

VERSE_RE = r"॥\s*\d+\s*॥"
BIJA_RE = r"(ॐ|स्वाहा|श्लोक)"
CODE_RE = r"(def |return |function\s*\(|;\s*\}|class\s+\w+\s*[:{])"
NUM_RE = r"\b\d{3,}\b"


DEITY_ALT_RE = "(" + "|".join(DEITY_TERMS) + ")"
YANTRA_ALT_RE = "(" + "|".join(YANTRA_TERMS) + ")"
# Devanagari-block gate (mirrors extract_core._DEVA_RE): every verse /
# bija / section / deity / yantra pattern needs a char in U+0900-097F, so
# one cheap rlike short-circuits ~30 substring scans per row on the
# overwhelmingly non-Devanagari web majority (CASE WHEN branches evaluate
# lazily in whole-stage codegen).
DEVA_GATE_RE = r"[ऀ-ॿ]"


def section_count(col: Column) -> Column:
    """# of DISTINCT section-indicator terms present (substring semantics,
    == the reference's per-term ``in text`` loop)."""
    total = F.lit(0)
    for t in SECTION_TERMS:
        total = total + F.contains(col, F.lit(t)).cast("int")
    return total


def _gated_count(col: Column, literals: tuple, pattern: str) -> Column:
    """``regexp_count`` behind a cheap ``contains`` pre-gate: the pattern
    can only match when one of ``literals`` is present, and a substring
    scan that short-circuits on first hit is far cheaper than a full
    regex pass on the (overwhelmingly common) no-match rows. Semantics
    are identical — the gate is implied by the pattern, and NULL input
    yields NULL exactly like plain ``regexp_count`` (the ungated
    ``otherwise(0)`` silently mapped NULL text to count 0, diverging
    from the DuckDB oracle formulae on NULL rows) — so the oracles keep
    the plain-count formula."""
    gate = None
    for s in literals:
        c = F.contains(col, F.lit(s))
        gate = c if gate is None else gate | c
    return (F.when(gate, F.regexp_count(col, F.lit(pattern)))
            .when(col.isNotNull(), F.lit(0)))


def bija_count(col: Column) -> Column:
    return _gated_count(col, ("ॐ", "स्वाहा", "श्लोक"), BIJA_RE)


def verse_count(col: Column) -> Column:
    return _gated_count(col, ("॥",), VERSE_RE)


def code_count(col: Column) -> Column:
    # every CODE_RE alternative contains one of these literals
    return _gated_count(col, ("def ", "return ", "function", ";", "class"),
                        CODE_RE)


def _family_cols(col: Column) -> dict:
    """Per-family presence/score columns — shared by critical_score /
    recommendation / priority so the three stay one formula."""
    n_sec = section_count(col)
    return {
        "verse": (verse_count(col) > 0).cast("int"),
        "bija": (bija_count(col) > 0).cast("int"),
        "code": (code_count(col) > 0).cast("int"),
        "num": (F.regexp_count(col, F.lit(NUM_RE)) >= 6).cast("int"),
        "n_sec": n_sec,
        "sec": (n_sec > 0).cast("int"),
        "sec_score": F.least(F.lit(0.85),
                             F.lit(0.5) + n_sec.cast("double") * F.lit(0.1)),
        "deity": col.rlike(DEITY_ALT_RE).cast("int"),
        "yantra": col.rlike(YANTRA_ALT_RE).cast("int"),
    }


def critical_score(col: Column) -> Column:
    """Combined score = max(family scores) × (1 + 0.05·min(families−1, 5)),
    over the full 7-family cascade (verse, bija, code, numeric-table,
    section indicators, deity names, yantra terms). Rows without a
    Devanagari char evaluate only the code/numeric families."""
    f = _family_cols(col)
    fam_full = (f["verse"] + f["bija"] + f["code"] + f["num"]
                + f["sec"] + f["deity"] + f["yantra"])
    mx_full = F.greatest(f["verse"] * F.lit(0.8), f["bija"] * F.lit(0.9),
                         f["code"] * F.lit(0.75), f["num"] * F.lit(0.7),
                         f["sec"].cast("double") * f["sec_score"],
                         f["deity"] * F.lit(0.6), f["yantra"] * F.lit(0.75))
    fam_ascii = f["code"] + f["num"]
    mx_ascii = F.greatest(f["code"] * F.lit(0.75), f["num"] * F.lit(0.7))
    fam = F.when(col.rlike(DEVA_GATE_RE), fam_full).otherwise(fam_ascii)
    mx = F.when(col.rlike(DEVA_GATE_RE), mx_full).otherwise(mx_ascii)
    score = F.least(F.lit(1.0),
                    mx * (F.lit(1.0)
                          + F.least(fam - 1, F.lit(5)) * F.lit(0.05)))
    return F.when(fam > 0, score).otherwise(F.lit(0.0))


def contains_mantra(col: Column) -> Column:
    """The reference's STRICT detection gate (mantra_detector.py:215-216):
    bija count > 0 OR numbered verses > 0 OR section count ≥ 2. Deity /
    yantra hits alone never gate — they only feed the combined score.
    CASE WHEN keeps the three scans lazy behind the Devanagari gate."""
    hit = ((bija_count(col) > 0)
           | (verse_count(col) > 0)
           | (section_count(col) >= 2))
    return F.when(col.rlike(DEVA_GATE_RE), hit).otherwise(F.lit(False))


def critical_flag(col: Column) -> Column:
    """The escalation / needs_verification gate: the reference's
    ``contains_mantra`` rule plus the two non-Devanagari families this
    engine adds for web corpora (code blocks, numeric tables)."""
    return (contains_mantra(col)
            | (code_count(col) > 0)
            | (F.regexp_count(col, F.lit(NUM_RE)) >= 6))


def _high_priority(col: Column) -> Column:
    bija_cnt = bija_count(col)
    n_sec = section_count(col)
    return (col.rlike(DEVA_GATE_RE)
            & ((bija_cnt >= 3) | ((bija_cnt >= 1) & (n_sec >= 2))))


def detector_recommendation(col: Column) -> Column:
    """Tri-state recommendation (mantra_detector.py:224-230):
    'high_priority' | 'verify' (contains_mantra) | 'skip'."""
    return (F.when(_high_priority(col), F.lit("high_priority"))
            .when(contains_mantra(col), F.lit("verify"))
            .otherwise(F.lit("skip")))


def priority_score(col: Column) -> Column:
    """Verification priority ∈ [0,1] (mantra_detector.py:253-271):
    high_priority → 1.0; verify → 0.5 + 0.4·score; skip → 0.3·score."""
    score = critical_score(col)
    return (F.when(_high_priority(col), F.lit(1.0))
            .when(contains_mantra(col), F.lit(0.5) + F.lit(0.4) * score)
            .otherwise(F.lit(0.3) * score))


# ---------------------------------------------------------------------------
# Language-ID (n-gram/stopword heuristic) — training-data pipeline op
# ---------------------------------------------------------------------------

STOPWORDS = {
    "en": r"\b(the|and|of|to|in|is|that|for|with|was)\b",
    "de": r"\b(der|die|das|und|nicht|mit|sich|auf|für|ist)\b",
    "fr": r"\b(le|la|les|des|une|dans|pour|avec|est|que)\b",
    "es": r"\b(el|los|las|una|en|para|con|por|es|que)\b",
    "hi": r"(और|का|की|के|में|से|है|यह|नहीं)",
    "zh": r"(的|一|是|在|不|了|有|和|人|这)",
}
LANG_ORDER = ("de", "en", "es", "fr", "hi", "zh")   # tie-break: alphabetical


def lang_scores(col: Column) -> dict:
    return {lang: F.regexp_count(col, F.lit(pat))
            for lang, pat in STOPWORDS.items()}


def lang_id(col: Column) -> Column:
    """argmax over per-language stopword hit counts; 'und' when all zero.

    Ties break by LANG_ORDER (first language with the max count) — the
    DuckDB oracle replicates the same CASE chain, so the tie rule is part
    of the spec.
    """
    scores = lang_scores(col)
    mx = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        expr = F.when(scores[lang] == mx, F.lit(lang)).otherwise(expr)
    return F.when(mx > 0, expr).otherwise(F.lit("und"))


# ---------------------------------------------------------------------------
# Quality scoring (length / punctuation / stopword ratios)
# ---------------------------------------------------------------------------

def token_count(col: Column) -> Column:
    """Whitespace tokens — regexp_count('\\S+') (empty-safe, both engines)."""
    return F.regexp_count(col, F.lit(r"\S+"))


BPE_ISH_RE = r"[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]"


def bpe_ish_count(col: Column) -> Column:
    """BPE-flavoured token count: letter runs, digit runs, single symbols."""
    return F.regexp_count(col, F.lit(BPE_ISH_RE))


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    p = F.length(F.regexp_replace(col, r"[^\.,;:!\?]", ""))
    return F.when(n > 0, p / n).otherwise(F.lit(0.0))


def stopword_ratio(col: Column) -> Column:
    hits = sum(lang_scores(col).values())
    toks = token_count(col)
    return F.when(toks > 0, hits.cast("double") / toks).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite ∈ [0,1]: favour mid-length docs, letters over symbols,
    some stopwords, low punctuation — the standard web-text quality recipe
    (C4/Gopher-style heuristics, public)."""
    len_score = F.least(F.lit(1.0), F.length(col) / F.lit(500.0))
    letter_s = letter_ratio(col)
    stop_s = F.least(F.lit(1.0), stopword_ratio(col) * F.lit(4.0))
    punct_pen = F.least(F.lit(1.0), punct_ratio(col) * F.lit(5.0))
    return F.round(F.lit(0.3) * len_score + F.lit(0.3) * letter_s
                   + F.lit(0.25) * stop_s
                   + F.lit(0.15) * (F.lit(1.0) - punct_pen), 6)


def mean_word_length(col: Column) -> Column:
    """Non-whitespace chars / whitespace tokens (0 when empty)."""
    toks = token_count(col)
    chars = F.length(F.regexp_replace(col, r"\s+", ""))
    return F.when(toks > 0, chars / toks).otherwise(F.lit(0.0))


def gopher_pass(col: Column, min_words: int = 40,
                max_words: int = 100_000) -> Column:
    """Gopher-style document quality gate (Rae et al. 2021, public):
    word-count bounds, mean word length in [3, 10], and a symbol-to-word
    ratio below 0.1 (hash/ellipsis junk). True = keep for training."""
    toks = token_count(col)
    mwl = mean_word_length(col)
    symbols = F.regexp_count(col, F.lit(r"[#…]|\.\.\."))
    sym_ratio = F.when(toks > 0, symbols / toks).otherwise(F.lit(1.0))
    return (toks.between(min_words, max_words)
            & mwl.between(3.0, 10.0)
            & (sym_ratio < 0.1))


# ---------------------------------------------------------------------------
# Blocklist gate (C4-style term filter, list-parameterized)
# ---------------------------------------------------------------------------

_REGEX_SPECIALS = r"\.^$+?()[]{}|*"


def blocklist_pattern(terms: list[str]) -> str:
    """Word-bounded alternation for ``terms``, to be matched against
    LOWERCASED text — valid in both Java regex and RE2 (specials
    escaped, no lookarounds).  The term list is a PARAMETER: C4 filters
    on a public blocklist; any deployment supplies its own.

    Two matching rules, both load-bearing:

    - case folding happens OUTSIDE the regex (terms are lowercased
      here; callers lower() the text column) because ``(?i)`` folds
      ASCII-only in Java but Unicode in RE2 — accented terms would
      silently diverge between the engine and the oracle;
    - ``\\b`` is emitted PER EDGE only where the term actually starts/
      ends with a word character — a ``\\b`` next to a punctuation
      edge (e.g. the list entry ``a$$``) can never match and would
      silently disable that term.  Punctuation-edged terms therefore
      match without a boundary on that side (substring semantics
      there, the C4 token-split approximation).
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    parts = []
    for t in terms:
        t = t.lower()
        esc = "".join("\\" + ch if ch in _REGEX_SPECIALS else ch
                      for ch in t)
        # \b is ASCII-\w-based in BOTH engines, so the edge test must be
        # ASCII too: a \b next to a non-ASCII letter (e.g. 'ü') can
        # never match and would silently disable the term
        _w = ("abcdefghijklmnopqrstuvwxyz"
              "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_")
        lo = r"\b" if t[:1] and t[0] in _w else ""
        hi = r"\b" if t[-1:] and t[-1] in _w else ""
        parts.append(f"{lo}(?:{esc}){hi}")
    return "(?:" + "|".join(parts) + ")"


def blocklist_hits(col: Column, terms: list[str]) -> Column:
    """Occurrences of any blocklist term (case-insensitive via
    ``lower()`` — Unicode-correct in both engines; whole-word where the
    term is word-edged; multi-word phrases allowed)."""
    return F.regexp_count(F.lower(col), F.lit(blocklist_pattern(terms)))


def blocklist_pass(col: Column, terms: list[str],
                   max_hits: int = 0) -> Column:
    """True = keep (≤ ``max_hits`` blocklist occurrences — C4 drops on
    any hit, Gopher-style recipes tolerate a threshold)."""
    return blocklist_hits(col, terms) <= max_hits


# ---------------------------------------------------------------------------
# Script composition (writing-system character ratios)
# ---------------------------------------------------------------------------

# Unicode block ranges, expressed identically in Java regex and RE2.
SCRIPT_RANGES = {
    "latin": r"[A-Za-zÀ-ɏ]",
    "devanagari": r"[ऀ-ॿ]",
    "cjk": r"[一-鿿぀-ヿ가-힯]",
    "arabic": r"[؀-ۿ]",
    "cyrillic": r"[Ѐ-ӿ]",
}
SCRIPT_ORDER = tuple(sorted(SCRIPT_RANGES))   # tie-break: alphabetical


def script_counts(col: Column) -> dict:
    return {name: F.regexp_count(col, F.lit(pat))
            for name, pat in SCRIPT_RANGES.items()}


def script_ratios(col: Column) -> dict:
    """Per-script character fraction of the NON-whitespace text (0.0
    when empty), rounded to 6 d.p. — the signal mixed-script spam
    filters and per-script routing key on."""
    chars = F.length(F.regexp_replace(col, r"\s+", ""))
    return {name: F.round(F.when(chars > 0, cnt.cast("double") / chars)
                          .otherwise(F.lit(0.0)), 6)
            for name, cnt in script_counts(col).items()}


def dominant_script(col: Column) -> Column:
    """argmax over script char counts; 'other' when all zero.  Ties
    break by SCRIPT_ORDER (first name with the max count) — the same
    CASE-chain rule as ``lang_id``, part of the spec."""
    counts = script_counts(col)
    mx = F.greatest(*counts.values())
    expr = F.lit("other")
    for name in reversed(SCRIPT_ORDER):
        expr = F.when(counts[name] == mx, F.lit(name)).otherwise(expr)
    return F.when(mx > 0, expr).otherwise(F.lit("other"))


# ---------------------------------------------------------------------------
# P1 — print-dialog range predicate (utils.py:75-141 parse_page_range)
# ---------------------------------------------------------------------------

def parse_range_spec(spec: str) -> list:
    """Parse 'all' | '5' | '1-50' | '1,5,10-20' → sorted unique (lo, hi)
    inclusive intervals (None = unbounded/'all'). Same grammar as the
    reference's page-range parser; validation raises ValueError."""
    spec = spec.strip().lower()
    if spec == "all":
        return []
    out = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        if "-" in part:
            lo_s, hi_s = part.split("-", 1)
            lo, hi = int(lo_s), int(hi_s)
            if lo > hi:
                raise ValueError(f"range {part!r}: start > end")
        else:
            lo = hi = int(part)
        if lo < 0:
            raise ValueError(f"range {part!r}: negative")
        out.append((lo, hi))
    return sorted(set(out))


def range_predicate(col: Column, spec: str) -> Column:
    """P1 as a Catalyst predicate: OR of BETWEENs — pushable to the scan
    (min/max row-group pruning), the Spark analog of rendering only the
    requested pages. 'all' → literal true."""
    intervals = parse_range_spec(spec)
    if not intervals:
        return F.lit(True)
    pred = F.lit(False)
    for lo, hi in intervals:
        pred = pred | col.between(F.lit(lo), F.lit(hi))
    return pred
