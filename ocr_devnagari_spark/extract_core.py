"""Pure per-document extraction core — NO Spark imports.

These functions are the single source of truth for extraction semantics.
The golden reference corpus (``goldenref.py``, single-threaded driver loop)
and the distributed Arrow-batched UDF stages (``operators/*``) both call
them, which is what makes byte-identical-output-per-url achievable and
*testable* under any partitioning.

Semantics re-expressed from the reference (file:line cites into
``/root/reference/``):

- fast path  = block segmentation + text-density/link-density boilerplate
  classification (the cheap local extractor slot, analog of
  ``backends/easyocr_backend.py:86-162``; heuristic family is the published
  Boilerpipe approach, Kohlschütter et al. WSDM'10);
- precise path = full DOM tree + best-content-subtree scoring + rule cascade
  (the expensive high-accuracy slot, analog of
  ``backends/gemini_backend.py:249-343`` — here deterministic and local);
- PDF branch = column detection + reading-order reconstruction
  (``backends/marker_backend.py:89-206`` analog);
- validation  = ``gemini_backend.py:364-398`` (_validate_response);
- confidence  = ``marker_backend.py:208-233`` (_estimate_confidence);
- critical-pattern detector = ``backends/mantra_detector.py:133-238``
  scoring cascade (pattern families → max-score combine → recommendation);
- hybrid routing = ``backends/hybrid_backend.py:144-218``.

Everything is a pure function of the row's bytes: no wall clock, no RNG, no
cross-row state. That purity is the load-bearing property for byte-identity
under repartitioning (SURVEY.md §7.3).
"""

from __future__ import annotations

import json
import re
import string
from bisect import bisect_left
from dataclasses import dataclass, field
from html import unescape

# ---------------------------------------------------------------------------
# Shared constants
# ---------------------------------------------------------------------------

# Rows whose fast-path confidence is below this escalate to the precise
# path. The one definition: the reference carries it twice
# (``hybrid_backend.py:45`` and ``base.py:34-37``).
CONFIDENCE_THRESHOLD = 0.85
# Dollar cost of one escalated page: the reference's paid precise engine
# runs ~1000 input + 500 output tokens per page at $0.50/$3.00 per 1M
# tokens, ~$2 per 1000 pages (``gemini_backend.py:146-158``).  The fast
# engine is free, so a run's estimated cost is escalated rows × this.
PRECISE_COST_PER_PAGE = 0.002
MIN_VALID_LENGTH = 20            # gemini_backend.py:115

PDF_MAGIC = b"FPDF1\n"

SKIP_TAGS = frozenset(
    "script style noscript template svg head title iframe object".split())
SECTION_DROP_TAGS = frozenset("nav header footer aside form".split())
CLASS_DROP_TOKENS = frozenset(
    "ad ads advert advertisement banner cookie promo comment comments "
    "sidebar share social related widget breadcrumb disclaimer".split())
BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li pre blockquote td th div section article "
    "main table ul ol tr dl dt dd figure figcaption body".split())
VOID_TAGS = frozenset("br img meta link input hr area base col embed "
                      "source track wbr".split())
HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())

LINK_DENSITY_MAX = 0.35          # fast-path boilerplate threshold
SHORT_LINKY_CHARS = 25           # short blocks that contain links are chrome

_CLASS_SPLIT = re.compile(r"[\s_\-]+")


def canon(s: str) -> str:
    """Canonical whitespace: collapse runs to a single space, strip."""
    return " ".join(s.split())


_ATTR_CLASS_RE = re.compile(
    # (?<![-\w]) anchor, not \b: '-' is a word BOUNDARY, so \b(class|id)
    # would also match inside data-class=... / data-id=... and wrongly
    # drop real content blocks tagged with such custom attributes.
    r"""(?<![-\w])(class|id)\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.I)


def _has_drop_class(attr_str: str | None) -> bool:
    """Does the tag's raw attribute string carry a drop-listed class/id
    token? Attributes are parsed lazily — most tags never need them; the
    precheck is case-insensitive like ``_ATTR_CLASS_RE`` (``ID=``,
    ``CLASS=``, ``Class=`` all name the attribute)."""
    if not attr_str:
        return False
    low = attr_str.lower()
    if "class" not in low and "id" not in low:
        return False
    for m in _ATTR_CLASS_RE.finditer(attr_str):
        v = m.group(2) or m.group(3) or m.group(4) or ""
        for tok in _CLASS_SPLIT.split(v.lower()):
            if tok in CLASS_DROP_TOKENS:
                return True
    return False


# ---------------------------------------------------------------------------
# HTML tokenizer — one compiled token regex walked with ``finditer``,
# emitting (start/end/data) events. Replaces stdlib html.parser (no
# per-char position tracking, lazy attribute parsing, C-speed scanning).
# Both extraction paths AND the golden oracle consume these events, so the
# tokenizer IS the spec — byte-identity is preserved by construction.
#
# Cost is linear in the document's length, for every input:
# - a failed tag attempt backtracks in linear time: the tag name and each
#   unquoted attribute run must end where the run's characters end (the
#   negative lookaheads), and the attribute alternatives are disjoint on
#   their first char, so every giving-back step fails at once. A lazy scan
#   finds the same matches. (Possessive quantifiers would say this
#   directly, but ``re`` only has them from Python 3.11.)
# - the scan restarts only after a rawtext close tag — and, once a tag has
#   failed, after each tag;
# - a '<' that opens no tag costs amortized O(1): after the first failed
#   tag the scan continues without the tag alternative and each later '<'
#   is checked first: a right-to-left table (``_attr_reach``, built once)
#   says whether the attribute scan from there reaches an unquoted '>'.
#   Without the check every unterminated ``<a `` re-scanned the rest of the
#   document (quadratic; ``test_extract_core.py`` pins the linear growth).
# ---------------------------------------------------------------------------

START, END, DATA = 0, 1, 2

# Alternatives after the tag: a data run (group 5), a comment (to '-->';
# unterminated: to the end), other '<!'/'<?' markup (to the next '>', or
# the end), a '<' that starts a tag name but whose tag did not match
# (group 6) and any other '<' (group 7).
_NOT_TAG = (r"|([^<]+)|<!--(?:.*?-->|.*)|<[!?][^>]*>?"
            r"|(<(?=/?[a-zA-Z]))|(<)")
# Tag groups: 1 '/' of a close tag, 2 name, 3 raw attribute string (quoted
# values may hold '>'), 4 '/' of a self-closing tag.
_TOKEN_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9\-]*)(?![a-zA-Z0-9\-])"
    r"((?:[^>\"'/]+(?![^>\"'/])|/(?!>)|\"[^\"]*\"|'[^']*')*)(/?)>"
    + _NOT_TAG, re.S)
# The scan after the first failed tag: no tag alternative, same group
# numbers.
_GUARDED_RE = re.compile(r"(?!)()()()()" + _NOT_TAG, re.S)
_ATTR_STOP_RE = re.compile(r"[>\"']")

# Content of these tags is raw text until the close tag (script may contain
# '<'); they are all skip-tags, so content is dropped wholesale. Close-tag
# search must be case-INSENSITIVE (</SCRIPT> is common in real crawl HTML).
_RAWTEXT_TAGS = frozenset("script style textarea title".split())
_RAWTEXT_CLOSE = {t: re.compile(f"</{t}\\s*>", re.I) for t in _RAWTEXT_TAGS}


def _attr_reach(html: str, start: int) -> tuple[list, list]:
    """Where a tag's attribute scan ends, for every position from
    ``start``: ``stops`` are the positions of '>', '"' and "'", and
    ``ok[i]`` says whether a scan arriving outside quotes at ``stops[i]``
    ends at an unquoted '>' (a quote jumps to the next quote of its kind;
    a quote with none after it fails the tag). ``ok[-1]`` is False: the
    scan ran off the end. Built right to left in one pass."""
    stops = [m.start() for m in _ATTR_STOP_RE.finditer(html, start)]
    ok = [False] * (len(stops) + 1)
    next_dq = next_sq = -1            # index of the next '"' / "'"
    for i in range(len(stops) - 1, -1, -1):
        c = html[stops[i]]
        if c == ">":
            ok[i] = True
        elif c == '"':
            ok[i] = next_dq >= 0 and ok[next_dq + 1]
            next_dq = i
        else:
            ok[i] = next_sq >= 0 and ok[next_sq + 1]
            next_sq = i
    return stops, ok


def materialize_events(html_str: str) -> list:
    """The HTML tokenizer: ``[(kind, payload), ...]`` with START →
    (tag, attr_str, self_closing), END → tag, DATA → text (entities
    already decoded).

    Events come back as a list so the escalated ~8-15% of documents
    tokenize ONCE for both the fast pass and the precise DOM build.
    Markup dispatch keys on the char after '<': '<!--' comments run to
    '-->', other '<!'/'<?' markup to the next '>' (unterminated: to the
    end), and a '<' that opens no tag is literal data.  On an internal
    error the events parsed so far are returned (malformed input keeps
    whatever parsed).  The expected events for hostile markup are
    pinned by test."""
    out: list = []
    emit = out.append
    html = html_str
    n = len(html)
    scanner = _TOKEN_RE
    stops = ok = None               # _attr_reach, once a tag has failed
    pos = 0
    try:
        while pos < n:
            for m in scanner.finditer(html, pos):
                k = m.lastindex
                if k == 5:
                    d = m[5]
                    emit((DATA, (unescape(d) if "&" in d else d)))
                    continue
                if k == 7:
                    emit((DATA, "<"))
                    continue
                if k == 6:
                    lt = m.start()
                    if scanner is _TOKEN_RE:    # the first failed tag
                        emit((DATA, "<"))
                        scanner = _GUARDED_RE
                        stops, ok = _attr_reach(html, lt)
                        pos = lt + 1
                        break
                    if not ok[bisect_left(stops, lt)]:
                        emit((DATA, "<"))
                        continue
                    m = _TOKEN_RE.match(html, lt)   # cannot fail
                elif k is None:
                    continue                # comment / '<!' / '<?' markup
                tag = m[2].lower()
                if m[1]:
                    emit((END, tag))
                else:
                    selfclose = m[4] == "/"
                    emit((START, (tag, m[3], selfclose)))
                    if tag in _RAWTEXT_TAGS and not selfclose:
                        m2 = _RAWTEXT_CLOSE[tag].search(html, m.end())
                        if m2 is None:
                            pos = n         # unterminated: rest is raw
                        else:
                            emit((END, tag))
                            pos = m2.end()
                        break
                if scanner is _GUARDED_RE:  # it consumed only the '<'
                    pos = m.end()
                    break
            else:
                pos = n
    except Exception:
        pass
    return out


# ---------------------------------------------------------------------------
# Fast path: streaming block segmentation + text-density / link-density
# classification over the event list.
# ---------------------------------------------------------------------------

def _is_kept(text: str, anchor_chars: int, n_links: int,
             dropped: bool) -> bool:
    """Fast-path block classifier (text-density / link-density heuristic)
    for a block whose canonical text is non-empty."""
    if dropped:
        return False
    if n_links:
        if anchor_chars / len(text) > LINK_DENSITY_MAX:
            return False
        if len(text) < SHORT_LINKY_CHARS:
            return False
    return True


def fast_extract_html(html_str_or_events) -> tuple[str, dict]:
    """Fast path: flat block segmentation, streamed — each block is
    classified the moment a block boundary ends it (a block tag, or a
    nav/header/footer/aside/form or drop-class section opening or
    closing) — then the kept texts are joined.  Accepts raw HTML or a
    pre-materialized event list (``materialize_events``).

    Returns (text, stats) where stats feed confidence + lineage histograms.
    """
    events = (html_str_or_events if isinstance(html_str_or_events, list)
              else materialize_events(html_str_or_events))
    texts: list[str] = []          # kept block texts
    total = 0                      # blocks with non-empty text
    parts: list[str] = []          # the open block's data
    anchor_chars = n_links = 0
    dropped = False                # open block is inside a drop section
    drop_stack: list[str] = []
    skip = 0                       # depth inside non-rawtext skip tags
    anchor = 0                     # <a> nesting depth
    try:
        for kind, payload in events:
            if kind == DATA:
                if skip or not payload:
                    continue
                parts.append(payload)
                if anchor:
                    anchor_chars += len(canon(payload))
                continue
            if kind == START:
                tag, attr_str, selfclose = payload
                if tag in SKIP_TAGS:
                    if tag not in _RAWTEXT_TAGS and not selfclose:
                        skip += 1
                    continue
                if skip:
                    continue
                if (tag in SECTION_DROP_TAGS
                        or attr_str and _has_drop_class(attr_str)) \
                        and tag not in VOID_TAGS:
                    drop_stack.append(tag)
                else:
                    if tag == "a":
                        anchor += 1
                        n_links += 1
                    if tag not in BLOCK_TAGS:
                        continue
            else:  # END
                tag = payload
                if tag in SKIP_TAGS:
                    if tag not in _RAWTEXT_TAGS and skip:
                        skip -= 1
                    continue
                if skip:
                    continue
                if drop_stack and tag == drop_stack[-1]:
                    drop_stack.pop()
                else:
                    if tag == "a" and anchor:
                        anchor -= 1
                    if tag not in BLOCK_TAGS:
                        continue
            # block boundary: the open block ends, with the drop state it
            # had; the next one takes the state after this event
            if parts:
                t = canon("".join(parts))
                if t:
                    total += 1
                    if _is_kept(t, anchor_chars, n_links, dropped):
                        texts.append(t)
                parts = []
            anchor_chars = n_links = 0
            dropped = bool(drop_stack)
    except Exception:
        pass                      # malformed input: keep whatever parsed
    t = canon("".join(parts))
    if t:
        total += 1
        if _is_kept(t, anchor_chars, n_links, dropped):
            texts.append(t)
    return "\n".join(texts), {"blocks_total": total,
                              "blocks_kept": len(texts)}


# ---------------------------------------------------------------------------
# Precise path: full DOM tree, best-content-subtree scoring, rule cascade.
# ---------------------------------------------------------------------------

@dataclass
class Node:
    tag: str
    attrs: str | None = None                       # raw attribute string
    children: list = field(default_factory=list)   # Node | str


_MAX_TREE_DEPTH = 120   # bounds recursion in the tree walks below; real
#                         content never nests this deep — deeper tags attach
#                         to the node at the cap (graceful flattening, no
#                         RecursionError on hostile 1000-deep nesting)


def parse_tree(html_str_or_events) -> Node:
    events = (html_str_or_events if isinstance(html_str_or_events, list)
              else materialize_events(html_str_or_events))
    root = Node("document")
    stack = [root]
    skip = 0
    try:
        for kind, payload in events:
            if kind == DATA:
                if not skip and payload:
                    stack[-1].children.append(payload)
            elif kind == START:
                tag, attr_str, selfclose = payload
                if tag in SKIP_TAGS:
                    if tag not in _RAWTEXT_TAGS and not selfclose:
                        skip += 1
                    continue
                if skip:
                    continue
                node = Node(tag, attr_str)
                stack[-1].children.append(node)
                if (tag not in VOID_TAGS and not selfclose
                        and len(stack) < _MAX_TREE_DEPTH):
                    stack.append(node)
            else:
                tag = payload
                if tag in SKIP_TAGS:
                    if tag not in _RAWTEXT_TAGS:
                        skip = max(0, skip - 1)
                    continue
                if skip:
                    continue
                for j in range(len(stack) - 1, 0, -1):
                    if stack[j].tag == tag:
                        del stack[j:]
                        break
    except Exception:
        pass
    return root


_CANDIDATE_TAGS = frozenset("article main section div body".split())


def _subtree_stats(node: Node, memo: dict) -> tuple[int, int]:
    """(text_chars, anchor_chars) of a subtree, drop-sections zeroed.
    ``memo`` keeps each candidate container's stats by ``id``, so a
    subtree nested in many candidates is summed once: O(nodes) per
    document, where re-summing cost O(nodes × depth)."""
    cand = node.tag in _CANDIDATE_TAGS
    if cand and id(node) in memo:
        return memo[id(node)]
    text_c = anchor_c = 0
    if not (node.tag in SECTION_DROP_TAGS or _has_drop_class(node.attrs)):
        for ch in node.children:
            if isinstance(ch, str):
                text_c += len(canon(ch))
            else:
                t, a = _subtree_stats(ch, memo)
                text_c += t
                if ch.tag == "a":
                    a = t
                anchor_c += a
    if cand:
        memo[id(node)] = text_c, anchor_c
    return text_c, anchor_c


def _best_content_root(root: Node) -> Node:
    """Highest text_chars × (1 − link_density) among candidate containers."""
    best, best_score = root, -1.0
    memo: dict = {}
    stack = [root]
    while stack:
        n = stack.pop()
        for ch in n.children:
            if isinstance(ch, Node):
                stack.append(ch)
        if n.tag in _CANDIDATE_TAGS:
            t, a = _subtree_stats(n, memo)
            if t == 0:
                continue
            score = t * (1.0 - min(1.0, a / t))
            if score > best_score:
                best, best_score = n, score
    return best


def _emit_blocks(node: Node, out: list, cur: list, dropped: bool):
    """Serialize a subtree back to flat blocks (precise-path cascade)."""
    is_dropped = dropped or node.tag in SECTION_DROP_TAGS or _has_drop_class(
        node.attrs)
    for ch in node.children:
        if isinstance(ch, str):
            if not is_dropped:
                cur.append(ch)
            continue
        if ch.tag in BLOCK_TAGS or ch.tag in SECTION_DROP_TAGS:
            if cur:
                out.append(canon("".join(cur)))
                cur.clear()
            _emit_blocks(ch, out, cur, is_dropped)
            if cur:
                out.append(canon("".join(cur)))
                cur.clear()
        else:
            _emit_blocks(ch, out, cur, is_dropped)


def precise_extract_html(html_str_or_events) -> str:
    """Precise path: DOM tree → best content subtree → block cascade.

    The precedence-ordered cascade (mirrors the reference's detector cascade
    structure, mantra_detector.py:133-238): (1) drop-listed sections/classes
    are removed; (2) the best content container is selected by subtree
    text-density score; (3) blocks inside it are kept unless link-dominated
    (stricter threshold than the fast path, since we already scoped to the
    content root).
    """
    try:
        root = parse_tree(html_str_or_events)
        content = _best_content_root(root)
        out: list[str] = []
        cur: list[str] = []
        _emit_blocks(content, out, cur, False)
        if cur:
            out.append(canon("".join(cur)))
    except Exception:
        return ""          # fail-safe: caller falls back to the fast text
    texts = [t for t in out if t]
    # Rule cascade step 3: inside the content root almost everything is
    # content; drop only pure link lists (detected lexically: very short
    # repeated nav words is the fast path's job — here we trust the scope).
    return "\n".join(texts)


# ---------------------------------------------------------------------------
# PDF-like layout branch (F1b): column detection + reading order.
# ---------------------------------------------------------------------------

COLUMN_QUANTUM = 160             # x-center clustering pitch (px)


def is_pdf_payload(payload: bytes) -> bool:
    return payload[: len(PDF_MAGIC)] == PDF_MAGIC


def extract_pdf(payload: bytes) -> str | None:
    """Column detection (x-quantized) + reading order (col → y), per page.

    None when the JSON parses but does not have the layout's shape (a
    root or page that is not an object, ``pages``/``blocks`` that are
    not lists of objects, a non-numeric ``x``, a non-string ``text``,
    page numbers or ``y`` values that do not compare): such a payload
    costs its row, never the job."""
    try:
        doc = json.loads(payload[len(PDF_MAGIC):].decode("utf-8"))
    except Exception:
        return ""
    lines: list[str] = []
    try:
        for page in sorted(doc.get("pages", []),
                           key=lambda p: p.get("page", 0)):
            blocks = page.get("blocks", [])
            ordered = sorted(
                blocks, key=lambda b: (int(b.get("x", 0)) // COLUMN_QUANTUM,
                                       b.get("y", 0)))
            lines.extend(canon(b.get("text", "")) for b in ordered)
    except (AttributeError, TypeError, ValueError, OverflowError):
        return None
    return "\n".join(t for t in lines if t)


# ---------------------------------------------------------------------------
# Validation predicate (P2 — gemini_backend.py:364-398)
# ---------------------------------------------------------------------------

ERROR_PATTERNS = (
    "cannot process", "unable to", "i can't", "i cannot", "no text",
    "error occurred", "not readable", "failed to", "as an ai",
    "i'm sorry", "sorry,", "no content", "blank page",
)
_ALNUM_RE = re.compile(r"[^\W_]", re.UNICODE)   # any letter or digit


def validate_text(text: str) -> tuple[bool, str | None]:
    """Mirror of _validate_response: floor length, error patterns, alnum."""
    t = text.strip()
    if len(t) < MIN_VALID_LENGTH:
        return False, "too_short"
    head = t[:300].lower()
    for pat in ERROR_PATTERNS:
        if pat in head:
            return False, "error_pattern"
    if not _ALNUM_RE.search(t):
        return False, "no_alnum"
    return True, None


# ---------------------------------------------------------------------------
# Confidence estimation (P5 — marker_backend.py:208-233)
# ---------------------------------------------------------------------------

_GARBLED_RE = re.compile(r"[^\w\s]{5,}", re.UNICODE)
_ASCII_LETTERS = string.ascii_letters.encode()


def _count_letters(text: str) -> int:
    """== sum(c.isalpha() for c in text); C-speed fast path for the ~86%
    of documents that are pure ASCII, where the letters are exactly
    A-Z/a-z (semantics must stay EXACTLY isalpha — confidence feeds
    routing, routing feeds byte-identity)."""
    if text.isascii():
        b = text.encode("ascii")
        return len(b) - len(b.translate(None, _ASCII_LETTERS))
    # sum(map(...)) over the bound C method: no per-char generator
    # frame; bools sum as ints, value unchanged
    return sum(map(str.isalpha, text))


def estimate_confidence(text: str) -> float:
    """max(0.5, 1 − 0.15·issues); issues ∈ {garbled-run, short, low-letter}."""
    issues = 0
    if _GARBLED_RE.search(text):
        issues += 1
    if len(text) < 50:
        issues += 1
    n = len(text)
    if n > 0:
        if _count_letters(text) / n < 0.3:
            issues += 1
    else:
        issues += 1
    return max(0.5, 1.0 - 0.15 * issues)


# ---------------------------------------------------------------------------
# Critical-content detector (M6 — mantra_detector.py:133-238 analog)
# ---------------------------------------------------------------------------

_VERSE_RE = re.compile(r"॥\s*\d+\s*॥")
_BIJA_RE = re.compile(r"(ॐ|स्वाहा|श्लोक)")
_CODE_RE = re.compile(r"(def |return |function\s*\(|;\s*\}|class\s+\w+\s*[:{])")
_NUMTABLE_RE = re.compile(r"\b\d{3,}\b")

# Term families 5-7 (full reference fidelity): section indicators, deity
# names, yantra terms — the public Sanskrit vocabularies from
# mantra_detector.py:62-86, :89-102, :105-118. Substring semantics
# (``term in text``), exactly like the reference's ``text.count``.
SECTION_TERMS = (
    "मन्त्र", "मंत्र", "यन्त्र", "यंत्र", "तन्त्र", "तंत्र", "विनियोग",
    "ऋषि", "छन्द", "छंद", "देवता", "बीज", "शक्ति", "कीलक", "न्यास",
    "ध्यान", "कवच", "स्तोत्र", "सूक्त", "जप", "पुरश्चरण", "अनुष्ठान",
    "साधना", "दीक्षा", "होम", "हवन", "आहुति", "प्राणप्रतिष्ठा",
)
DEITY_TERMS = (
    "शिव", "महादेव", "रुद्र", "विष्णु", "नारायण", "हरि", "ब्रह्मा",
    "गणेश", "गणपति", "विनायक", "दुर्गा", "काली", "चण्डी", "चामुण्डा",
    "लक्ष्मी", "सरस्वती", "हनुमान", "मारुति", "सूर्य", "चन्द्र",
    "भैरव", "भैरवी", "त्रिपुरसुन्दरी", "ललिता", "राजराजेश्वरी",
    "तारा", "बगलामुखी", "धूमावती", "मातङ्गी", "कमला",
)
YANTRA_TERMS = (
    "यन्त्र", "यंत्र",    # present in BOTH lists, as in the reference
    #                      (mantra_detector.py:105-106 and :64)
    "मण्डल", "मंडल", "चक्र", "त्रिकोण", "षट्कोण", "अष्टदल",
    "बिन्दु", "बिंदु", "भूपुर", "कमल", "पद्म", "श्रीचक्र", "श्रीयन्त्र",
)

CRITICAL_FAMILIES = ("verse", "bija", "code", "numeric_table",
                     "section", "deity", "yantra")

# Every Devanagari-dependent family is unreachable without a char in the
# Devanagari block — one regex gate skips ~100 substring scans on the
# overwhelmingly non-Devanagari web majority. Semantics are identical:
# ॥ is U+0965, every term above is Devanagari.
_DEVA_RE = re.compile(r"[ऀ-ॿ]")


def detect_critical_full(text: str) -> dict:
    """Full pattern-family scoring cascade (reference parity:
    mantra_detector.py:133-238): 7 families → per-family fixed scores,
    combined = max(scores) × (1 + min(n_families−1, 5)·0.05) capped at
    1.0.

    Gating follows the reference's STRICT rule (:215-216), not the
    combined score: ``contains_mantra = bija_count > 0 or
    numbered_verses > 0 or section_count >= 2`` — a deity-name-only or
    yantra-term-only text scores 0.6-0.75 but is NOT critical and gets
    recommendation 'skip' (common Hindi words like हरि/सूर्य must not
    force precise escalation). The tri-state recommendation (:224-230)
    and priority score (:253-271) key off the same rule.

    ``flag`` (the escalation/needs_verification gate) additionally
    includes the two non-Devanagari families this engine adds for web
    corpora — code blocks and numeric tables, content a fast extractor
    garbles silently — which have no counterpart in the reference's
    mantra-only detector.
    """
    hits: dict = {}
    scores = []
    bija_count = 0
    n_verse = 0
    n_sec = 0
    if _DEVA_RE.search(text):
        n_verse = len(_VERSE_RE.findall(text))
        if n_verse:
            hits["verse"] = n_verse
            scores.append(0.8)
        bija_count = len(_BIJA_RE.findall(text))
        if bija_count:
            hits["bija"] = bija_count
            scores.append(0.9)
        n_sec = sum(1 for t in SECTION_TERMS if t in text)
        if n_sec:
            hits["section"] = n_sec
            scores.append(min(0.85, 0.5 + n_sec * 0.1))
        n = sum(1 for t in DEITY_TERMS if t in text)
        if n:
            hits["deity"] = n
            scores.append(0.6)
        n = sum(1 for t in YANTRA_TERMS if t in text)
        if n:
            hits["yantra"] = n
            scores.append(0.75)
    n = len(_CODE_RE.findall(text))
    if n:
        hits["code"] = n
        scores.append(0.75)
    n = len(_NUMTABLE_RE.findall(text))
    if n >= 6:
        hits["numeric_table"] = n
        scores.append(0.7)
    if scores:
        combined = min(1.0, max(scores) * (1 + min(len(scores) - 1, 5) * 0.05))
    else:
        combined = 0.0
    contains_mantra = bija_count > 0 or n_verse > 0 or n_sec >= 2
    flag = contains_mantra or "code" in hits or "numeric_table" in hits
    if bija_count >= 3 or (bija_count >= 1 and n_sec >= 2):
        recommendation = "high_priority"
        priority = 1.0
    elif contains_mantra:
        recommendation = "verify"
        priority = 0.5 + 0.4 * combined
    else:
        recommendation = "skip"
        priority = 0.3 * combined
    return {"flag": flag, "score": combined, "hits": hits,
            "contains_mantra": contains_mantra,
            "recommendation": recommendation, "priority": priority}


def detect_critical(text: str) -> tuple[bool, float, dict]:
    """(flag, combined score, per-family hits) — the routing-facing view
    of ``detect_critical_full``."""
    r = detect_critical_full(text)
    return r["flag"], r["score"], r["hits"]


# ---------------------------------------------------------------------------
# Full per-document pipeline (the hybrid route, M5 — hybrid_backend.py:144-218)
# ---------------------------------------------------------------------------

RESULT_FIELDS = ("url", "text", "success", "confidence", "error",
                 "backend_used", "needs_verification", "rule_hits")


def extract_document(url: str, payload: bytes) -> dict:
    """The per-row pure function: route → extract → validate → escalate.

    Deterministic hybrid-route semantics (run per row by the distributed
    stage ``operators/extract.py::extract_fused``, which is what the
    byte-identity tests pin down):

    1. PDF payloads go to the layout branch (backend_used='pdf').
    2. Fast extract; compute confidence + critical flags.
    3. Escalate iff invalid OR low-confidence OR critical → precise extract.
    4. Escalated rows take the precise text when it validates, else fall back
       to the fast text (hybrid_backend.py:207-211 — here deterministic).

    The fast/precise pair is the one extraction engine; there is no
    engine argument.  Changing an engine is a change to this module,
    and ``test_extract_document_pinned_digest`` pins its output bytes.

    A NULL payload (``sources/warc.py::read_wet_pages`` emits one by
    design) costs its row, never the job: it returns a flagged row with
    empty text, ``success=False``, ``error='null_payload'`` and
    ``backend_used='none'``, which lineage counts in ``failed_count``.
    A PDF payload whose JSON does not fit the layout shape
    (``extract_pdf`` returns None) is flagged the same way with
    ``error='bad_layout'`` and ``backend_used='pdf'``.
    """
    if payload is None:
        return {
            "url": url, "text": "", "success": False, "confidence": 0.0,
            "error": "null_payload", "backend_used": "none",
            "needs_verification": False, "rule_hits": {},
        }
    if is_pdf_payload(payload):
        text = extract_pdf(payload)
        if text is None:
            return {
                "url": url, "text": "", "success": False,
                "confidence": 0.5, "error": "bad_layout",
                "backend_used": "pdf", "needs_verification": False,
                "rule_hits": {},
            }
        ok, err = validate_text(text)
        return {
            "url": url, "text": text, "success": ok,
            "confidence": 1.0 if ok else 0.5, "error": err,
            "backend_used": "pdf", "needs_verification": False,
            "rule_hits": {},
        }

    # Tokenize ONCE: the event list feeds the fast pass and, for the
    # escalated minority, the precise DOM build.
    events = materialize_events(payload.decode("utf-8", errors="replace"))
    fast_text = fast_extract_html(events)[0]
    ok, err = validate_text(fast_text)
    conf = estimate_confidence(fast_text)
    critical, _cscore, hits = detect_critical(fast_text)
    escalate = (not ok) or (conf < CONFIDENCE_THRESHOLD) or critical

    if not escalate:
        return {
            "url": url, "text": fast_text, "success": True,
            "confidence": conf, "error": None, "backend_used": "fast",
            "needs_verification": False, "rule_hits": hits,
        }

    precise_text = precise_extract_html(events)
    p_ok, p_err = validate_text(precise_text)
    if p_ok:
        text, success, error = precise_text, True, None
    else:
        text, success, error = fast_text, ok, err or p_err
    return {
        "url": url, "text": text, "success": success,
        "confidence": estimate_confidence(text) if success else conf,
        "error": error, "backend_used": "fast+precise",
        "needs_verification": critical, "rule_hits": hits,
    }
