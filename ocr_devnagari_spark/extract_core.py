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
from dataclasses import dataclass, field
from html import unescape

# ---------------------------------------------------------------------------
# Shared constants
# ---------------------------------------------------------------------------

CONFIDENCE_THRESHOLD = 0.85      # hybrid_backend.py:45 / base.py:34-37
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
    token? Attributes are parsed lazily — most tags never need them."""
    if not attr_str or ("class" not in attr_str and "id" not in attr_str):
        return False
    for m in _ATTR_CLASS_RE.finditer(attr_str):
        v = m.group(2) or m.group(3) or m.group(4) or ""
        for tok in _CLASS_SPLIT.split(v.lower()):
            if tok in CLASS_DROP_TOKENS:
                return True
    return False


# ---------------------------------------------------------------------------
# HTML tokenizer — a single-pass regex scanner emitting (start/end/data)
# events. Replaces stdlib html.parser (3-4× faster: no per-char position
# tracking, lazy attribute parsing, C-speed regex scanning). Both extraction
# paths AND the golden oracle consume these events, so the tokenizer IS the
# spec — byte-identity is preserved by construction.
# ---------------------------------------------------------------------------

START, END, DATA = 0, 1, 2

_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9\-]*)"
    r"((?:[^>\"']|\"[^\"]*\"|'[^']*')*?)(/?)>", re.S)

# Content of these tags is raw text until the close tag (script may contain
# '<'); they are all skip-tags, so content is dropped wholesale. Close-tag
# search must be case-INSENSITIVE (</SCRIPT> is common in real crawl HTML).
_RAWTEXT_TAGS = frozenset("script style textarea title".split())
_RAWTEXT_CLOSE = {t: re.compile(f"</{t}\\s*>", re.I) for t in _RAWTEXT_TAGS}


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
    i, n = 0, len(html)
    find = html.find
    match = _TAG_RE.match
    try:
        while i < n:
            lt = find("<", i)
            if lt < 0:
                d = html[i:]
                emit((DATA, (unescape(d) if "&" in d else d)))
                break
            if lt > i:
                d = html[i:lt]
                emit((DATA, (unescape(d) if "&" in d else d)))
            nxt = html[lt + 1: lt + 2]
            if nxt == "!":
                if html.startswith("<!--", lt):
                    end = find("-->", lt + 4)
                    i = n if end < 0 else end + 3
                else:
                    end = find(">", lt)
                    i = n if end < 0 else end + 1
                continue
            if nxt == "?":
                end = find(">", lt)
                i = n if end < 0 else end + 1
                continue
            m = match(html, lt)
            if not m:
                emit((DATA, "<"))
                i = lt + 1
                continue
            closing, tag, attr_str, selfclose = m.groups()
            tag = tag.lower()
            i = m.end()
            if closing:
                emit((END, tag))
                continue
            emit((START, (tag, attr_str, bool(selfclose))))
            if tag in _RAWTEXT_TAGS and not selfclose:
                m2 = _RAWTEXT_CLOSE[tag].search(html, i)
                if m2 is None:
                    i = n                   # unterminated: rest is raw
                else:
                    emit((END, tag))
                    i = m2.end()
    except Exception:
        pass
    return out


# ---------------------------------------------------------------------------
# Block model
# ---------------------------------------------------------------------------

@dataclass
class Block:
    tag: str
    parts: list = field(default_factory=list)
    anchor_chars: int = 0
    n_links: int = 0
    dropped: bool = False        # inside nav/header/footer/aside/drop-class
    _text: str | None = None

    def text(self) -> str:
        if self._text is None:
            self._text = canon("".join(self.parts))
        return self._text


def segment_blocks(html_str_or_events) -> list[Block]:
    """Streaming flat block segmentation over the event stream. Accepts
    raw HTML or a pre-materialized event list (``materialize_events``)."""
    events = (html_str_or_events if isinstance(html_str_or_events, list)
              else materialize_events(html_str_or_events))
    blocks: list[Block] = []
    drop_stack: list[str] = []
    cur = Block(tag="body")
    skip = 0                     # depth inside non-rawtext skip tags
    anchor = 0                   # <a> nesting depth

    def flush(next_tag: str = "body") -> Block:
        nonlocal cur
        if cur.parts:
            blocks.append(cur)
        cur = Block(tag=next_tag, dropped=bool(drop_stack))
        return cur

    try:
        for kind, payload in events:
            if kind == DATA:
                if skip or not payload:
                    continue
                cur.parts.append(payload)
                if anchor:
                    cur.anchor_chars += len(canon(payload))
            elif kind == START:
                tag, attr_str, selfclose = payload
                if tag in SKIP_TAGS:
                    if tag not in _RAWTEXT_TAGS and not selfclose:
                        skip += 1
                    continue
                if skip:
                    continue
                if (tag in SECTION_DROP_TAGS or _has_drop_class(attr_str)) \
                        and tag not in VOID_TAGS:
                    flush(tag)
                    drop_stack.append(tag)
                    cur.dropped = True
                    continue
                if tag == "a":
                    anchor += 1
                    cur.n_links += 1
                if tag in BLOCK_TAGS:
                    flush(tag)
            else:  # END
                tag = payload
                if tag in SKIP_TAGS:
                    if tag not in _RAWTEXT_TAGS:
                        skip = max(0, skip - 1)
                    continue
                if skip:
                    continue
                if drop_stack and tag == drop_stack[-1]:
                    flush()
                    drop_stack.pop()
                    cur.dropped = bool(drop_stack)
                    continue
                if tag == "a":
                    anchor = max(0, anchor - 1)
                if tag in BLOCK_TAGS:
                    flush()
    except Exception:
        pass                      # malformed input: keep whatever parsed
    flush()
    return blocks


def _keep_fast(b: Block) -> bool:
    """Fast-path block classifier (text-density / link-density heuristic)."""
    if b.dropped:
        return False
    t = b.text()
    n = len(t)
    if n == 0:
        return False
    if b.n_links:
        if b.anchor_chars / n > LINK_DENSITY_MAX:
            return False
        if n < SHORT_LINKY_CHARS:
            return False
    return True


def fast_extract_html(html_str_or_events) -> tuple[str, dict]:
    """Fast path: segment → classify → canonical join.

    Returns (text, stats) where stats feed confidence + lineage histograms.
    """
    blocks = segment_blocks(html_str_or_events)
    kept = [b for b in blocks if _keep_fast(b)]
    texts = [b.text() for b in kept]
    texts = [t for t in texts if t]
    total_blocks = sum(1 for b in blocks if b.text())
    stats = {
        "blocks_total": total_blocks,
        "blocks_kept": len(texts),
    }
    return "\n".join(texts), stats


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


def _subtree_stats(node: Node) -> tuple[int, int]:
    """(text_chars, anchor_chars) of a subtree, drop-sections zeroed."""
    if node.tag in SECTION_DROP_TAGS or _has_drop_class(node.attrs):
        return 0, 0
    text_c = anchor_c = 0
    for ch in node.children:
        if isinstance(ch, str):
            text_c += len(canon(ch))
        else:
            t, a = _subtree_stats(ch)
            text_c += t
            if ch.tag == "a":
                a = t
            anchor_c += a
    return text_c, anchor_c


_CANDIDATE_TAGS = frozenset("article main section div body".split())


def _best_content_root(root: Node) -> Node:
    """Highest text_chars × (1 − link_density) among candidate containers."""
    best, best_score = root, -1.0
    stack = [root]
    while stack:
        n = stack.pop()
        for ch in n.children:
            if isinstance(ch, Node):
                stack.append(ch)
        if n.tag in _CANDIDATE_TAGS:
            t, a = _subtree_stats(n)
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


def extract_pdf(payload: bytes) -> str:
    """Column detection (x-quantized) + reading order (col → y), per page."""
    try:
        doc = json.loads(payload[len(PDF_MAGIC):].decode("utf-8"))
    except Exception:
        return ""
    lines: list[str] = []
    for page in sorted(doc.get("pages", []), key=lambda p: p.get("page", 0)):
        blocks = page.get("blocks", [])
        ordered = sorted(
            blocks, key=lambda b: (int(b.get("x", 0)) // COLUMN_QUANTUM,
                                   b.get("y", 0)))
        lines.extend(canon(b.get("text", "")) for b in ordered)
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
_ASCII_NONLETTER_RE = re.compile(r"[^A-Za-z]+")


def _count_letters(text: str) -> int:
    """== sum(c.isalpha() for c in text); C-speed regex fast path for the
    ~86% of documents that are pure ASCII (semantics must stay EXACTLY
    isalpha — confidence feeds routing, routing feeds byte-identity)."""
    if text.isascii():
        return len(_ASCII_NONLETTER_RE.sub("", text))
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


def extract_document(url: str, payload: bytes,
                     threshold: float = CONFIDENCE_THRESHOLD,
                     primary=None, precise=None) -> dict:
    """The per-row pure function: route → extract → validate → escalate.

    Deterministic hybrid-route semantics (run per row by the distributed
    stage ``operators/extract.py::extract_fused``, which is what the
    byte-identity tests pin down):

    1. PDF payloads go to the layout branch (backend_used='pdf').
    2. Fast extract; compute confidence + critical flags.
    3. Escalate iff invalid OR low-confidence OR critical → precise extract.
    4. Escalated rows take the precise text when it validates, else fall back
       to the fast text (hybrid_backend.py:207-211 — here deterministic).
    """
    if is_pdf_payload(payload):
        text = extract_pdf(payload)
        ok, err = validate_text(text)
        return {
            "url": url, "text": text, "success": ok,
            "confidence": 1.0 if ok else 0.5, "error": err,
            "backend_used": "pdf", "needs_verification": False,
            "rule_hits": {},
        }

    html_str = payload.decode("utf-8", errors="replace")
    # Default path tokenizes ONCE: the event list feeds the fast pass and,
    # for the escalated minority, the precise DOM build — previously the
    # tokenizer (the per-doc hot loop) ran twice on escalated rows. Custom
    # backends take the raw string (registry contract: (html_str) -> str);
    # with a custom PRIMARY, events are never pre-built — the default
    # precise path tokenizes lazily, only for the escalated minority.
    events = materialize_events(html_str) if primary is None else None
    fast_text = primary(html_str) if primary else fast_extract_html(
        events)[0]
    ok, err = validate_text(fast_text)
    conf = estimate_confidence(fast_text)
    critical, _cscore, hits = detect_critical(fast_text)
    escalate = (not ok) or (conf < threshold) or critical

    if not escalate:
        return {
            "url": url, "text": fast_text, "success": True,
            "confidence": conf, "error": None, "backend_used": "fast",
            "needs_verification": False, "rule_hits": hits,
        }

    precise_text = (precise(html_str) if precise
                    else precise_extract_html(
                        events if events is not None else html_str))
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
