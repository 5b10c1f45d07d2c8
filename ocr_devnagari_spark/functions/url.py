"""URL canonicalization — Catalyst-native, for dedup-by-url at crawl scale.

Re-crawls and mirrors present the same document under trivially-different
URLs (host case, default ports, tracking params, fragments, param order).
Canonicalizing BEFORE the url-keyed operators (resume anti-join, exact
dedup keeper maps, host-salted rebalance) collapses those families without
touching the payload.

Everything is built from regex/array expressions with exact DuckDB
equivalents — deliberately NOT ``parse_url`` (no DuckDB counterpart), so
the whole family is oracle-checkable. The rules (conservative, lossless
for real-world http(s) URLs):

- scheme and host lowercase;
- default ports dropped (``:80`` for http, ``:443`` for https);
- empty path → ``/``;
- fragment dropped;
- tracking params dropped (``utm_*``, ``gclid``, ``fbclid``, ``msclkid``,
  ``mc_eid`` — unambiguous click-id params only; a generic name like
  ``ref`` is content-bearing on many sites and is kept);
- remaining query params sorted (byte order) so param order never splits
  a dedup group;
- userinfo dropped (``user:pass@host`` → ``host``): credentials never
  distinguish crawl documents, and re-crawl frontiers routinely carry
  the same URL with and without them — a deliberate dedup choice;
- percent-encoding normalized per RFC 3986 §2.3/§6.2.2: hex digits
  uppercased (``%3f`` → ``%3F``) and UNRESERVED characters decoded
  (``%7E`` → ``~``, ``%41`` → ``A``); reserved escapes (``%2F``,
  ``%3F``, ``%25``…) are kept encoded — decoding those would change
  the URL's structure. Malformed escapes (``%zz``, trailing ``%a``)
  pass through untouched.

- dot-segments resolved (RFC 3986 §5.2.4) to a BOUNDED depth: ``/./``
  collapses and ``/seg/../`` pops, via fixed regex passes (8 levels of
  ``..`` nesting — beyond that the residue is left as-is, which only
  under-merges). Leading ``/../`` at the root is kept verbatim (the
  RFC drops it; keeping it is conservative and loses no dedup on real
  URLs, which don't escape their root).

Registrable-domain extraction follows public-suffix-list semantics
(``PSL_SNAPSHOT`` — an embedded subset of publicsuffix.org covering the
high-traffic multi-label registries plus wildcard/exception rule kinds);
the full upstream list plugs into the same functions through their
``rules`` parameter and compiles into the expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

UNRESERVED = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
              "abcdefghijklmnopqrstuvwxyz"
              "0123456789-._~")

# a path segment that is NOT '.' or '..' — RE2-safe (no lookahead, so
# the DuckDB oracle can run the same pattern): starts with a non-dot, or
# '.'+non-dot, or '..'+at-least-one-more-char
DOT_SEG = r"([^./][^/]*|\.[^./][^/]*|\.\.[^/]+)"
DOT_DEPTH = 8          # bounded '../' resolution depth

SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://"
AUTHORITY_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)"
PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*([^?#]*)"
# query = after the FIRST '?' that precedes any '#': a '?' inside the
# fragment (SPA routes like '#/search?q=x') is fragment text, not query
QUERY_RE = r"^[^#?]*\?([^#]*)"
TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid)(=|$)"


def percent_normalize(col: Column) -> Column:
    """RFC 3986 percent-escape normalization, pure Catalyst: first
    uppercase lowercase hex digits (all first-digit rewrites, THEN all
    second-digit ones — ``%fa`` needs its first digit uppercased before
    ``%([0-9A-F])a`` can see it), then decode the 66 UNRESERVED
    characters with a constant ``replace`` chain. Decoding unreserved
    chars can never introduce a delimiter or a new ``%``, so the chain
    order is safe; reserved escapes survive (uppercased). Gated on a
    ``contains('%')`` pre-check — the 12 regex passes are skipped
    entirely on the overwhelmingly-common escape-free URL."""
    c = col
    for ch in "abcdef":
        c = F.regexp_replace(c, f"%{ch}([0-9a-fA-F])", f"%{ch.upper()}$1")
    for ch in "abcdef":
        c = F.regexp_replace(c, f"%([0-9A-F]){ch}", f"%$1{ch.upper()}")
    for u in UNRESERVED:
        c = F.replace(c, F.lit(f"%{ord(u):02X}"), F.lit(u))
    return F.when(F.contains(col, F.lit("%")), c).otherwise(col)


def url_scheme(col: Column) -> Column:
    return F.lower(F.regexp_extract(col, SCHEME_RE, 1))


def strip_host(authority: Column) -> Column:
    """authority → lowercased host (userinfo and port stripped) — the
    shared normalization behind ``url_host`` and the link-graph's
    href-host resolution."""
    no_user = F.regexp_replace(authority, r"^[^@]*@", "")
    return F.lower(F.regexp_replace(no_user, r":\d*$", ""))


def url_host(col: Column) -> Column:
    """Lowercased host without port/userinfo."""
    return strip_host(F.regexp_extract(col, AUTHORITY_RE, 1))


def url_port(col: Column) -> Column:
    """Explicit port as a string ('' when absent)."""
    auth = F.regexp_extract(col, AUTHORITY_RE, 1)
    return F.regexp_extract(auth, r":(\d+)$", 1)


# ---------------------------------------------------------------------------
# Registrable domain — public-suffix-list semantics
# ---------------------------------------------------------------------------

# Embedded snapshot of the Public Suffix List (publicsuffix.org — the
# public, MPL-2.0 dataset every browser ships): the highest-traffic
# multi-label suffixes plus one wildcard/exception pair so all three rule
# kinds stay exercised. The FULL list (~9k rules) plugs in verbatim via
# the ``rules`` parameter of every function below — same format, one
# entry per line of the upstream file.
PSL_SNAPSHOT = (
    # ccTLD second-level registries (the hosts the last-two-labels
    # heuristic mis-groups: every *.co.uk site collapsed to 'co.uk')
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "sch.uk",
    "ltd.uk", "plc.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp",
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "co.in", "net.in", "org.in", "gen.in", "firm.in", "ind.in", "ac.in",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz",
    "co.za", "net.za", "org.za", "gov.za", "ac.za",
    "com.mx", "org.mx", "net.mx", "edu.mx", "gob.mx",
    "com.ar", "com.tr", "com.sg", "com.hk", "com.tw", "com.my",
    "com.ph", "com.vn", "com.eg", "com.sa", "com.pk", "com.bd",
    "co.kr", "or.kr", "ac.kr", "go.kr",
    "co.il", "org.il", "ac.il", "gov.il",
    "co.id", "or.id", "ac.id", "go.id", "web.id",
    "co.th", "or.th", "ac.th", "go.th",
    "com.ua", "org.ua", "net.ua", "edu.ua", "gov.ua",
    "org.ru", "net.ru", "com.ru",
    "co.ke", "or.ke", "com.ng", "com.gh",
    "com.co", "net.co", "org.co", "com.pe", "com.ve", "com.ec",
    "com.uy", "com.py", "com.bo", "com.do", "com.gt", "com.sv",
    # wildcard + exception rule kinds (verbatim PSL entries for .ck)
    "*.ck", "!www.ck",
)

def _lastk_re(k: int) -> str:
    """Regex capturing the last ``k`` dot-labels of a host — generated
    for ANY k (the full upstream PSL carries 5-label rules, so a fixed
    table would cap the rule depth)."""
    return r"((?:[^.]+\.){%d}[^.]+)$" % (k - 1)


def psl_plan(rules=None) -> list[tuple[int, tuple[str, ...], int]]:
    """Compile PSL rules to an ordered match plan shared by the Catalyst
    builder AND the DuckDB oracle generator: each clause is
    ``(match_label_count, suffixes, public_suffix_label_count)``,
    checked in order, first match wins; no match → the PSL default rule
    ``*`` (public suffix = the rightmost label).

    publicsuffix.org semantics: exception rules (``!www.ck``) prevail
    over everything and name a public suffix ONE label shorter than the
    rule; wildcard rules (``*.ck``) make every direct child of the
    parent a public suffix; otherwise the rule with the most labels
    wins — hence exceptions first, then (wildcard parents ∪ normal
    rules) ordered by effective rule label count descending.  The
    wildcard's "host must have a label under the parent" precondition
    is dropped deliberately: when it fails, both the wildcard clause
    and the default rule yield no registrable domain, so the results
    coincide (documented shortcut, property-tested)."""
    rules = PSL_SNAPSHOT if rules is None else rules
    exc: dict[int, list] = {}
    eff: dict[tuple[int, int], list] = {}     # (eff_labels, match_c) → sfx
    for r in rules:
        r = r.strip().lower()
        if not r or r.startswith("//"):
            continue
        if r.startswith("!"):
            body = r[1:]
            exc.setdefault(body.count(".") + 1, []).append(body)
        elif r.startswith("*."):
            parent = r[2:]
            c = parent.count(".") + 1
            eff.setdefault((c + 1, c), []).append(parent)
        else:
            c = r.count(".") + 1
            # 1-label normal rules match exactly what the default rule
            # yields — keeping them would only lengthen the IN lists
            if c > 1:
                eff.setdefault((c, c), []).append(r)
    plan = [(c, tuple(sorted(s)), c - 1)
            for c, s in sorted(exc.items(), reverse=True)]
    plan += [(match_c, tuple(sorted(s)), e)
             for (e, match_c), s in sorted(eff.items(), reverse=True)]
    return plan


def _last_labels(host: Column, k: int) -> Column:
    return F.regexp_extract(host, _lastk_re(k), 1)


def registrable_domain(col: Column, rules=None) -> Column:
    """Registrable (PSL "registered") domain of the URL's host, pure
    Catalyst: public-suffix label count via an ordered literal-IN match
    over the compiled plan, then the last ``ps + 1`` labels.  Hosts
    that ARE a public suffix (or shorter) yield ``''`` — same sentinel
    ``regexp_extract`` uses for a no-match, and identical in both
    engines.  Default rules = the embedded ``PSL_SNAPSHOT``; pass the
    full upstream list for production crawls (it compiles to longer IN
    lists, still one codegen'd expression)."""
    host = url_host(col)
    plan = psl_plan(rules)
    ps = F.lit(1)
    for match_c, sfxs, n in reversed(plan):
        ps = F.when(_last_labels(host, match_c).isin(*sfxs),
                    F.lit(n)).otherwise(ps)
    out = F.lit("")
    for n in sorted({n for _, _, n in plan} | {1}):
        out = F.when(ps == n, _last_labels(host, n + 1)).otherwise(out)
    return out


def psl_domain_sql(host_sql: str, rules=None) -> str:
    """DuckDB mirror of ``registrable_domain`` over an already-extracted
    host expression — generated from the SAME compiled plan, so an edit
    to the snapshot diverges loudly (oracle mismatch) instead of
    silently."""
    plan = psl_plan(rules)

    def lastk(k: int) -> str:
        return ("regexp_extract(%s, '((?:[^.]+\\.){%d}[^.]+)$', 1)"
                % (host_sql, k - 1))

    ps = "CASE " + " ".join(
        "WHEN %s IN (%s) THEN %d"
        % (lastk(c), ", ".join(f"'{s}'" for s in sfxs), n)
        for c, sfxs, n in plan) + " ELSE 1 END"
    return "CASE " + " ".join(
        f"WHEN ({ps}) = {n} THEN {lastk(n + 1)}"
        for n in sorted({n for _, _, n in plan} | {1})) + " ELSE '' END"


def resolve_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 over an already-extracted path: ``/./`` removal
    first (so ``/a/./../b`` resolves correctly), then ``DOT_DEPTH``
    passes of ``/seg/../`` popping (each global pass resolves one
    nesting level), then the end-of-path variants. Every pass is a
    constant-pattern ``regexp_replace`` mirrored verbatim in the DuckDB
    oracle."""
    c = path
    for _ in range(3):
        c = F.regexp_replace(c, r"/\./", "/")
    for _ in range(DOT_DEPTH):
        c = F.regexp_replace(c, f"/{DOT_SEG}/\\.\\./", "/")
        c = F.regexp_replace(c, f"/{DOT_SEG}/\\.\\.$", "/")
    c = F.regexp_replace(c, r"/\.$", "/")
    return F.when(path.rlike(r"/\.\.?(/|$)"), c).otherwise(path)


SESSION_ID_RE = r"(?i)[?&;](sid|sessionid|phpsessid|jsessionid)="


def url_spam_signals(col: Column) -> dict:
    """Crawl-frontier URL quality signals (public recipe: UbiCrawler /
    IRLbot-style spider-trap heuristics) — all pure Catalyst:

    - ``depth``: path segment count (calendar/faceted traps go deep),
    - ``n_params``: query parameter count,
    - ``digit_ratio``: digits / path length (IDs, dates, sessions),
    - ``has_session_id``: well-known session parameter present,
    - ``repeated_segment``: the path repeats with period 1 (``/b/b``
      stutter) or period 2 (the classic ``/a/b/a/b`` crawler loop) —
      segment ``i`` equals segment ``i+1`` or ``i+2``.
    """
    path = F.regexp_extract(col, PATH_RE, 1)
    query = F.regexp_extract(col, QUERY_RE, 1)
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    plen = F.length(path)
    digits = F.length(F.regexp_replace(path, r"[^0-9]", ""))
    pad = F.array(F.lit(""), F.lit(""))

    def _shift_match(k):
        # slice EXACTLY size(segs) so zip_with never pads with NULL
        # (a NULL comparison would turn exists() three-valued)
        shifted = F.slice(F.concat(segs, pad), 1 + k, F.size(segs))
        return F.exists(
            F.zip_with(segs, shifted,
                       lambda a, b: (a == b) & (a != "")),
            lambda x: x)

    # guard the degenerate paths (0/1 segments) where slice/zip_with
    # edge semantics would otherwise surface NULL
    rep = F.when(F.size(segs) >= 2,
                 _shift_match(1) | _shift_match(2)).otherwise(F.lit(False))
    return {
        "depth": F.size(segs),
        "n_params": F.when(query == "", F.lit(0)).otherwise(
            F.size(F.split(query, "&"))),
        "digit_ratio": F.round(
            F.when(plen > 0, digits.cast("double") / plen)
            .otherwise(F.lit(0.0)), 6),
        "has_session_id": col.rlike(SESSION_ID_RE),
        "repeated_segment": rep,
    }


def _canonical_query(col: Column) -> Column:
    q = F.regexp_extract(col, QUERY_RE, 1)
    parts = F.filter(
        F.split(q, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE))
    return F.array_join(F.sort_array(parts), "&")


def canonicalize_url(col: Column) -> Column:
    """Canonical form per the module rules; non-URL strings (no
    ``scheme://``) pass through unchanged."""
    raw = col
    col = percent_normalize(col)
    scheme = url_scheme(col)
    host = url_host(col)
    port = url_port(col)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")))
    path = F.regexp_extract(col, PATH_RE, 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = resolve_dot_segments(path)
    query = _canonical_query(col)
    canon = F.concat(
        scheme, F.lit("://"), host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )
    return F.when(scheme != "", canon).otherwise(raw)
