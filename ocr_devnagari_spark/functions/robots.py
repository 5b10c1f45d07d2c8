"""Robots gating — meta-robots noindex detection and robots.txt rule
extraction, Catalyst-native (beyond-ref, like ``functions/url.py``: the
natural next crawl-pipeline surface after URL canonicalization).

A compliant training-data pipeline drops pages whose authors opted out:

- ``meta_robots_noindex(html)`` — page-level predicate over the raw HTML
  (``<meta name="robots" content="...noindex...">``, either attribute
  order, any case/quoting). Regex-only, so it is DuckDB-oracle-checkable
  like the URL family.
- ``parse_robots_rules(df)`` — robots.txt → (host, prefix) Disallow
  rows for the ``*`` user-agent, honouring GROUP semantics (RFC 9309
  §2.1: consecutive ``User-agent`` lines form one group; a group's
  rules apply if ANY of its agents is ``*``). Implemented with window
  functions (last-UA-run group ids), no per-row Python, and mirrored
  in SQL for the oracle.
- ``crawl_delays(df)`` — per-host politeness: ``Crawl-delay`` seconds
  for the ``*`` group (non-standard but ubiquitous; fractional allowed).
- ``match_policy(urls, policies)`` — URL × rule match via a broadcast
  join (the rules table is tiny next to a crawl frontier).

``Allow`` precedence is implemented per RFC 9309 §2.2.2: among all
rules whose prefix matches the URL path, the LONGEST wins; on a length
tie Allow beats Disallow (``parse_robots_policies`` +
``match_policy`` — the argmax is an integer ``2·len + is_allow`` max,
portable to the DuckDB oracle).

``match_policy`` supports the ``*`` and end-anchor ``$`` wildcards
(RFC 9309 §2.2.3, crawlers SHOULD implement them) by compiling each
rule row into an anchored regex COLUMN — regex specials escaped via a
constant replace chain, ``*`` → ``.*``, a trailing ``$`` anchors —
mirrored operation-for-operation in the SQL oracle. Rule "length" for
precedence is the raw rule string's length, wildcards included (the
RFC's octet count).

Documented simplification: agent-specific groups other than ``*`` are
ignored (a trainer's crawler should follow the generic group unless it
announces a product token).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# attribute order varies in the wild: name before content and the
# reverse both occur; (?is) = case-insensitive + dotall (Java and RE2
# agree on these inline flags, keeping the DuckDB oracle identical).
# 'robots' must be FOLLOWED by a terminator so an unquoted longer value
# (name=robotsmeta) can't prefix-match; the forward pattern's class
# excludes '>' (a tag that closes right after the name has no content
# attribute, and crossing '>' would match body text), while the reverse
# pattern — where nothing more is required — accepts '>' too.
META_NOINDEX_RE = (
    r"(?is)<meta\s[^>]*name\s*=\s*['\"]?robots['\"\s/][^>]*"
    r"content\s*=\s*['\"][^'\"]*noindex")
META_NOINDEX_REV_RE = (
    r"(?is)<meta\s[^>]*content\s*=\s*['\"][^'\"]*noindex[^'\"]*['\"]"
    r"[^>]*name\s*=\s*['\"]?robots['\"\s/>]")

UA_LINE_RE = r"(?i)^user-agent\s*:\s*(.*)$"
DISALLOW_LINE_RE = r"(?i)^disallow\s*:\s*(\S*)"
ALLOW_LINE_RE = r"(?i)^allow\s*:\s*(\S*)"
CRAWL_DELAY_LINE_RE = r"(?i)^crawl-delay\s*:\s*([0-9.]+)"
SITEMAP_LINE_RE = r"(?i)^sitemap\s*:\s*(\S+)"


def meta_robots_noindex(html: Column) -> Column:
    """TRUE when the page carries a robots-noindex meta tag."""
    return html.rlike(META_NOINDEX_RE) | html.rlike(META_NOINDEX_REV_RE)


def _robots_lines(df: DataFrame, host_col: str,
                  body_col: str) -> DataFrame:
    """(host, pos, line): split → strip ``#`` comments → trim. Kept as
    one narrow projection so both rule and delay extraction share it."""
    lines = F.split(F.col(body_col), r"\r?\n")
    return (df.select(F.col(host_col).alias("host"),
                      F.posexplode(lines).alias("pos", "raw"))
            .select("host", "pos",
                    F.trim(F.regexp_replace("raw", r"#.*$", ""))
                    .alias("line")))


def _star_groups(lines: DataFrame) -> DataFrame:
    """(host, pos, line, grp, star): group id = run index of consecutive
    User-agent lines (a new run starts a group, per RFC 9309 §2.1);
    ``star`` = the group names agent ``*``. Two window passes over
    (host, pos) — the shuffle carries only the robots corpus, which is
    ~1 small file per host."""
    w = Window.partitionBy("host").orderBy("pos")
    is_ua = F.col("line").rlike(UA_LINE_RE)
    ua_val = F.lower(F.trim(F.regexp_extract("line", UA_LINE_RE, 1)))
    with_grp = (lines
                .withColumn("_new", (is_ua & ~F.coalesce(
                    F.lag(is_ua).over(w), F.lit(False))).cast("int"))
                .withColumn("grp", F.sum("_new").over(w))
                .withColumn("_ua", F.when(is_ua, ua_val)))
    # star membership via a (host, grp)-partitioned window max — no
    # aggregate+join-back (that join sort-merged on a table that is
    # per-host unbounded in HOST count, so neither side broadcasts at
    # crawl scale); group sizes are robots-file lines, always small
    wg = Window.partitionBy("host", "grp")
    return (with_grp
            .withColumn("star", F.max(F.col("_ua") == "*").over(wg))
            .select("host", "pos", "line", "grp", "star"))


def parse_robots_rules(df: DataFrame, host_col: str = "host",
                       body_col: str = "robots_txt") -> DataFrame:
    """(host, prefix) Disallow rules for the ``*`` user-agent group(s).
    Empty Disallow values (allow-all markers) are dropped."""
    g = _star_groups(_robots_lines(df, host_col, body_col))
    prefix = F.regexp_extract("line", DISALLOW_LINE_RE, 1)
    return (g.filter(F.col("star")
                     & F.col("line").rlike(DISALLOW_LINE_RE))
            .select("host", prefix.alias("prefix"))
            .filter(F.col("prefix") != "")
            .distinct())


def parse_robots_policies(df: DataFrame, host_col: str = "host",
                          body_col: str = "robots_txt") -> DataFrame:
    """(host, prefix, allow) — Disallow AND Allow rules for the ``*``
    group(s); empty values (no-op markers) dropped in both kinds."""
    g = _star_groups(_robots_lines(df, host_col, body_col))
    is_allow = F.col("line").rlike(ALLOW_LINE_RE)
    prefix = F.when(is_allow,
                    F.regexp_extract("line", ALLOW_LINE_RE, 1)) \
        .otherwise(F.regexp_extract("line", DISALLOW_LINE_RE, 1))
    return (g.filter(F.col("star")
                     & (F.col("line").rlike(DISALLOW_LINE_RE) | is_allow))
            .select("host", prefix.alias("prefix"),
                    is_allow.alias("allow"))
            .filter(F.col("prefix") != "")
            .distinct())


# regex metacharacters escaped when compiling a rule into a pattern —
# backslash FIRST (escaping later chars introduces backslashes), '$' is
# escaped here because the trailing anchor is stripped beforehand, '*'
# is deliberately absent (it becomes '.*' afterwards)
RULE_ESCAPE_CHARS = ["\\", ".", "^", "$", "+", "?", "(", ")", "[", "]",
                     "{", "}", "|"]


def rule_regex(prefix: Column) -> Column:
    """robots rule path → anchored regex (as a COLUMN — rules are data
    rows, not plan constants): ``/p*.x$`` → ``^/p.*\\.x$``."""
    anchored = F.endswith(prefix, F.lit("$"))
    body = F.when(anchored,
                  prefix.substr(F.lit(1), F.length(prefix) - 1)) \
        .otherwise(prefix)
    for ch in RULE_ESCAPE_CHARS:
        body = F.replace(body, F.lit(ch), F.lit("\\" + ch))
    body = F.replace(body, F.lit("*"), F.lit(".*"))
    return F.concat(F.lit("^"), body,
                    F.when(anchored, F.lit("$")).otherwise(F.lit("")))


def match_policy(urls: DataFrame, policies: DataFrame,
                 host_col: str = "host",
                 path_col: str = "path") -> DataFrame:
    """urls + ``disallowed`` under RFC 9309 precedence: among matching
    rules the longest wins, Allow beating Disallow on a length tie.
    The argmax is ``max(2·len(rule) + is_allow)`` — a plain integer
    max, so the DuckDB oracle states the identical formula. Rules
    compile to anchored regexes (``rule_regex``) and match via
    RLIKE-with-column-pattern. The policies side is tiny (one
    robots.txt per host) → BROADCAST, so a 10^12-row frontier never
    shuffles; duplicate input rows are preserved 1:1."""
    tagged = _tag_rows(urls)
    r = policies.select(F.col("host").alias(host_col),
                        F.col("prefix").alias(_PFX),
                        F.col("allow").alias(_ALW))
    hit = F.rlike(F.col(path_col), rule_regex(F.col(_PFX)))
    score = F.when(F.col(_PFX).isNotNull() & hit,
                   F.length(_PFX) * 2 + F.col(_ALW).cast("int"))
    j = (tagged.join(F.broadcast(r), host_col, "left")
         .withColumn(_SCORE, score))
    return (j.groupBy(_RID, *urls.columns)
            .agg((F.max(_SCORE).isNotNull()
                  & (F.max(_SCORE) % 2 == 0)).alias("disallowed"))
            .drop(_RID))


def politeness_schedule(urls: DataFrame, delays: DataFrame,
                        host_col: str = "host",
                        path_col: str = "path",
                        default_delay: float = 1.0) -> DataFrame:
    """urls + ``fetch_offset_sec``: the earliest polite fetch time per
    URL relative to its host's first request — position within the host
    (deterministic ``path`` order) × the host's Crawl-delay
    (``default_delay`` where the host sets none). One window over
    (host, path) plus a broadcast join of the tiny delays table: the
    planner's answer to 'schedule a 10^12-row frontier without
    hammering any host', and the composition target for
    ``crawl_delays`` + ``frontier_expand``."""
    w = Window.partitionBy(host_col).orderBy(path_col)
    d = delays.select(F.col("host").alias(host_col), "crawl_delay")
    return (urls.join(F.broadcast(d), host_col, "left")
            .withColumn(
                "fetch_offset_sec",
                F.round((F.row_number().over(w) - 1)
                        * F.coalesce("crawl_delay",
                                     F.lit(float(default_delay))), 6))
            .drop("crawl_delay"))


def crawl_delays(df: DataFrame, host_col: str = "host",
                 body_col: str = "robots_txt") -> DataFrame:
    """(host, crawl_delay): seconds for the ``*`` group; hosts that set
    several take the MAX (the polite reading)."""
    g = _star_groups(_robots_lines(df, host_col, body_col))
    delay = F.regexp_extract("line", CRAWL_DELAY_LINE_RE, 1)
    return (g.filter(F.col("star")
                     & F.col("line").rlike(CRAWL_DELAY_LINE_RE))
            .select("host", delay.cast("double").alias("crawl_delay"))
            .groupBy("host")
            .agg(F.max("crawl_delay").alias("crawl_delay")))


def sitemap_urls(df: DataFrame, host_col: str = "host",
                 body_col: str = "robots_txt") -> DataFrame:
    """(host, sitemap_url): ``Sitemap:`` lines.  Per RFC 9309 §2.3 /
    sitemaps.org, the directive is GLOBAL — it applies regardless of
    the user-agent group it appears inside — so this reads every line,
    not just ``*`` groups.  Distinct per (host, url); composes with
    ``links.sitemap_locs`` for frontier seeding."""
    lines = _robots_lines(df, host_col, body_col)
    url = F.regexp_extract("line", SITEMAP_LINE_RE, 1)
    return (lines.filter(F.col("line").rlike(SITEMAP_LINE_RE))
            .select("host", url.alias("sitemap_url"))
            .distinct())


_RID = "__robots_rid"          # reserved internal names — prefixed so a
_PFX = "__robots_prefix"       # frontier column can't collide with them
_ALW = "__robots_allow"
_SCORE = "__robots_score"


def _tag_rows(urls: DataFrame) -> DataFrame:
    """Attach a per-row nonce so the regroup after the rules join
    preserves DUPLICATE url rows (a re-crawl frontier legitimately
    carries the same (host, path) twice; grouping on the visible
    columns alone would silently collapse them). Rejects ALL reserved
    internal names — a clash with the score/prefix columns would
    corrupt the argmax silently, not just the row identity."""
    clash = {_RID, _PFX, _ALW, _SCORE} & set(urls.columns)
    if clash:
        raise ValueError(
            f"reserved column name(s) {sorted(clash)} in input")
    return urls.withColumn(_RID, F.monotonically_increasing_id())
