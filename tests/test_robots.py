"""Robots gating: meta-noindex predicate and robots.txt group parsing —
fixed-expectation pins (not generated from the shared constants, so a
constant-level bug can't hide)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_devnagari_spark.functions.robots import (
    crawl_delays,
    match_policy,
    meta_robots_noindex,
    parse_robots_policies,
    parse_robots_rules,
)


def test_meta_noindex_cases(spark):
    cases = [
        (1, '<head><meta name="robots" content="noindex"></head>', True),
        (2, "<META NAME='ROBOTS' CONTENT='NOINDEX, nofollow'>", True),
        # reversed attribute order
        (3, '<meta content="noindex" name=robots>', True),
        (4, '<meta name=robots content="noindex,nofollow">', True),
        # nofollow alone is not noindex
        (5, '<meta name="robots" content="nofollow">', False),
        # other meta names don't gate
        (6, '<meta name="description" content="noindex stuff">', False),
        # the word in body text is not a directive
        (7, "<body>please noindex this</body>", False),
        (8, "<head></head><body>x</body>", False),
        # multiline tag
        (9, '<meta name="robots"\n content="a, noindex">', True),
        # unquoted LONGER name must not prefix-match 'robots'
        (10, '<meta name=robotsmeta content="noindex">', False),
        (11, '<meta content="noindex" name=robotsmeta>', False),
        # name-only tag followed by 'content=noindex' in body text is
        # not a directive (the tag itself has no content attribute)
        (12, '<meta name=robots>content="noindex" as text', False),
        # no-space attribute boundary still matches
        (13, '<meta name="robots"content="noindex">', True),
    ]
    df = spark.createDataFrame([(i, h) for i, h, _ in cases],
                               "id long, html string")
    got = {r.id: r.ni for r in
           df.select("id", meta_robots_noindex(F.col("html"))
                     .alias("ni")).collect()}
    assert got == {i: want for i, _, want in cases}


ROBOTS = [
    ("h0", "User-agent: *\nDisallow: /private\nDisallow: /tmp\n"
           "Crawl-delay: 2"),
    # consecutive UA lines form ONE group; * among them applies
    ("h1", "User-agent: googlebot\nUser-agent: *\nDisallow: /admin"),
    # non-star group: its rules never apply to us
    ("h2", "User-agent: googlebot\nDisallow: /only-google"),
    # empty Disallow = allow-all marker, dropped; fractional delay
    ("h3", "# top comment\nUser-agent: *\nDisallow:\nCrawl-delay: 0.5"),
    # CRLF endings + trailing comment stripped
    ("h4", "User-agent: *\r\nDisallow: /a # trailing\r\n"),
    # two separate star groups accumulate; later non-star group ignored
    ("h5", "User-agent: *\nDisallow: /x\n\nUser-agent: bing\n"
           "Disallow: /bing-only\n\nUser-agent: *\nDisallow: /y"),
    ("h6", ""),
]


def _robots_df(spark):
    return spark.createDataFrame(ROBOTS, "host string, robots_txt string")


def test_parse_robots_rules(spark):
    got = {(r.host, r.prefix)
           for r in parse_robots_rules(_robots_df(spark)).collect()}
    assert got == {("h0", "/private"), ("h0", "/tmp"), ("h1", "/admin"),
                   ("h4", "/a"), ("h5", "/x"), ("h5", "/y")}


def test_crawl_delays(spark):
    got = {(r.host, r.crawl_delay)
           for r in crawl_delays(_robots_df(spark)).collect()}
    assert got == {("h0", 2.0), ("h3", 0.5)}


def test_match_disallowed_broadcast(spark):
    policies = parse_robots_policies(_robots_df(spark))
    urls = spark.createDataFrame(
        [(1, "h0", "/private/page"), (2, "h0", "/public/page"),
         (3, "h1", "/admin/x"), (4, "h2", "/only-google/x"),
         (5, "h4", "/about"), (6, "h9", "/anything")],
        "id long, host string, path string")
    out = match_policy(urls, policies)
    got = {r.id: r.disallowed for r in out.collect()}
    # h4 rule '/a' prefix-matches '/about' (documented: literal prefixes,
    # no path-segment awareness); h2's google-only rule never applies;
    # unknown host h9 is allowed
    assert got == {1: True, 2: False, 3: True, 4: False, 5: True,
                   6: False}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_allow_precedence_rfc9309(spark):
    """Longest matching rule wins; Allow beats Disallow on a length
    tie — fixed-expectation pins for match_policy."""
    from ocr_devnagari_spark.functions.robots import (
        match_policy,
        parse_robots_policies,
    )

    robots = spark.createDataFrame(
        [("hA", "User-agent: *\nDisallow: /private\nAllow: /private/open\n"
                "Disallow: /x\nAllow: /x\nAllow:")],
        "host string, robots_txt string")
    pol = parse_robots_policies(robots)
    got_rules = {(r.prefix, r.allow) for r in pol.collect()}
    # the empty Allow: is a no-op marker, dropped
    assert got_rules == {("/private", False), ("/private/open", True),
                         ("/x", False), ("/x", True)}
    urls = spark.createDataFrame(
        [(1, "hA", "/private/secret"),      # Disallow /private wins
         (2, "hA", "/private/open/f"),      # longer Allow wins
         (3, "hA", "/x/y"),                 # length tie -> Allow wins
         (4, "hA", "/private/op"),          # open-prefix doesn't match
         (5, "hA", "/free")],               # no rule matches
        "id long, host string, path string")
    got = {r.id: r.disallowed
           for r in match_policy(urls, pol).collect()}
    assert got == {1: True, 2: False, 3: False, 4: True, 5: False}


def test_wildcard_rules_rfc9309(spark):
    """'*' and end-anchor '$' in rule paths (RFC 9309 §2.2.3) — and
    regex metacharacters in rules stay literal."""
    from ocr_devnagari_spark.functions.robots import (
        match_policy,
        parse_robots_policies,
    )

    robots = spark.createDataFrame(
        [("hW", "User-agent: *\nDisallow: /*.json$\nDisallow: /tmp/*\n"
                "Disallow: /exact$\nDisallow: /a+b\nAllow: /tmp/ok")],
        "host string, robots_txt string")
    pol = parse_robots_policies(robots)
    urls = spark.createDataFrame(
        [(1, "hW", "/data/feed.json"),      # /*.json$ matches
         (2, "hW", "/data/feed.json5"),     # $ anchor: no match
         (3, "hW", "/tmp/file"),            # /tmp/* matches
         (4, "hW", "/tmp/ok/x"),            # Allow /tmp/ok longer raw? no:
         #                                    len('/tmp/ok')=7 vs '/tmp/*'=6
         (5, "hW", "/exact"),               # /exact$ matches exactly
         (6, "hW", "/exactly"),             # $ anchor: no match
         (7, "hW", "/a+b"),                 # '+' literal, matches
         (8, "hW", "/aab")],                # would match if + were regex
        "id long, host string, path string")
    got = {r.id: r.disallowed
           for r in match_policy(urls, pol).collect()}
    assert got == {1: True, 2: False, 3: True, 4: False, 5: True,
                   6: False, 7: True, 8: False}


def test_politeness_schedule(spark):
    """Offsets = position-within-host × host delay, default 1.0 for
    hosts with no Crawl-delay; deterministic path order."""
    from ocr_devnagari_spark.functions.robots import politeness_schedule

    delays = spark.createDataFrame([("h0", 2.0), ("h3", 0.5)],
                                   "host string, crawl_delay double")
    urls = spark.createDataFrame(
        [("h0", "/b"), ("h0", "/a"), ("h0", "/c"),
         ("h3", "/x"), ("h3", "/y"), ("h9", "/p"), ("h9", "/q")],
        "host string, path string")
    got = {(r.host, r.path): r.fetch_offset_sec
           for r in politeness_schedule(urls, delays).collect()}
    assert got == {("h0", "/a"): 0.0, ("h0", "/b"): 2.0,
                   ("h0", "/c"): 4.0,
                   ("h3", "/x"): 0.0, ("h3", "/y"): 0.5,
                   ("h9", "/p"): 0.0, ("h9", "/q"): 1.0}
