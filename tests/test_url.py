"""URL canonicalization — rule-by-rule pins.  The Spark↔DuckDB oracle
agreement of the driver pair is ``tests/test_entry_contract.py``'s."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_devnagari_spark.functions.url import (
    canonicalize_url,
    registrable_domain,
    url_host,
)

CASES = [
    # (input, canonical)
    ("HTTP://WWW.Example.COM:80/a/1?utm_source=x&b=2&a=1#frag",
     "http://www.example.com/a/1?a=1&b=2"),
    ("https://News.site.org:443/p/", "https://news.site.org/p/"),
    ("https://user@Sub.Example.com/x", "https://sub.example.com/x"),
    ("http://example.com:8080/y?z=1&gclid=abc&y=2",
     "http://example.com:8080/y?y=2&z=1"),
    ("https://a.b", "https://a.b/"),                 # empty path → /
    ("https://a.b/?utm_campaign=c", "https://a.b/"),  # all params tracked
    ("not a url 7", "not a url 7"),                   # passthrough
    # a '?' INSIDE the fragment is fragment text, not a query (SPA
    # routes): both fragment and its pseudo-query must drop
    ("https://app.example.com/#/search?q=x", "https://app.example.com/"),
    # generic 'ref' is content-bearing — kept, unlike click ids
    ("https://x.example.com/p?ref=main&fbclid=z",
     "https://x.example.com/p?ref=main"),
]


def test_canonicalize_rules(spark):
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(CASES)],
                               "i int, u string")
    got = {r.i: r.c for r in df.select(
        "i", canonicalize_url(F.col("u")).alias("c")).collect()}
    for i, (u, want) in enumerate(CASES):
        assert got[i] == want, (u, got[i], want)


def test_canonical_collapses_trivial_variants(spark):
    variants = ["http://A.example.com/p?b=2&a=1",
                "HTTP://a.EXAMPLE.com:80/p?a=1&b=2",
                "http://a.example.com/p?a=1&utm_medium=m&b=2#x"]
    df = spark.createDataFrame([(u,) for u in variants], "u string")
    n = df.select(canonicalize_url(F.col("u")).alias("c")) \
        .distinct().count()
    assert n == 1


def test_host_and_domain(spark):
    df = spark.createDataFrame(
        [("https://user@A.B.Example.COM:8443/x",)], "u string")
    r = df.select(url_host(F.col("u")).alias("h"),
                  registrable_domain(F.col("u")).alias("d")).first()
    assert r.h == "a.b.example.com"
    assert r.d == "example.com"


PSL_PINS = [
    # (host, registrable domain) — publicsuffix.org semantics
    ("a.co.uk", "a.co.uk"),            # 2nd-level registry rule
    ("b.co.uk", "b.co.uk"),            # a.co.uk ≠ b.co.uk (no collapse)
    ("deep.sub.x.co.uk", "x.co.uk"),
    ("shop.com.au", "shop.com.au"),
    ("sub.example.com", "example.com"),   # default rule
    ("example.com", "example.com"),
    ("localhost", ""),                 # host IS (≤) a public suffix
    ("co.uk", ""),
    ("b.ck", ""),                      # wildcard *.ck: b.ck is a suffix
    ("a.b.ck", "a.b.ck"),
    ("www.ck", "www.ck"),              # exception !www.ck
    ("a.www.ck", "www.ck"),
    ("", ""),
]


def test_psl_rule_pins(spark):
    """Fixed-expectation pins for every PSL rule kind (normal 2-label,
    wildcard, exception, default) — NOT generated from psl_plan, so a
    compiler bug can't hide."""
    df = spark.createDataFrame(
        [(i, f"https://{h}/p" if h else "no url")
         for i, (h, _) in enumerate(PSL_PINS)], "i int, u string")
    got = {r.i: r.d for r in df.select(
        "i", registrable_domain(F.col("u")).alias("d")).collect()}
    for i, (h, want) in enumerate(PSL_PINS):
        assert got[i] == want, (h, got[i], want)


def test_psl_empty_plan_defaults(spark):
    """Rules that all collapse into the PSL default rule (1-label
    normal rules) compile to an empty plan — the default rule must then
    apply to every host."""
    df = spark.createDataFrame(
        [(0, "https://a.b.example.com/"), (1, "https://single/")],
        "i int, u string")
    got = {r.i: r.d for r in df.select("i", registrable_domain(
        F.col("u"), rules=["com", "org"]).alias("d")).collect()}
    assert got == {0: "example.com", 1: ""}


def test_psl_custom_rules_parameterized(spark):
    """The rules parameter swaps the snapshot for any PSL-format list
    (full upstream file / test policies) — comment lines ignored, and
    deep rules (the upstream list carries 5-label entries) work."""
    rules = ["// comment", "custom.zz", "*.wild", "!keep.wild",
             "s3.dualstack.eu-west-1.amazonaws.com"]
    df = spark.createDataFrame(
        [(0, "https://a.custom.zz/"), (1, "https://x.b.wild/"),
         (2, "https://keep.wild/"), (3, "https://plain.example/"),
         (4, "https://bkt.s3.dualstack.eu-west-1.amazonaws.com/")],
        "i int, u string")
    got = {r.i: r.d for r in df.select("i", registrable_domain(
        F.col("u"), rules=rules).alias("d")).collect()}
    assert got == {0: "a.custom.zz", 1: "x.b.wild", 2: "keep.wild",
                   3: "plain.example",
                   4: "bkt.s3.dualstack.eu-west-1.amazonaws.com"}


def test_percent_normalization_rules(spark):
    """Fixed-expectation pins for RFC 3986 escape normalization — these
    are NOT generated from shared constants, so a constant-level bug
    can't hide (the QUERY_RE fragment-leak lesson)."""
    from ocr_devnagari_spark.functions.url import (
        canonicalize_url,
        percent_normalize,
    )

    cases = [
        # unreserved decoded, any input hex case
        ("https://x.com/%7efoo", "https://x.com/~foo"),
        ("https://x.com/%7Efoo", "https://x.com/~foo"),
        ("https://x.com/%41%61%30%2D%2e%5F", "https://x.com/Aa0-._"),
        # reserved stays encoded, hex uppercased
        ("https://x.com/a%2fb?q=%3f", "https://x.com/a%2Fb?q=%3F"),
        ("https://x.com/%25%fa", "https://x.com/%25%FA"),
        # malformed escapes untouched
        ("https://x.com/%zz%a", "https://x.com/%zz%a"),
        # no '%' -> fast path, unchanged
        ("https://x.com/plain", "https://x.com/plain"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r.c for r in
           df.select(percent_normalize(F.col("u")).alias("c")).collect()]
    assert got == [w for _, w in cases]
    # and the equivalence the whole feature exists for:
    pair = spark.createDataFrame(
        [("https://x.com/%7efoo",), ("https://x.com/~foo",)], "u string")
    assert pair.select(canonicalize_url(F.col("u")).alias("c")) \
        .distinct().count() == 1


def test_dot_segment_resolution_rules(spark):
    """Fixed-expectation pins for RFC 3986 §5.2.4 dot-segment removal
    (bounded depth; leading /../ kept — documented)."""
    from ocr_devnagari_spark.functions.url import resolve_dot_segments

    cases = [
        ("/a/b/../c", "/a/c"),
        ("/a/./b/./c", "/a/b/c"),
        ("/a/b/c/../../d", "/a/d"),
        ("/a/./../b", "/b"),
        ("/a/b/..", "/a/"),
        ("/a/.", "/a/"),
        ("/.foo/../b", "/b"),
        ("/a/../../b", "/../b"),       # leading /../ kept (documented)
        ("/..", "/.."),
        ("/plain/path", "/plain/path"),
        ("/a.b/c.d", "/a.b/c.d"),      # dots inside segments untouched
    ]
    df = spark.createDataFrame([(pth,) for pth, _ in cases], "p string")
    got = [r.c for r in df.select(
        resolve_dot_segments(F.col("p")).alias("c")).collect()]
    assert got == [w for _, w in cases]
    # equivalence through the full canonicalizer
    pair = spark.createDataFrame(
        [("https://x.com/a/b/../c",), ("https://x.com/a/c",)], "u string")
    from ocr_devnagari_spark.functions.url import canonicalize_url
    assert pair.select(canonicalize_url(F.col("u")).alias("c")) \
        .distinct().count() == 1
