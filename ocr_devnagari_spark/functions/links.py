"""Link-graph operators — outlink extraction, host edges, PageRank.

The crawl-frontier complement to ``functions/url.py``/``robots.py``:
training pipelines weight documents by host authority (the
Common-Crawl-derived corpora all carry a PageRank-ish signal) and need
the outlink graph anyway for frontier expansion.

- ``extract_links(html)`` — href values from anchor tags, one regex
  (``regexp_extract_all``), no HTML parser needed for the crawl-graph
  use case (malformed pages just yield fewer links).
- ``host_edges(df)`` — (src_host, dst_host, n_links) host-graph edges:
  absolute http(s) and protocol-relative links resolve to their own
  host, relative links to the source host.
- ``pagerank(edges)`` — power iteration with the standard damped
  formula PR(v) = (1−d)/N + d·Σ PR(u)/outdeg(u) over in-neighbours.
  Dangling mass is DROPPED, not redistributed (documented choice: it
  keeps every iteration a pure join+groupBy both here and in the
  unrolled-SQL oracle; ranks then sum to < 1, which is fine for
  RANKING). Each iteration rounds to 6 decimals so the Spark and
  DuckDB fixpoints agree bit-for-bit despite float summation order.

Scale notes: the rank table is (host, double) — tiny next to the
corpus — and each iteration is one shuffle on dst plus a broadcastable
outdeg join. Iterative lineage is truncated per round via the shared
``gates.materialize`` (reliable checkpoints on clusters), the
``connected_components`` discipline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..gates import materialize
from .url import AUTHORITY_RE, strip_host

HREF_RE = r"(?i)<a\s[^>]*href\s*=\s*[\"']([^\"'<>\s]+)"

# sitemap.org protocol: <loc> children of <url>/<sitemap>; whitespace
# around the URL is explicitly allowed by the spec and trimmed here
SITEMAP_LOC_RE = r"(?is)<loc>\s*([^<\s]+)\s*</loc>"


def extract_links(html: Column) -> Column:
    """array<string> of href values from anchor tags."""
    return F.regexp_extract_all(html, F.lit(HREF_RE), 1)


def sitemap_locs(xml: Column) -> Column:
    """array<string> of ``<loc>`` URLs from a sitemap.org XML document
    (also matches sitemap-index files — their ``<sitemap><loc>`` shape
    uses the same element)."""
    return F.regexp_extract_all(xml, F.lit(SITEMAP_LOC_RE), 1)


def link_rows(df: DataFrame, url_col: str = "url",
              html_col: str = "html") -> DataFrame:
    """(url, href) — one row per outlink."""
    return df.select(F.col(url_col).alias("url"),
                     F.explode(extract_links(F.col(html_col)))
                     .alias("href"))


# href must be a real attribute: either directly after "<a " or preceded
# by whitespace/quote — "data-href"/"xhref" must not qualify.  RE2-safe
# (no lookarounds), so the DuckDB oracle runs the identical pattern.
ANCHOR_RE = (r"(?is)<a\s(?:[^>]*?[\s\"'])?href\s*=\s*"
             r"[\"']([^\"'<>\s]+)[\"'][^>]*>(.*?)</a>")

# an UNCLOSED inner <a (malformed HTML) makes the outer match's lazy
# body run through the next anchor's text up to its </a>; truncating the
# captured body at any embedded "<a" keeps that foreign text out of the
# anchor (the swallowed anchor's own row cannot be recovered by a
# lookaround-free pattern — documented limitation; HREF_RE/link_rows
# still sees its href, so the LINK is never lost, only its anchor text)
_INNER_A_RE = r"(?is)<a\s.*"


def anchor_rows(df: DataFrame, url_col: str = "url",
                html_col: str = "html") -> DataFrame:
    """(url, href, anchor) — one row per well-formed anchor tag, with
    its visible text (inner tags stripped, whitespace collapsed/
    trimmed, anything after an embedded unclosed ``<a`` dropped).

    Both capture groups come from the SAME regex matches, so the two
    ``regexp_extract_all`` arrays are index-aligned by construction and
    ``arrays_zip`` pairs them correctly.  NOTE: :data:`HREF_RE` /
    ``link_rows`` remains the source of truth for "is a link" — this
    stricter pattern requires a closing ``</a>`` and may yield fewer
    rows on malformed HTML.
    """
    html = F.col(html_col)
    pairs = F.arrays_zip(
        F.regexp_extract_all(html, F.lit(ANCHOR_RE), 1).alias("href"),
        F.regexp_extract_all(html, F.lit(ANCHOR_RE), 2).alias("raw"))
    return (df.select(F.col(url_col).alias("url"),
                      F.explode(pairs).alias("a"))
            .select("url", F.col("a.href").alias("href"),
                    F.trim(F.regexp_replace(
                        F.regexp_replace(
                            F.regexp_replace(F.col("a.raw"),
                                             _INNER_A_RE, ""),
                            r"<[^>]*>", " "),
                        r"\s+", " ")).alias("anchor")))


def anchor_term_stats(df: DataFrame, k: int = 3, url_col: str = "url",
                      html_col: str = "html",
                      src_host_col: str = "host") -> DataFrame:
    """Top-``k`` anchor terms per DESTINATION host — the classic
    link-text relevance signal (anchor text describes the *target*,
    not the source; public IR recipe, e.g. Craswell et al. 2001).

    Returns ``(dst_host, term, n)`` with ties broken by term order.
    One explode → one (host, term) groupBy → per-host top-k window over
    the aggregated (small) count table.
    """
    from pyspark.sql import Window
    anchors = anchor_rows(df, url_col=url_col, html_col=html_col)
    src = df.select(F.col(url_col).alias("url"),
                    F.col(src_host_col).alias("src_host"))
    terms = (anchors.join(src, "url")
             .select(_href_host(F.col("href"), F.col("src_host"))
                     .alias("dst_host"),
                     F.explode(F.split(F.lower("anchor"), r"\s+"))
                     .alias("term"))
             .filter(F.col("term") != ""))
    counts = (terms.groupBy("dst_host", "term")
              .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("dst_host").orderBy(F.col("n").desc(),
                                               F.col("term"))
    return (counts.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .select("dst_host", "term", "n"))


def _href_host(href: Column, src_host: Column) -> Column:
    """Destination host: absolute links carry their own (lowercased)
    authority, protocol-relative ``//host/…`` likewise, anything else
    (relative path, fragment, mailto-less shorthand) stays on the
    source host."""
    auth = F.regexp_extract(href, AUTHORITY_RE, 1)
    rel_auth = F.regexp_extract(href, r"^//([^/?#]*)", 1)
    return (F.when(auth != "", strip_host(auth))
            .when(rel_auth != "", strip_host(rel_auth))
            .otherwise(src_host))


def host_edges(df: DataFrame, src_host_col: str = "host",
               html_col: str = "html") -> DataFrame:
    """(src_host, dst_host, n_links) — aggregated host-graph edges,
    self-loops included (a site linking to itself is real signal for
    outdegree normalization; filter afterwards if unwanted)."""
    links = df.select(F.col(src_host_col).alias("src_host"),
                      F.explode(extract_links(F.col(html_col)))
                      .alias("href"))
    return (links
            .select("src_host",
                    _href_host(F.col("href"), F.col("src_host"))
                    .alias("dst_host"))
            .groupBy("src_host", "dst_host")
            .agg(F.count("*").alias("n_links")))


def pagerank(edges: DataFrame, iterations: int = 10,
             damping: float = 0.85, src_col: str = "src_host",
             dst_col: str = "dst_host") -> DataFrame:
    """(host, pr) after ``iterations`` rounds of damped power iteration
    over the DISTINCT edge set (parallel edges count once — PageRank is
    defined on the graph, not the multigraph), self-loops dropped.
    Nodes = union of sources and destinations; dangling nodes contribute
    nothing (mass dropped, see module docstring). Every iteration rounds pr to 6 decimals —
    that is what makes the result reproducible across engines and
    partitionings (float addition is not associative)."""
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst")).distinct()
    e = materialize(e.filter(F.col("src") != F.col("dst")))
    nodes = materialize(
        e.select(F.col("src").alias("host"))
        .union(e.select("dst")).distinct())
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pr", F.lit(0.0))
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("pr", F.round(F.lit(1.0 / n), 6))
    for _ in range(iterations):
        contrib = (e.join(outdeg, "src")
                   .join(ranks.withColumnRenamed("host", "src"), "src")
                   .select(F.col("dst").alias("host"),
                           (F.col("pr") / F.col("outdeg"))
                           .alias("c")))
        summed = contrib.groupBy("host").agg(F.sum("c").alias("s"))
        ranks = materialize(
            nodes.join(summed, "host", "left")
            .select("host",
                    F.round(F.lit(base)
                            + F.lit(damping) * F.coalesce("s", F.lit(0.0)),
                            6).alias("pr")))
    return ranks
