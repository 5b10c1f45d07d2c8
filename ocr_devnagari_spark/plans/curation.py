"""End-to-end corpus curation — the composition the individual text
operators exist for.

One declarative plan chaining the public web-corpus recipe:

1. **Quality gate** — Gopher document heuristics
   (``functions/text.gopher_pass``: word bounds, mean word length,
   symbol ratio).
2. **Repetition gate** — Gopher A1.1 n-gram repetition signals
   (``functions/repetition.gopher_repetition_pass``).
3. **Exact dedup** — keep the lowest-id document per distinct text
   (md5 grouping, window rank; the deterministic keeper rule the
   dedup module uses everywhere).
4. **Split assignment** — leakage-safe hash split on the host key
   (``functions/splits.split_assign``).

Everything stays one plan: the quality gate and split are codegen
expressions, the repetition gate an Arrow-batched per-row predicate,
dedup one hash-partitioned window.  Spark pipelines the whole thing — no
intermediate materialization, and every shuffle is keyed (doc id / text
hash), never all-pairs.  At 100 TB the plan is scan → narrow gates → one
window shuffle → final agg.

Gate order is part of the spec (gates BEFORE dedup: a boilerplate page
that fails quality can then never claim keeper-ship over a passing
duplicate; the DuckDB oracle mirrors the same order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.repetition import repetition_pass_expr
from ..functions.splits import split_assign
from ..functions.text import gopher_pass, token_count
from ..gates import broadcast_if_small, compact_input, materialize


def curate_docs(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", host_col: str = "host",
                weights: dict[str, float] | None = None,
                min_words: int = 40,
                blockterms: list[str] | None = None,
                pii_scrub: bool = False,
                para_max_docs: int | None = None) -> DataFrame:
    """Per-document curation verdicts: gated, deduped, split-assigned.

    Returns ``(id_col, split, n_tokens)`` for the SURVIVING documents
    only.  ``df`` must carry ``host_col`` (the leakage unit for the
    split).

    Optional stages complete the FineWeb/CCNet-style recipe, in the
    published order:

    1. Gates on the ORIGINAL text — Gopher quality, repetition, and
       (with ``blockterms``) the C4 blocklist.
    2. ``para_max_docs``: corpus-wide paragraph dedup (boilerplate
       removal) REWRITES the surviving text.
    3. ``pii_scrub``: PII redaction rewrites it again.
    4. Exact dedup runs on the FINAL text (post-rewrite — stripping
       boilerplate can make near-duplicate pages identical, which is
       exactly when dedup should catch them), lowest-id keeper.
    5. Host split + token count of the final text.

    Everything except the optional paragraph stage stays one Catalyst
    plan; the paragraph stage adds the explode→count→join-back pair of
    keyed shuffles documented in operators/paragraphs.py.
    """
    text = F.col(text_col)
    gate = (gopher_pass(text, min_words=min_words)
            & repetition_pass_expr(text))
    if blockterms:
        from ..functions.text import blocklist_pass
        gate = gate & blocklist_pass(text, blockterms)
    gated = df.filter(gate)
    if para_max_docs is not None:
        from ..operators.paragraphs import paragraph_dedup
        # host rides THROUGH the dedup (carry_cols) instead of a
        # join-back against `gated` — the join-back form consumed the
        # gate lineage twice, re-running the Arrow repetition pass
        # (the recipe's most expensive stage) over the whole corpus.
        # The paragraph stage still consumes this lineage twice (its
        # hot-paragraph aggregate and its probe side — the round-6
        # plan audit showed two ArrowEvalPython nodes over two scans),
        # so on a COMPACT input the gated (id, text, host) rows are
        # checkpointed once instead (guide §3.3: materialise an
        # intermediate consumed twice; measured 5.3 → 3.1 s at sf0.1).
        # Gated by ``compact_input`` — an eager corpus-sized checkpoint
        # at construction time is the wrong default at real scale;
        # there, either accept the second gate pass or write the gated
        # corpus to a table first (the ANN-index amortization pattern).
        gated = gated.select(id_col, text_col, host_col)
        if compact_input(df):
            gated = materialize(gated)
        rewritten = paragraph_dedup(
            gated, id_col=id_col,
            text_col=text_col, max_docs=para_max_docs,
            carry_cols=(host_col,))
        gated = rewritten.select(id_col, text_col, host_col)
    if pii_scrub:
        from ..functions.pii import redact_pii
        gated = gated.withColumn(text_col, redact_pii(text))
    w = Window.partitionBy(F.md5(text)).orderBy(F.col(id_col))
    deduped = (gated
               .withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") == 1))
    return deduped.select(
        F.col(id_col),
        split_assign(F.col(host_col), weights).alias("split"),
        token_count(text).cast("long").alias("n_tokens"))


def authority_weighted_mix(docs: DataFrame, edges: DataFrame,
                           tiers: list[tuple[float, float]] | None = None,
                           iterations: int = 10,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           host_col: str = "host") -> DataFrame:
    """Corpus mix weighted by host authority — the Common-Crawl-derived
    pipelines' recipe (CCNet/RefinedWeb keep more from high-PageRank
    hosts): PageRank over the host link graph → rank tiers → per-tier
    deterministic keep rates → per-tier doc/token totals.

    ``tiers`` = [(min_pr, keep_rate), ...] checked in order, first
    match wins; hosts below every threshold (or absent from the graph)
    get the last tier's rate.  Returns ``(tier, n_docs, total_tokens)``
    with tier = the matched index.

    Scale shape: the rank table is (host, double) — broadcast onto the
    corpus join; sampling is the splits hash wheel (pure codegen); the
    only corpus-sized shuffle is the final tier aggregate.
    """
    from ..functions.links import pagerank
    from ..functions.splits import WHEEL, hash_bucket

    tiers = tiers or [(0.05, 1.0), (0.01, 0.5), (-1.0, 0.1)]
    # materialize: consumed twice (gate count + join), and the lineage
    # is `iterations` chained joins — re-running it would double the
    # whole pagerank computation
    pr = materialize(pagerank(edges, iterations=iterations)
                     .withColumnRenamed("host", "_h"))
    # a real crawl's host table can run to hundreds of millions of rows
    # — forcing the broadcast there would blow the driver; past the
    # gate's limit the join falls back to a shuffle join on the host key.
    pr = broadcast_if_small(pr)
    joined = docs.join(pr, F.col(host_col) == F.col("_h"), "left")
    prv = F.coalesce(F.col("pr"), F.lit(0.0))
    tier = F.lit(len(tiers) - 1)
    rate = F.lit(int(round(tiers[-1][1] * WHEEL)))
    for i in range(len(tiers) - 2, -1, -1):
        cond = prv >= tiers[i][0]
        tier = F.when(cond, F.lit(i)).otherwise(tier)
        rate = F.when(cond, F.lit(int(round(tiers[i][1] * WHEEL)))
                      ).otherwise(rate)
    kept = joined.filter(hash_bucket(F.col(id_col), WHEEL) < rate)
    return (kept.select(tier.alias("tier"),
                        token_count(F.col(text_col)).alias("toks"))
            .groupBy("tier")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("toks").cast("long").alias("total_tokens")))


def curation_report(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", host_col: str = "host",
                    weights: dict[str, float] | None = None,
                    min_words: int = 40,
                    blockterms: list[str] | None = None,
                    pii_scrub: bool = False,
                    para_max_docs: int | None = None) -> DataFrame:
    """(split, n_docs, total_tokens) over the curated corpus — the
    training-mix summary a corpus build publishes.  Optional-stage
    parameters are forwarded to :func:`curate_docs`."""
    return (curate_docs(df, id_col=id_col, text_col=text_col,
                        host_col=host_col, weights=weights,
                        min_words=min_words,
                        blockterms=blockterms, pii_scrub=pii_scrub,
                        para_max_docs=para_max_docs)
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens")))
