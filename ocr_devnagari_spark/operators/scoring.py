"""Model-based corpus scoring — classifier application and importance
weighting for training-data curation.

Two published recipe stages the heuristic gates (Gopher/C4) cannot
express:

- **Linear quality classifier** (fastText-style, the FineWeb-Edu /
  DCLM filtering construction): a trained bag-of-words linear model is
  just a (term, weight) table — applying it at corpus scale is
  tokenize → join the weight table → per-document sum → sigmoid.  The
  model table is broadcast when it fits (counted gate); the corpus side
  never shuffles anything but (id, term) pairs.
- **DSIR importance weighting** (Xie et al. 2023, "Data Selection for
  Language Models via Importance Resampling"): documents are scored by
  how much more likely their hashed n-gram profile is under a TARGET
  distribution (e.g. Wikipedia/books) than under the RAW crawl
  distribution — ``w(doc) = Σ_gram log(p_target(h(gram)) /
  p_raw(h(gram)))`` over hashed n-gram buckets with add-α smoothing.
  Both distributions are tiny (``n_buckets`` rows) aggregates; the
  log-ratio map is broadcast to an Arrow pass over the corpus.

Scale shape: the models/distributions are small by construction (10^4-
10^6 rows).  The linear classifier's corpus side is explode →
broadcast-join → per-id sum — one keyed shuffle, no corpus-sized
collect.  DSIR/LM count and score in Arrow-batched passes against a
broadcast bucket map — no per-gram rows, zero shuffles when scoring.
Cross-engine parity: gram hashing rides the shared 32-bit md5 wheel
(functions/splits.py) and per-bucket log-ratios are quantized to
INTEGER micro-units (1e-6) before the per-document sum, so the sum is
exact integer arithmetic — identical on any engine, partitioning, or
addition order — and the emitted weight is one deterministic division.
(Rounding a FLOAT sum of 6-d.p. decimal addends to 4 d.p. ties on the
…50 half boundary for ~1/100 documents, and float accumulation order
breaks such ties differently per engine — measured, not hypothetical.)

No counterpart in the reference (an OCR orchestrator); part of the
engine's web-corpus surface.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..gates import broadcast_if_small

log = logging.getLogger(__name__)

TOKEN_SEP = r"\s+"


def _tokens(text_col: str):
    """Lowercased whitespace tokens WITH multiplicity — the bag-of-words
    feature map (mirrored by ``string_split_regex(lower(..), '\\s+')``
    in the oracle)."""
    return F.split(F.lower(F.col(text_col)), TOKEN_SEP)


def linear_quality_score(df: DataFrame, weights, bias: float = 0.0,
                         id_col: str = "doc_id", text_col: str = "text",
                         threshold: float = 0.5) -> DataFrame:
    """Apply a bag-of-words linear classifier to every document.

    ``weights`` is the trained model: a ``(term string, w double)``
    DataFrame or a ``[(term, w), ...]`` list.  Tokens are lowercased
    whitespace splits, counted WITH multiplicity (the fastText bag).

    Returns ``(id_col, n_hits, score, keep)`` for EVERY input document:
    ``n_hits`` = number of token occurrences that matched a model term,
    ``score = sigmoid(bias + Σ w)`` rounded to 6 d.p., ``keep = score
    >= threshold`` (the FineWeb-Edu-style filter verdict).

    The model table broadcasts under ``gates.BROADCAST_ROWS`` rows; real
    vocabularies are 10^4-10^6 terms, so the broadcast path is the norm
    — past the limit the join falls back to a shuffle join on the term.

    Malformed ids: one row per DISTINCT ``id_col`` comes out.  Rows
    sharing an id aggregate into one (their tokens pool into one bag),
    and all NULL-id rows group into a single NULL-id row.  This differs
    from :func:`dsir_weights`/:func:`lm_cross_entropy`, which score
    row by row.
    """
    bound = None
    if not isinstance(weights, DataFrame):
        weights = list(weights)
        # local model list: the row count is known driver-side, so the
        # gate needs NO Spark job
        bound = len(weights)
        weights = df.sparkSession.createDataFrame(
            weights, "term string, w double")
    weights = broadcast_if_small(weights, bound=bound)
    # LEFT join the model onto the exploded tokens and aggregate ALL
    # documents in the one doc-keyed aggregation (count(w)/sum(w) skip
    # the NULL non-matches) instead of inner-join + left join-back onto
    # a doc_id spine: that spine shape cost a second scan, a second
    # doc_id exchange and a sort-merge join.  Per-doc partial (map-side)
    # aggregation keeps the exchange at one row per document either
    # way, so nothing extra shuffles at scale.  explode_outer keeps
    # NULL-text documents in the frame (split(NULL) explodes to no
    # rows), preserving the every-input-document contract.
    toks = df.select(F.col(id_col),
                     F.explode_outer(_tokens(text_col)).alias("term"))
    # the _m marker (not w) counts matches so a NULL model weight still
    # counts as a hit, exactly like the inner-join form did
    sums = (toks.join(weights.withColumn("_m", F.lit(1)),
                      on="term", how="left")
            .groupBy(id_col)
            .agg(F.count("_m").alias("n_hits"),
                 F.sum("w").alias("_s")))
    raw = F.lit(float(bias)) + F.coalesce(F.col("_s"), F.lit(0.0))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-raw)), 6)
    return sums.select(F.col(id_col),
                       F.col("n_hits").cast("long").alias("n_hits"),
                       score.alias("score"),
                       (score >= threshold).alias("keep"))


def _check_model_params(n_buckets: int, alpha: float) -> None:
    if not 1 <= n_buckets <= 16_777_216:
        # the model is a driver-side dict and must broadcast;
        # 2^24 buckets ≈ 400 MB of entries is already past sensible —
        # DSIR/CCNet papers use 10^4-10^6
        raise ValueError("n_buckets must be in [1, 2^24]")
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (smoothing)")


# per-process memo for the md5 wheel: corpus grams repeat heavily (a
# Zipf vocabulary), and one md5 costs ~10× a dict hit (measured 4× on
# the sf0.1 gram stream).  Values are exact — the cache only skips
# RECOMPUTING the same hash — and the size cap bounds worker memory on
# adversarial high-cardinality streams (reset, not LRU: O(1), and a
# refill is still ~cache_size cheap hits ahead of no cache at all).
_BUCKET_MEMO_CAP = 1_000_000


def _bucket_memo(n_buckets: int):
    """A memoized (gram → bucket) lookup bound to ``n_buckets`` — the
    Python mirror of ``functions/splits.hash_bucket``
    (``int(md5(utf8)[:8 hex], 16) % n_buckets``, the shared 32-bit md5
    wheel), so the Arrow stages agree with the DuckDB oracle."""
    import hashlib
    cache: dict = {}

    def bucket(g: str) -> int:
        b = cache.get(g)
        if b is None:
            if len(cache) >= _BUCKET_MEMO_CAP:
                cache.clear()
            cache[g] = b = int(
                hashlib.md5(g.encode()).hexdigest()[:8], 16) % n_buckets
        return b

    return bucket


def _tagged_bucket_counts(sides: list, n: int, n_buckets: int,
                          text_col: str) -> DataFrame:
    """(_side, bucket, c) hashed-n-gram counts over ``sides`` =
    ``[(tag, DataFrame), ...]`` — ONE Spark job however many corpora,
    the single implementation behind ``_bucket_counts`` (one side) and
    ``_bucket_counts_pair`` (two): counting logic exists exactly once,
    so a tokenization/NULL-handling change can never desynchronize the
    paired DSIR counts from the single-corpus LM counts.

    Each Arrow batch pre-aggregates into a Counter and ships ≤ sides ×
    ``n_buckets`` partial rows — no per-gram row ever exists, and the
    uncodegen'd gram-building lambda HOF (the repetition family's
    measured bottleneck) never runs."""
    tagged = None
    for tag, df in sides:
        part = df.select(F.lit(int(tag)).alias("_side"), F.col(text_col))
        tagged = part if tagged is None else tagged.unionByName(part)

    def run(batches):
        from collections import Counter

        import pandas as pd
        bucket = _bucket_memo(n_buckets)
        for pdf in batches:
            c: Counter = Counter()
            for side, text in zip(pdf["_side"], pdf[text_col]):
                if text is None:
                    continue
                ws = text.split(" ")
                for i in range(len(ws) - n + 1):
                    c[(side, bucket(" ".join(ws[i:i + n])))] += 1
            yield pd.DataFrame(
                {"_side": [k[0] for k in c],
                 "bucket": [k[1] for k in c],
                 "c": list(c.values())})

    return (tagged.mapInPandas(run, "_side int, bucket long, c long")
            .groupBy("_side", "bucket")
            .agg(F.sum("c").alias("c")))


def _bucket_counts(df: DataFrame, n: int, n_buckets: int,
                   text_col: str) -> DataFrame:
    """(bucket, c) hashed-n-gram counts for one corpus — see
    ``_tagged_bucket_counts`` for the shared implementation and its
    scale shape."""
    return (_tagged_bucket_counts([(0, df)], n, n_buckets, text_col)
            .select("bucket", "c"))


def _bucket_counts_pair(a: DataFrame, b: DataFrame, n: int,
                        n_buckets: int, text_col: str
                        ) -> tuple[dict, dict]:
    """Bucket-count maps for TWO corpora in ONE Spark job — halves the
    job/collect round trips of the sequential two-pass model build (the
    DSIR ratio needs both distributions anyway).  Exactly the same
    per-side counts as two ``_bucket_counts`` runs (same shared
    implementation)."""
    counts = _tagged_bucket_counts([(0, a), (1, b)], n, n_buckets,
                                   text_col).collect()
    amap = {r["bucket"]: r["c"] for r in counts if r["_side"] == 0}
    bmap = {r["bucket"]: r["c"] for r in counts if r["_side"] == 1}
    return amap, bmap


def _micro6(x: float) -> int:
    """HALF_UP micro-units (1e-6) via the decimal repr (Spark's
    BigDecimal rounding); the oracle's ``round(x * 1e6)`` agrees except
    within one ulp of a half boundary, which ln outputs never land on —
    Python's ``round()`` is banker's and is NOT used."""
    from decimal import ROUND_HALF_UP, Decimal
    return int(Decimal(repr(x)).scaleb(6).quantize(
        Decimal(1), rounding=ROUND_HALF_UP))


def _dsir_micro_map(target: DataFrame, raw: DataFrame, n: int,
                    n_buckets: int, alpha: float, text_col: str) -> dict:
    """{bucket → logratio_micro} — the DSIR importance model: add-α-
    smoothed hashed-n-gram distributions of the TARGET and RAW corpora,
    ``ln(p_target) - ln(p_raw)`` quantized HALF_UP to integer
    micro-units (1e-6).  Exactly ``n_buckets`` entries (a bucket no
    gram hashed into still carries its smoothed ratio), computed with
    ONE Spark job (the tagged-union pair count) of per-batch partial
    histograms."""
    import math

    # totals ride the same tiny aggregates — no extra corpus pass
    tmap, rmap = _bucket_counts_pair(target, raw, n, n_buckets, text_col)
    nt = sum(tmap.values())
    nr = sum(rmap.values())
    denom_t = nt + alpha * n_buckets
    denom_r = nr + alpha * n_buckets
    return {b: _micro6(math.log((tmap.get(b, 0) + alpha) / denom_t)
                       - math.log((rmap.get(b, 0) + alpha) / denom_r))
            for b in range(n_buckets)}


def _apply_bucket_model(docs: DataFrame, model: dict, n: int,
                        n_buckets: int, id_col: str, text_col: str):
    """Shared Arrow application of a tiny (bucket → integer-micro)
    model: the ``{bucket: micro}`` dict, built driver-side with
    ``n_buckets`` entries, ships as a Spark broadcast variable, and each
    document scores in ONE narrow Arrow pass — ``(id, n_grams,
    micro_sum)`` with exact Python-int accumulation, ZERO shuffles and
    no per-gram rows.  Each input row yields exactly one output row —
    ids are carried through, never grouped."""
    from pyspark.sql import types as T
    bc = docs.sparkSession.sparkContext.broadcast(model)
    id_type = docs.schema[id_col].dataType
    schema = T.StructType([
        T.StructField(id_col, id_type, True),
        T.StructField("n_grams", T.LongType(), False),
        T.StructField("_ms", T.LongType(), False),
    ])

    def run(batches):
        import pandas as pd
        m = bc.value
        bucket = _bucket_memo(n_buckets)
        for pdf in batches:
            ids, ngs, mss = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                cnt, s = 0, 0
                if text is not None:
                    ws = text.split(" ")
                    for i in range(len(ws) - n + 1):
                        cnt += 1
                        s += m[bucket(" ".join(ws[i:i + n]))]
                ids.append(did)
                ngs.append(cnt)
                mss.append(s)
            yield pd.DataFrame({id_col: ids, "n_grams": ngs, "_ms": mss})

    return docs.select(id_col, text_col).mapInPandas(run, schema)


def dsir_weights(docs: DataFrame, target: DataFrame, n: int = 2,
                 n_buckets: int = 4096, alpha: float = 1.0,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document DSIR importance weight over ``docs`` (the RAW
    corpus) against ``target``.

    Returns ``(id_col, n_grams, weight)`` for EVERY document of
    ``docs``: ``weight = (Σ_gram logratio_micro(bucket(gram))) / 1e6``
    with gram multiplicity — an EXACT integer sum followed by one
    division, so the double is bit-identical on any engine or addition
    order (a document with no n-grams weighs 0.0 — the empty-product
    convention).  Resampling keeps the highest-weight documents (or
    samples ∝ exp(weight)); compose with ``functions/splits.py`` for
    the deterministic keep.

    The model (``_dsir_micro_map``) is ``n_buckets`` entries built
    driver-side, and each document scores in one narrow Arrow pass
    against the broadcast ratio map — zero shuffles, no per-gram rows
    (measured ~2× an explode→broadcast-join→sum plan at sf0.1, model
    build included).

    Malformed ids: ONE ROW PER INPUT ROW comes out — ids are carried
    through, not grouped.  Rows sharing an id each keep their own
    weight, and every NULL-id row keeps its own row.  This differs from
    :func:`linear_quality_score`, which groups by id."""
    _check_model_params(n_buckets, alpha)
    ratios = _dsir_micro_map(target, docs, n, n_buckets, alpha, text_col)
    scored = _apply_bucket_model(docs, ratios, n, n_buckets, id_col,
                                 text_col)
    return scored.select(
        F.col(id_col), F.col("n_grams"),
        (F.col("_ms").cast("double") / F.lit(1000000.0)).alias("weight"))


def _lm_micro_map(target: DataFrame, n: int, n_buckets: int,
                  alpha: float, text_col: str) -> dict:
    """{bucket → logprob_micro} — a hashed-n-gram language model
    trained on the TARGET corpus (the CCNet construction, Wenzek et al.
    2020, with hashed buckets standing in for the KenLM vocabulary):
    add-α-smoothed bucket probability ``p(b) = (c(b) + α) / (N +
    α·n_buckets)``, ``ln p`` quantized HALF_UP to integer micro-units.
    Exactly ``n_buckets`` entries from one counting job of per-batch
    partial histograms."""
    import math
    tc = _bucket_counts(target, n, n_buckets, text_col).collect()
    nt = sum(r["c"] for r in tc)
    tmap = {r["bucket"]: r["c"] for r in tc}
    denom = nt + alpha * n_buckets
    return {b: _micro6(math.log((tmap.get(b, 0) + alpha) / denom))
            for b in range(n_buckets)}


def lm_cross_entropy(docs: DataFrame, target: DataFrame, n: int = 1,
                     n_buckets: int = 4096, alpha: float = 1.0,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-document cross-entropy under the target LM — the CCNet
    perplexity filter (perplexity = ``exp(cross_entropy)`` is monotone
    in it, so the tier thresholds translate directly).

    Returns ``(id_col, n_grams, cross_entropy)`` for EVERY document:
    ``cross_entropy = -((Σ_gram logprob_micro) / 1e6) / n_grams`` with
    gram multiplicity — exact integer sum, two deterministic divisions,
    bit-identical on any engine or addition order.  Documents with no
    n-grams get NULL (undefined; route them with an explicit policy —
    CCNet's tail).  Lower is better (closer to the target corpus);
    compose with :func:`ccnet_tier` for head/middle/tail routing.

    Scores in one narrow Arrow pass against the broadcast logprob map
    (``_lm_micro_map``; zero shuffles — the ``dsir_weights``
    construction).

    Malformed ids: ONE ROW PER INPUT ROW, exactly as
    :func:`dsir_weights` — duplicate and NULL ids are carried through,
    not grouped."""
    _check_model_params(n_buckets, alpha)
    logprobs = _lm_micro_map(target, n, n_buckets, alpha, text_col)
    scored = _apply_bucket_model(docs, logprobs, n, n_buckets, id_col,
                                 text_col)
    ce = (-(F.col("_ms").cast("double") / F.lit(1000000.0))
          / F.col("n_grams").cast("double"))
    return scored.select(
        F.col(id_col), F.col("n_grams"),
        F.when(F.col("n_grams") > 0, ce).alias("cross_entropy"))


def ccnet_tier(ce, head_max: float, middle_max: float):
    """head/middle/tail tier column from a cross-entropy column — the
    CCNet quality routing (head = closest to the target LM).  NULL
    cross-entropy (no n-grams) routes to 'tail'.  CCNet derives the two
    cutpoints as corpus-level perplexity terciles — compute them
    upstream with ``approxQuantile`` (scale path) or pin constants for
    reproducible runs (the driver-gate discipline)."""
    if not head_max <= middle_max:
        raise ValueError("head_max must be <= middle_max")
    return (F.when(ce.isNull(), F.lit("tail"))
            .when(ce <= head_max, F.lit("head"))
            .when(ce <= middle_max, F.lit("middle"))
            .otherwise(F.lit("tail")))
