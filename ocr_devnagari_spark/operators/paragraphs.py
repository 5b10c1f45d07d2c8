"""Paragraph-level corpus operators — cross-document segment dedup and
eval-set decontamination.

Two public-recipe pipeline stages the document-level dedup family
(operators/dedup.py) cannot express:

- **Paragraph dedup** (CCNet, Wenzek et al. 2020; also C4's "three-
  sentence" rule): split every document into paragraphs, count each
  paragraph's occurrences ACROSS the corpus, drop the boilerplate
  (navigation, footers, cookie banners repeat on every page of a site)
  and reassemble the remaining text in order.
- **Decontamination** (GPT-3 appendix C / Dolma): flag training
  documents that share any word n-gram with a benchmark/eval set so
  they can be excluded before training.

Scale shape: both are explode → hash-keyed aggregation → join-back.
Paragraph counting shuffles on the paragraph hash (boilerplate creates
hot HASH KEYS but each group reduces to a single count via map-side
partial aggregation — no collected arrays, unlike LSH buckets, so a
paragraph repeated 10M times costs one long per partial).  Reassembly
groups by doc id (bounded by document size).  Decontamination joins
corpus grams against the eval gram set — the eval side is small by
definition and is broadcast when it fits (counted gate, the
plans/pipeline.py discipline).

No counterpart in the reference (an OCR orchestrator); these are
first-class members of the engine's web-corpus surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.repetition import word_ngrams
from ..gates import broadcast_if_small

PARA_SEP = "\n"


def paragraph_rows(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   sep: str = PARA_SEP,
                   carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """(id, *carry_cols, pos, para) — one row per paragraph, 0-based
    position.  ``carry_cols`` ride along per-id (small metadata like the
    host) so callers need no join-back against the — possibly
    expensive — input lineage to recover them.

    Paragraphs are the raw ``split(text, sep)`` segments — NOT trimmed,
    empties kept — so reassembly with the same separator is lossless
    and the boilerplate match is exact-byte (the CCNet choice is a
    hash of the *raw* paragraph too).  ``sep`` is a LITERAL string:
    ``F.split`` takes a Java regex, so it is escaped here (reassembly
    via ``array_join`` and the DuckDB oracle both treat it literally —
    an unescaped ``'|'`` or ``'.'`` would silently break the lossless
    split/rejoin invariant).
    """
    import re

    return df.select(
        F.col(id_col), *[F.col(c) for c in carry_cols],
        F.posexplode(F.split(F.col(text_col), re.escape(sep)))
        .alias("pos", "para"))


def paragraph_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", sep: str = PARA_SEP,
                    max_docs: int = 1, keep: str = "all",
                    carry_cols: tuple[str, ...] = (),
                    ) -> DataFrame:
    """Remove corpus-wide duplicate paragraphs and reassemble documents.

    ``keep`` selects the public recipe:

    - ``'all'`` (boilerplate removal): drop EVERY occurrence of a
      paragraph that appears in more than ``max_docs`` distinct
      documents.  A paragraph repeated within one document survives.
    - ``'first'`` (CCNet global dedup): keep only the globally first
      occurrence of each paragraph, ordered by ``(id, pos)``;
      ``max_docs`` is ignored.

    Returns ``(id_col, *carry_cols, text_col, n_paras, n_removed)`` for
    EVERY input document (a document whose paragraphs are all dropped
    comes back with ``text = ''``).  ``carry_cols`` are per-id metadata
    columns (e.g. the host) passed through unchanged — carrying them
    here is free (they ride the existing shuffles) where a caller-side
    join-back would re-run the input lineage a second time.
    Deterministic: both modes are pure functions of the corpus,
    mirrored 1:1 by the DuckDB oracle.
    """
    if keep not in ("all", "first"):
        raise ValueError("keep must be 'all' or 'first'")
    paras = paragraph_rows(df, id_col, text_col, sep, carry_cols)
    if keep == "first":
        # NOT a window over partitionBy(para): a boilerplate paragraph
        # repeated on 10M pages would funnel 10M rows into one window
        # task.  groupBy+min reduces each paragraph to ONE row via
        # map-side partial aggregation, then a join-back compares —
        # and a skewed join key is splittable by AQE's skew-join
        # handling, which windows never get.
        firsts = (paras
                  .groupBy("para")
                  .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                      F.col("pos").alias("p")))
                       .alias("_first")))
        marked = (paras.join(firsts, on="para")
                  .withColumn("_keep",
                              (F.col("_first.i") == F.col(id_col))
                              & (F.col("_first.p") == F.col("pos")))
                  .drop("_first"))
    else:
        per_para = (paras
                    .groupBy("para")
                    .agg(F.count_distinct(F.col(id_col)).alias("_df"))
                    .filter(F.col("_df") > max_docs)
                    .select("para"))
        # left-anti marks are a join; an explicit left join keeps the
        # kept/removed accounting in one pass
        marked = (paras.join(per_para.withColumn("_hot", F.lit(True)),
                             on="para", how="left")
                  .withColumn("_keep", F.col("_hot").isNull())
                  .drop("_hot"))
    rebuilt = (marked
               .groupBy(id_col)
               .agg(
                   *[F.first(F.col(c)).alias(c) for c in carry_cols],
                   F.array_join(
                       F.transform(
                           F.array_sort(F.collect_list(
                               F.when(F.col("_keep"),
                                      F.struct(F.col("pos"),
                                               F.col("para"))))),
                           lambda s: s["para"]),
                       sep).alias(text_col),
                   F.count(F.lit(1)).alias("n_paras"),
                   F.sum(F.when(~F.col("_keep"), 1).otherwise(0))
                   .cast("long").alias("n_removed")))
    return rebuilt


BLOOM_BITS_PER_GRAM = 16          # 2 probes at 16 bits/gram → FPR ≈ 1.4%
BLOOM_MIN_BITS = 1 << 16
# Cap the bitset at 2^28 bits = 4 Mi (word, bits) rows ≈ 64 MB payload —
# a relation every default-memory executor can hold.  Past ~16M distinct
# eval grams the filter stays AT the cap: correctness is unaffected (the
# exact join still removes every false positive), the FPR just grows
# smoothly, degrading the prefilter's savings instead of OOMing the
# broadcast the way an unbounded "worst case" cap would.
BLOOM_MAX_BITS = 1 << 28


def _bloom_positions(gram, m_bits: int):
    """Two double-hashing probe positions in [0, m_bits) for ``gram``.
    xxhash64 over (gram) and (gram, salt) are the two base hashes; the
    filter is Spark-internal (the exact join downstream restores exact
    semantics), so no cross-engine hash parity is needed."""
    return [F.pmod(F.xxhash64(gram), F.lit(m_bits)),
            F.pmod(F.xxhash64(gram, F.lit("bloom2")), F.lit(m_bits))]


def _bloom_bitset(grams: DataFrame, gram_col: str, m_bits: int) -> DataFrame:
    """(word_idx, bits) — the Bloom filter as 64-bit words, built with
    one explode + one ``bit_or`` aggregation (map-side partial: each
    partition contributes ≤ m_bits/64 rows regardless of gram count)."""
    pos = F.explode(F.array(*_bloom_positions(F.col(gram_col), m_bits)))
    return (grams.select(pos.alias("pos"))
            .select(F.floor(F.col("pos") / 64).alias("word_idx"),
                    # shiftleft's count must be a column here → SQL expr
                    F.expr("shiftleft(1L, int(pmod(pos, 64)))")
                    .alias("bit"))
            .groupBy("word_idx").agg(F.expr("bit_or(bit)").alias("bits")))


def _bloom_prefilter(doc_grams: DataFrame, eval_grams: DataFrame,
                     n_eval: int) -> DataFrame:
    """Shrink ``doc_grams`` to PROBABLE eval-gram matches before the
    exact join: no false negatives by Bloom construction, ~1-2% false
    positives which the downstream exact join removes — result
    semantics are unchanged, only the shuffled row volume drops.

    Scale shape: the raw eval gram STRINGS may exceed the broadcast
    budget (8-grams average >50 bytes each) while the bitset stays
    ``m/64`` longs — 16 bits/gram ≈ 2 bytes/gram, a 25×+ broadcast
    shrink — so the corpus-side explode is filtered with a broadcast
    join even when the gram strings themselves fall back to a shuffle."""
    m_bits = BLOOM_MIN_BITS
    while m_bits < min(BLOOM_MAX_BITS, n_eval * BLOOM_BITS_PER_GRAM):
        m_bits <<= 1
    bitset = F.broadcast(_bloom_bitset(eval_grams, "gram", m_bits))
    out = doc_grams
    for i, p in enumerate(_bloom_positions(F.col("gram"), m_bits)):
        w = f"_bw{i}"
        out = (out.withColumn("_pos", p)
               .withColumn(w, F.floor(F.col("_pos") / 64))
               .join(bitset.withColumnRenamed("word_idx", w)
                     .withColumnRenamed("bits", f"_bits{i}"),
                     on=w, how="inner")
               .filter(F.expr(
                   f"shiftright(_bits{i}, int(pmod(_pos, 64))) & 1 = 1"))
               .drop("_pos", w, f"_bits{i}"))
    return out


def ngram_contamination(docs: DataFrame, eval_df: DataFrame, n: int = 8,
                        id_col: str = "doc_id", text_col: str = "text",
                        eval_text_col: str = "text",
                        min_hits: int = 1,
                        prefilter: str | None = None) -> DataFrame:
    """Flag training documents sharing word ``n``-grams with an eval set.

    Returns ``(id_col, hits, contaminated)`` for every row of ``docs``
    — ``hits`` = number of DISTINCT eval n-grams the document contains,
    ``contaminated`` = ``hits >= min_hits``.

    The distinct eval gram set broadcasts when it is under
    ``gates.BROADCAST_ROWS`` rows (``gates.broadcast_if_small``, the gate
    of the exact-dedup keeper map).

    ``prefilter='bloom'`` inserts a broadcast Bloom-bitset membership
    test on the corpus gram explode before the exact join (see
    ``_bloom_prefilter``) — identical results, built for the regime
    where the eval set outgrows the string broadcast budget.
    """
    if prefilter not in (None, "bloom"):
        raise ValueError(f"unknown prefilter {prefilter!r}")
    eval_grams = (eval_df
                  .select(F.explode(
                      word_ngrams(F.col(eval_text_col), n)).alias("gram"))
                  .distinct())
    # counted gate WITHOUT persist: a persist here would leak cached
    # blocks for the session lifetime (the returned DF is lazy, so there
    # is no safe point to unpersist before the caller runs it).  The
    # eval set is small by definition, so re-running the explode+distinct
    # lineage once more in the final join is the cheaper trade in a
    # long-running pipeline.  The Bloom path sizes its bitset from the
    # exact count, which then also settles the gate with no second job.
    n_eval = eval_grams.count() if prefilter == "bloom" else None
    eval_grams = broadcast_if_small(eval_grams, bound=n_eval)
    doc_grams = (docs
                 .select(F.col(id_col),
                         F.explode(word_ngrams(F.col(text_col), n))
                         .alias("gram"))
                 .distinct())
    if prefilter == "bloom":
        doc_grams = _bloom_prefilter(doc_grams, eval_grams, max(n_eval, 1))
    hit_counts = (doc_grams
                  .join(eval_grams, on="gram", how="inner")
                  .groupBy(id_col)
                  .agg(F.count(F.lit(1)).alias("hits")))
    spine = docs.select(id_col)
    return (spine.join(hit_counts, on=id_col, how="left")
            .select(F.col(id_col),
                    F.coalesce(F.col("hits"), F.lit(0)).cast("long")
                    .alias("hits"),
                    (F.coalesce(F.col("hits"), F.lit(0)) >= min_hits)
                    .alias("contaminated")))
