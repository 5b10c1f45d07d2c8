"""ExactSubstr deduplication — corpus-wide duplicated-substring removal
(Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better", the ExactSubstr variant).

A token is removed iff it is covered by some ``min_len``-token window
whose content occurs at least twice in the corpus (counting every
occurrence, including within one document).  Like the paper, ALL copies
of a duplicated substring are removed — there is no keeper; the
remaining text is the unique complement.  The reference implementation
is a single-node suffix array over the concatenated corpus; the
Spark-first re-expression is rolling windows → duplicate-hash buckets →
interval subtraction:

1. every document explodes to its ``min_len``-token rolling windows
   (one row per window, keyed by a 128-bit content hash —
   collision-negligible; Arrow-batched 16-byte BLAKE2b);
2. one groupBy finds window contents occurring ≥ 2 times;
3. duplicated-window occurrences come back per document as the SORTED
   SET OF WINDOW STARTS (collect_set(p) — never the exploded covered
   indices, which would carry ``min_len``× the shuffle volume);
4. one corpus equi-join attaches the starts and an Arrow-batched
   rebuild subtracts the covered intervals from the token stream.

Scale shape: two keyed shuffles (window-hash groupBy reusing its own
exchange for the dup-join probe, then the per-doc starts groupBy) plus
one corpus equi-join — all equi-keyed, AQE-splittable; no all-pairs
comparison and no corpus-sized driver state anywhere.  The suffix-array
approach cannot shard without cross-boundary windows; rolling windows
shard trivially (this is also how the paper's distributed follow-ups,
e.g. deduped CC pipelines, implement it).

No counterpart in the reference (an OCR orchestrator); part of the
engine's web-corpus surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..gates import compact_input, materialize


def _py_rebuild(text, starts, min_len: int):
    """One document's (n_tokens, n_removed, text_clean) from the sorted
    duplicated-window starts — difference-array interval subtraction,
    O(tokens + starts) regardless of overlap (a fully-duplicated
    document costs one linear pass, not tokens × covered)."""
    if text is None:
        return (None, None, None)
    ws = text.split(" ")
    n = len(ws)
    if starts is None or len(starts) == 0:
        return (n, 0, text)
    diff = [0] * (n + 1)
    for s in starts:
        diff[s] += 1
        diff[min(s + min_len, n)] -= 1
    kept, run = [], 0
    for i, w in enumerate(ws):
        run += diff[i]
        if run == 0:
            kept.append(w)
    return (n, n - len(kept), " ".join(kept))


def _rebuild_udf(min_len: int):
    """Arrow-batched rebuild UDF — same rationale as the repetition
    family (functions/repetition.py:_signals_udf): Spark evaluates
    lambda higher-order functions per element WITHOUT codegen, so a
    difference-array pass over Arrow batches beats the Catalyst filter
    path, and is linear where array_contains-per-token is quadratic."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def fn(text_s, starts_s):
        # hint-less on purpose: `from __future__ import annotations`
        # makes hints strings, which pandas_udf's inspection rejects;
        # the legacy scalar path supports struct (DataFrame) returns
        rows = [_py_rebuild(t, s, min_len)
                for t, s in zip(text_s, starts_s)]
        return pd.DataFrame(
            rows, columns=["n_tokens", "n_removed", "text_clean"])

    return pandas_udf(
        fn, "n_tokens long, n_removed long, text_clean string")


def _window_hash_stage(docs: DataFrame, min_len: int, id_col: str,
                       text_col: str) -> DataFrame:
    """Arrow-batched rolling-window hashing: ``(id, p, h)`` with ``h``
    a 16-byte BLAKE2b digest of the window content (collision-
    negligible, half the bytes of md5-hex, and no per-window string
    ever enters a Catalyst expression).  Measured ~2.5× the
    HOF+md5 construction at sf0.1 — same uncodegen'd-lambda story as
    the repetition family."""
    from pyspark.sql import types as T
    id_type = docs.schema[id_col].dataType
    schema = T.StructType([
        T.StructField(id_col, id_type, True),
        T.StructField("p", T.IntegerType(), False),
        T.StructField("h", T.BinaryType(), False),
    ])

    def run(batches):
        import hashlib

        import pandas as pd
        for pdf in batches:
            ids, ps, hs = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                ws = text.split(" ")
                for p in range(len(ws) - min_len + 1):
                    ids.append(did)
                    ps.append(p)
                    hs.append(hashlib.blake2b(
                        " ".join(ws[p:p + min_len]).encode(),
                        digest_size=16).digest())
            yield pd.DataFrame({id_col: ids, "p": ps, "h": hs})

    return docs.select(id_col, text_col).mapInPandas(run, schema)


def exact_substring_dedup(docs: DataFrame, min_len: int = 50,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          materialize_windows: bool | None = None
                          ) -> DataFrame:
    """Remove every token covered by a duplicated ``min_len``-token
    window (see module docstring for the construction).

    Returns ``(id_col, n_tokens, n_removed, text_clean)`` for EVERY
    input document: ``n_tokens`` is the pre-removal whitespace token
    count, ``text_clean`` the space-rejoined surviving tokens (empty
    string when everything was duplicated).  Documents shorter than
    ``min_len`` tokens can never be covered and pass through verbatim
    (single-space split/rejoin is lossless, so ``text_clean`` equals
    the input text byte-for-byte for untouched documents).

    Windows are hashed in an Arrow stage (~2.5× an HOF+md5
    construction, half the shuffle bytes per key) and the surviving
    text is rebuilt in an Arrow-batched UDF via difference-array
    interval subtraction — O(tokens + duplicated windows) per document,
    where a covered-index filter in lambda HOFs would cost O(tokens ×
    covered) per row, uncodegen'd.  The window stream feeds both the
    duplicate groupBy and the join probe: in the cluster regime
    (sort-merge join) both consumers ride one ReusedExchange, so the
    Arrow stage runs once; the small-input broadcast regime would
    recompute it, so ``materialize_windows=None`` (auto) checkpoints
    the window table exactly when the input is compact
    (``gates.compact_input`` — measured ~35% at sf0.1) and leaves it
    lazy at scale, where a corpus-tokens-sized checkpoint write is the
    wrong trade and the exchange reuse already covers it.

    Pick ``min_len`` ≈ 50 tokens for real corpora (the paper's
    setting); lower values remove natural repeated phrases, not just
    boilerplate.
    """
    if min_len < 2:
        raise ValueError("min_len must be >= 2 tokens")
    wins = _window_hash_stage(docs, min_len, id_col, text_col)
    if materialize_windows is None:
        # the window table is ~8× the input text bytes (one
        # (id, int, 16-byte digest) row per token), so the compact
        # budget must apply to the MATERIALIZED size — without the
        # amplification a default-conf 32-core session would judge
        # a ~4 GB input "compact" and eagerly checkpoint ~30 GB
        materialize_windows = compact_input(docs, amplification=8.0)
    if materialize_windows:
        wins = materialize(wins)
    dup_h = (wins.groupBy("h")
             .agg(F.count(F.lit(1)).alias("c"))
             .filter(F.col("c") >= 2)
             .select("h"))
    # duplicated-window STARTS per doc — min_len× less shuffle volume
    # than exploding the covered indices themselves
    starts = (wins.join(dup_h, on="h")
              .groupBy(id_col)
              .agg(F.sort_array(F.collect_set("p")).alias("_starts")))
    joined = docs.join(starts, on=id_col, how="left")
    udf = _rebuild_udf(min_len)
    return (joined
            .select(F.col(id_col),
                    udf(F.col(text_col), F.col("_starts")).alias("_r"))
            .select(id_col,
                    F.col("_r.n_tokens").alias("n_tokens"),
                    F.col("_r.n_removed").alias("n_removed"),
                    F.col("_r.text_clean").alias("text_clean")))
