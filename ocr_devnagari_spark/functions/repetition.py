"""Within-document repetition signals — the Gopher A1.1 filter family.

Training-data pipelines drop documents whose text is dominated by
repeated fragments (navigation bars, keyword stuffing, generated spam).
The public recipe (Rae et al. 2021 "Scaling Language Models", Appendix
A1.1; re-implemented by Dolma/RedPajama) measures, per document:

- ``top_ngram_char_fraction(n)`` — the fraction of characters covered
  by occurrences of the single most frequent word n-gram (n = 2..4).
- ``dup_ngram_char_fraction(n)`` — the fraction of characters covered
  by *duplicated* word n-grams (n = 5..10).

Exact char-coverage without double counting needs interval arithmetic;
like the public reimplementations we use a deterministic approximation,
stated precisely so the DuckDB oracle can mirror it bit-for-bit:

- a gram's characters = ``length(gram)`` (words + single-space joins);
  the denominator is ``length(text)``.
- top fraction  = ``max(cnt * length(gram)) / length(text)``, capped 1.
- dup fraction  = ``sum((cnt - 1) * length(gram)) / length(text)`` over
  grams with cnt ≥ 2, capped at 1 (the first occurrence is "legitimate",
  repeats are the duplicated mass — overlapping repeats count multiply).

Scale notes: a per-document statistic never needs to leave its row,
so the signals are a shuffle-free single projection.  The gate and the
signal frame (``repetition_signals``/``repetition_pass_expr``) run a
Counter over Arrow batches — measured ~12× a pure-Catalyst in-row
construction, because Spark evaluates lambda higher-order functions
per element WITHOUT whole-stage codegen.  They follow the HALF_UP
6-d.p. rounding rule (Python's banker's round diverges on exact ties)
and match the DuckDB oracle.

No counterpart in the reference (an OCR orchestrator); this family is
part of the engine's web-corpus surface alongside functions/text.py's
quality/Gopher gates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_ngrams(col: Column, n: int) -> Column:
    """array<string> of space-joined word ``n``-grams of ``col``.

    Built entirely in the array domain: split once, then
    ``transform(sequence(...), i -> concat_ws(' ', slice(words, i, n)))``.
    Documents with fewer than ``n`` words yield an empty array.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    words = F.split(col, " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast("array<string>"))


def _round6(x: float) -> float:
    """HALF_UP to 6 d.p. over the float's SHORTEST-DECIMAL repr —
    ``Decimal(repr(x))`` mirrors Java ``BigDecimal.valueOf(double)``
    (Double.toString), which is what Spark's round() actually uses;
    quantizing the exact binary value (``Decimal(x)``) diverges on
    quotients like 3/640 whose binary expansion sits just below the
    tie (engines: .004688, exact-binary: .004687).  Python's builtin
    round is banker's and diverges on exact ties as well — both
    variants were caught by the oracle gate."""
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


def _py_signals(text: str, specs: tuple):
    """One document's signals for ``specs`` = ((n, want_top), ...) —
    the mass/round definitions of the module docstring (gram chars =
    sum(word lens) + n−1 = len(' '.join(gram)))."""
    from collections import Counter
    if text is None:
        return tuple(None for _ in specs)
    words = text.split(" ")
    total = len(text)
    out = []
    for n, want_top in specs:
        if len(words) < n:
            out.append(None)
            continue
        if total == 0:
            # n=1 over '' : no characters to measure — NULL ("cannot
            # repeat"), not a 0/0
            out.append(None)
            continue
        # zip over n shifted views builds the gram tuples at C speed —
        # identical keys/counts to the sliced-tuple generator, ~3× less
        # Python-loop overhead on the per-document hot path
        c = Counter(zip(*(words[i:] for i in range(n))))
        if want_top:
            mass = max(cnt * (sum(map(len, g)) + n - 1)
                       for g, cnt in c.items())
        else:
            mass = sum((cnt - 1) * (sum(map(len, g)) + n - 1)
                       for g, cnt in c.items() if cnt >= 2)
        out.append(_round6(min(1.0, mass / total)))
    return tuple(out)


def _signals_udf(specs: tuple):
    """Arrow-batched signal UDF for ``specs`` — measured ~12× the
    interpreted higher-order-function path on this workload (Spark
    evaluates lambda-HOFs per element WITHOUT codegen, so a Counter
    over Arrow batches wins despite the Python transfer)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    fields = ", ".join(
        f"s{i} double" for i in range(len(specs)))

    def fn(s):
        # no type hints: `from __future__ import annotations` makes
        # them strings, which pandas_udf's hint inspection rejects;
        # hint-less functions use the legacy scalar path, which
        # supports struct (DataFrame) returns
        rows = [_py_signals(t, specs) for t in s]
        return pd.DataFrame(rows,
                            columns=[f"s{i}" for i in range(len(specs))])

    return pandas_udf(fn, fields)


def repetition_signals(df: DataFrame, top_ns: tuple = (2, 3),
                       dup_ns: tuple = (5,), id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-document signal frame: one ``top{n}_frac`` column per entry
    of ``top_ns`` and one ``dup{n}_frac`` per ``dup_ns``.  Documents
    shorter than a given n carry NULL for that n's signals — callers
    treat NULL as "cannot repeat", i.e. pass.

    SHUFFLE-FREE: per-document repetition is a per-row statistic,
    computed in an Arrow-batched UDF — a C-backed Counter over columnar
    batches, measured ~12× a pure-Catalyst lambda-HOF construction
    (Spark evaluates lambda higher-order functions per element WITHOUT
    whole-stage codegen).  Matches the DuckDB ``repetition_gate``
    oracle.
    """
    ns = sorted(set(top_ns) | set(dup_ns))
    specs, names = [], []
    for n in ns:
        if n in top_ns:
            specs.append((n, True))
            names.append(f"top{n}_frac")
        if n in dup_ns:
            specs.append((n, False))
            names.append(f"dup{n}_frac")
    udf = _signals_udf(tuple(specs))
    out = df.select(F.col(id_col), udf(F.col(text_col)).alias("_s"))
    return out.select(id_col, *[
        F.col(f"_s.s{i}").alias(nm) for i, nm in enumerate(names)])


def repetition_pass_expr(text: Column, max_top2: float = 0.20,
                         max_top3: float = 0.18,
                         max_dup5: float = 0.15) -> Column:
    """Boolean Gopher repetition gate as ONE Column expression — lets
    compositions (plans/curation.py) filter inline with zero joins.
    NULL signals (doc shorter than n) count as passing.  An
    Arrow-batched UDF over the same signals as
    :func:`repetition_signals`.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    specs = ((2, True), (3, True), (5, False))
    lims = (max_top2, max_top3, max_dup5)

    def fn(s):
        return pd.Series(
            [all((v is None) or (v <= lim)
                 for v, lim in zip(_py_signals(t, specs), lims))
             if t is not None else True
             for t in s])

    return pandas_udf(fn, "boolean")(text)


def gopher_repetition_pass(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           max_top2: float = 0.20,
                           max_top3: float = 0.18,
                           max_dup5: float = 0.15) -> DataFrame:
    """Gopher-style repetition gate: keep documents below every
    threshold (Rae et al. 2021 use 0.20/0.18/.../0.15 for the
    corresponding signals).  Returns ``(id_col, top2_frac, top3_frac,
    dup5_frac, rep_pass)``."""
    sig = repetition_signals(df, top_ns=(2, 3), dup_ns=(5,),
                             id_col=id_col, text_col=text_col)
    keep = ((F.coalesce(F.col("top2_frac"), F.lit(0.0)) <= max_top2)
            & (F.coalesce(F.col("top3_frac"), F.lit(0.0)) <= max_top3)
            & (F.coalesce(F.col("dup5_frac"), F.lit(0.0)) <= max_dup5))
    return sig.select(id_col, "top2_frac", "top3_frac", "dup5_frac",
                      keep.alias("rep_pass"))
