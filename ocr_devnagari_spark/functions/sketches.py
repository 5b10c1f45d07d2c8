"""KMV (k-minimum-values) distinct-count sketch — deterministic by
construction, so the DuckDB oracle computes the IDENTICAL estimate.

``approx_count_distinct`` exists in both engines but their HLL
implementations differ, so cross-engine parity is impossible and the
sketch itself is unauditable.  KMV (Bar-Yossef et al. 2002; the
Theta-sketch family's base estimator) is a pure function of the data
given a fixed hash: map every value to a uniform point in [0, 1),
keep the k smallest points, and estimate

    D ≈ (k - 1) / u_k        (u_k = the k-th smallest point)

The hash is the md5-prefix wheel the splits module uses (32 uniform
bits, identical in Spark / Python / DuckDB).  Mergeability — union of
two sketches = k smallest of the concatenation — is what makes it a
sketch rather than a sample.

Scale shape: one ``TakeOrdered(k)``-style global bottom-k (Spark
computes ``orderBy(h).limit(k)`` as per-partition partial top-k +
driver merge of k·partitions values — no full sort, no collect of the
data itself).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..gates import broadcast_if_small, materialize

HASH_SPACE = float(1 << 32)


def kmv_point(col: Column) -> Column:
    """Uniform point in [0, 1) from the shared md5-prefix wheel
    (``splits.wheel32`` — the single cross-engine hash expression).

    Cross-engine identity holds for STRING columns; other types are
    cast, but numeric→string rendering differs between engines
    (scientific notation thresholds), so sketch strings — or format
    numerics explicitly — when an oracle must agree."""
    from .splits import wheel32
    return wheel32(col).cast("double") / F.lit(HASH_SPACE)


def kmv_sketch(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """The sketch itself: the k smallest DISTINCT hash points, one row
    each (column ``p``).  NULL values are excluded (standard distinct-
    count semantics — and Spark sorts NULLS FIRST where DuckDB sorts
    them LAST, so letting one in would desynchronize the bottom-k).
    Bottom-k runs as partial per-partition top-k, never a full sort."""
    if k < 2:
        raise ValueError("k must be >= 2")
    return (df.filter(F.col(col).isNotNull())
            .select(kmv_point(F.col(col)).alias("p"))
            .distinct().orderBy("p").limit(k))


def kmv_estimate(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """One row ``(n_est, k_used)``: distinct-count estimate.  When the
    sketch holds fewer than k points the count is EXACT (that many
    distinct hashes were seen in total)."""
    sk = kmv_sketch(df, col, k)
    return (sk.agg(F.count(F.lit(1)).alias("k_used"),
                   F.max("p").alias("_uk"))
            .select(
                F.when(F.col("k_used") < k,
                       F.col("k_used").cast("double"))
                .otherwise(F.round((F.col("k_used") - 1) / F.col("_uk"),
                                   4)).alias("n_est"),
                F.col("k_used").cast("long").alias("k_used")))


def kmv_estimate_sql(rel: str, col: str, k: int = 256) -> str:
    """DuckDB mirror of ``kmv_estimate`` over relation ``rel``."""
    from .splits import wheel32_sql
    pt = f"({wheel32_sql(col)} / {HASH_SPACE})"
    return (
        f"WITH pts AS (SELECT DISTINCT {pt} AS p FROM {rel} "
        f"WHERE {col} IS NOT NULL ORDER BY p LIMIT {k}) "
        f"SELECT CASE WHEN count(*) < {k} THEN count(*)::DOUBLE "
        f"ELSE round((count(*) - 1) / max(p), 4) END AS n_est, "
        "count(*)::BIGINT AS k_used FROM pts")


# ---------------------------------------------------------------------------
# Exact heavy hitters — two-pass Misra-Gries candidates + exact recount
# ---------------------------------------------------------------------------

def _mg_candidates(df: DataFrame, col: str, capacity: int) -> DataFrame:
    """Pass 1: per-partition Misra-Gries summaries (Misra & Gries 1982;
    the "frequent" algorithm).  Bounded state — at most ``capacity``
    counters per partition regardless of input cardinality — so the
    candidate union is ≤ capacity × n_partitions rows, never the
    distinct-value set.  MG guarantee, summed over partitions: every
    value with GLOBAL frequency > n/(capacity+1) survives in at least
    one partition's summary, so the candidate set is a superset of the
    true heavy hitters and pass 2 can recount it exactly.

    Output: candidate rows ``(value, NULL)`` plus ONE ``(NULL, n_p)``
    row per partition carrying the partition's row count — the total
    rides the same pass instead of costing a third scan of the input
    (``heavy_hitters`` consumes both from one materialization)."""
    from pyspark.sql import types as T

    def run(batches):
        import pandas as pd
        counters: dict = {}
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            counters = _mg_update(counters,
                                  pdf[col].value_counts().items(),
                                  capacity)
        yield pd.DataFrame({col: list(counters.keys()) + [None],
                            "_pn": [None] * len(counters) + [n_part]})
    # StructType, not a DDL f-string: a column name needing backticks
    # (space / dot / hyphen) must not break or misparse the schema
    schema = T.StructType([T.StructField(col, T.StringType(), True),
                           T.StructField("_pn", T.LongType(), True)])
    return df.select(col).mapInPandas(run, schema)


def _mg_update(counters: dict, weighted_items, capacity: int) -> dict:
    """One weighted Misra-Gries merge step (module-level so the
    survival guarantee is unit/property-testable without Spark).
    Pure: the input dict is copied, never half-mutated — a caller
    keeping its own reference sees either the old or the returned
    state, not an incremented-but-undecremented hybrid."""
    counters = dict(counters)
    for v, c in weighted_items:
        counters[v] = counters.get(v, 0) + int(c)
    while len(counters) > capacity:
        # weighted decrement: drop the minimum counter value from
        # everyone (batch analog of the -1-from-all step)
        m = min(counters.values())
        counters = {v: c - m for v, c in counters.items() if c > m}
    return counters


def heavy_hitters(df: DataFrame, col: str, k: int = 100) -> DataFrame:
    """EXACT heavy hitters: every value of ``col`` whose frequency is
    strictly greater than n/(k+1) (n = non-NULL rows), with its exact
    count — ``(value, cnt)``.

    Scale shape (the reason this exists next to a plain
    ``groupBy.count``): a naive top-k over 100 TB of tokens shuffles
    the FULL distinct-value set (billions of group keys).  Here pass 1
    shrinks the universe to ≤ k·partitions candidate strings with
    bounded executor state, pass 2 broadcast-semi-joins the candidate
    set and aggregates only matching rows — the shuffle carries at most
    k·partitions distinct keys.  The result is exact and partitioning-
    independent (candidates may vary with the split; the final
    threshold filter does not), so a DuckDB ``GROUP BY … HAVING
    cnt·(k+1) > n`` oracle hash-matches."""
    if k < 1:
        raise ValueError("k must be >= 1")
    rows = df.filter(F.col(col).isNotNull()).select(F.col(col).cast("string"))
    # one MG pass yields candidates AND per-partition row counts; it is
    # materialized (tiny: ≤ k·partitions + partitions rows) so that
    # consuming it twice below does not re-scan the input — the whole
    # operator costs exactly TWO passes over the data (MG + recount)
    mg = materialize(_mg_candidates(rows, col, k))
    cand = mg.filter(F.col(col).isNotNull()).select(col).distinct()
    # MG emits ≤ k counters per partition, so ``k · n_partitions``
    # bounds the candidate set WITHOUT running a job — on any sanely-
    # split input that settles the broadcast decision for free.  At
    # crawl-scale split counts (10^5-10^6 partitions × k) the gate's
    # count reads the tiny CHECKPOINTED candidate table, never the input.
    cand = broadcast_if_small(
        cand, bound=k * max(mg.rdd.getNumPartitions(), 1))
    total = mg.agg(F.sum("_pn").alias("_n"))
    counts = (rows.join(cand, on=col, how="left_semi")
              .groupBy(col).agg(F.count(F.lit(1)).alias("cnt")))
    return (counts.crossJoin(F.broadcast(total))
            .filter(F.col("cnt") * (k + 1) > F.col("_n"))
            .select(F.col(col).alias("value"), F.col("cnt")))


def heavy_hitters_sql(rel: str, col: str, k: int = 100) -> str:
    """DuckDB mirror of ``heavy_hitters`` over relation ``rel``."""
    return (
        f"SELECT {col}::VARCHAR AS value, count(*) AS cnt FROM {rel} "
        f"WHERE {col} IS NOT NULL GROUP BY value "
        f"HAVING count(*) * ({k} + 1) > "
        f"(SELECT count(*) FROM {rel} WHERE {col} IS NOT NULL)")


# ---------------------------------------------------------------------------
# Exact grouped quantiles — histogram + cumulative counts, no full sort
# ---------------------------------------------------------------------------

def exact_quantiles(df: DataFrame, val_col: str, qs: list[float],
                    group_cols: list[str] | None = None) -> DataFrame:
    """EXACT discrete quantiles (type-1 / lower order statistic: the
    smallest value v with rank ≥ ⌈q·n⌉) of ``val_col`` per group —
    ``(group_cols…, q, quantile)``, one row per group × q.

    ``approxQuantile`` is driver-side, single-frame and approximate;
    a naive exact method sorts the whole column.  For the discrete
    columns dashboards actually quantile (token counts, document
    lengths, status codes — bounded cardinality regardless of row
    count) the scale-correct shape is: groupBy value → COUNT (map-side
    partial: the shuffle carries one row per distinct value, never per
    input row) → per-group running sum over the value-sorted histogram
    (window over ≤ cardinality rows) → first value whose cumulative
    count reaches ⌈q·n⌉.  Matches DuckDB's ``quantile_disc`` exactly,
    so the oracle gate hash-checks it.  NULL values are excluded.
    """
    if not qs or not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError("qs must be fractions in (0, 1]")
    from pyspark.sql import Window
    gcols = list(group_cols or [])
    clash = ({"q", "quantile", "_c", "_cum", "_n"}
             & set(gcols + [val_col]))
    if clash:
        raise ValueError(
            f"column name(s) {sorted(clash)} collide with "
            "exact_quantiles internals/output — rename them first")
    hist = (df.filter(F.col(val_col).isNotNull())
            .groupBy(*gcols, val_col)
            .agg(F.count(F.lit(1)).alias("_c")))
    w = (Window.partitionBy(*gcols).orderBy(val_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wn = Window.partitionBy(*gcols)
    cum = (hist.withColumn("_cum", F.sum("_c").over(w))
           .withColumn("_n", F.sum("_c").over(wn)))
    # ALL quantiles in one aggregation pass (a per-q filter+agg+union
    # would recompute the histogram lineage len(qs) times): each q is a
    # conditional min over the same cumulated histogram, then the wide
    # row unpivots.  ceil(q·n) in double — DuckDB's quantile_disc uses
    # the identical rank arithmetic, so the oracle matches bit-for-bit.
    aggs = [F.min(F.when(F.col("_cum")
                         >= F.ceil(F.lit(float(q)) * F.col("_n")),
                         F.col(val_col))).alias(f"_q{i}")
            for i, q in enumerate(qs)]
    wide = cum.groupBy(*gcols).agg(*aggs)
    stack = ", ".join(
        f"double('{float(q)}'), _q{i}" for i, q in enumerate(qs))
    return wide.select(
        *gcols,
        F.expr(f"stack({len(qs)}, {stack}) AS (q, quantile)"))


def exact_quantiles_sql(rel: str, val_col: str, qs: list[float],
                        group_cols: list[str] | None = None) -> str:
    """DuckDB mirror of ``exact_quantiles`` (``quantile_disc`` is the
    same type-1 order statistic; it only takes CONSTANT quantile
    parameters, hence one UNION ALL branch per q)."""
    gcols = list(group_cols or [])
    branches = []
    for q in qs:
        sel = ", ".join(
            gcols + [f"{float(q)}::DOUBLE AS q",      # DECIMAL otherwise
                     f"quantile_disc({val_col}, {float(q)}) AS quantile"])
        grp = (" GROUP BY " + ", ".join(gcols)) if gcols else ""
        branches.append(f"SELECT {sel} FROM {rel} "
                        f"WHERE {val_col} IS NOT NULL{grp}")
    return " UNION ALL ".join(branches)
