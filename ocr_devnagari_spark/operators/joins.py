"""Temporal/range join operators Spark's API lacks — as-of join and
interval (range) join, expressed as compositions of built-in operators
so Catalyst/AQE still own the physical plan.

**As-of join** (kdb/pandas ``merge_asof`` semantics, DuckDB ``ASOF
JOIN``): for every left row, attach the LATEST right row of the same
key with ``right.ts <= left.ts`` (inclusive — a right row AT the left
timestamp matches), optionally within ``tolerance``.  The naive
formulation is an inequality join (quadratic per key); the scalable
plan is the classic union-tag sweep:

    union(right→tagged, left→tagged)
      → window last_value(right cols, ignorenulls)
           over (partition by key  order by ts, tag)
      → keep left rows

One shuffle on the key, one ordered pass — O(n log n) per key, never
all-pairs.  Hot keys are window-partition-bound (documented; pre-split
hot keys upstream if a single key's row count exceeds a task).

**Range join**: ``points × intervals`` containment (``lo <= v <= hi``)
without a cartesian product: intervals explode to the fixed-width
buckets they cover, points hash to their single bucket, and an
EQUI-join on the bucket feeds an exact containment filter.  Each
(point, interval) pair meets in exactly one bucket (the point's), so
no dedup pass is needed.  Bucket width trades explode factor against
join selectivity; shuffles are hash joins on ints either way.

Both carry DuckDB oracles (native ``ASOF JOIN``; plain theta join) —
the rare case where the oracle engine has MORE native support than the
engine under test, which is exactly what makes the parity check strong.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..gates import materialize

log = logging.getLogger(__name__)


def _as_numeric(df: DataFrame, col: str):
    """Normalize a timestamp ``on`` column to epoch-seconds DOUBLE
    (tolerance arithmetic and the matched-ts output are numeric);
    numeric columns pass through unchanged."""
    t = df.schema[col].dataType.typeName()
    if t in ("timestamp", "timestamp_ntz"):
        return F.col(col).cast("timestamp").cast("double")
    return F.col(col)


def asof_join(left: DataFrame, right: DataFrame, on: str = "ts",
              by: str | list = "key", tolerance: float | None = None,
              right_cols: list | None = None,
              suffix: str = "_r",
              bucket_width: float | None = None) -> DataFrame:
    """Backward inclusive as-of join; right payload columns arrive as
    ``<col><suffix>`` (``on`` itself as ``<on><suffix>``), NULL when no
    right row precedes (or the match is older than ``tolerance``).

    The matched right row is carried as ONE struct, so its columns
    always come from the SAME row (a NULL payload value on the matched
    row stays NULL — merge_asof/ASOF semantics; independent per-column
    carries would resurrect older values).  Ties are deterministic:
    among right rows sharing (key, ts), the one with the GREATEST
    payload struct wins (documented rule; native ASOF engines pick an
    arbitrary row, so pre-aggregate ties away when mirroring one).
    Timestamp ``on`` columns are normalized to epoch-seconds DOUBLE
    (``<on><suffix>`` comes back numeric).

    **Hot keys**: the default plan windows per key, so a single key's
    rows land in ONE task (window partitions are not AQE-splittable).
    Pass ``bucket_width`` (seconds) to pre-split hot keys by time
    bucket: per-(key, bucket) right maxima reduce via map-side partial
    aggregation, a tiny per-key window over BUCKETS (bounded by
    time-range/width, not row count) computes each bucket's carry-in,
    and the final window partitions by (key, bucket) — the worst task
    now holds one bucket of one key.  Same semantics, property-tested
    equal to the default plan.
    """
    by = [by] if isinstance(by, str) else list(by)
    right_cols = right_cols or [c for c in right.columns
                                if c not in by + [on]]
    r_struct = F.struct(
        _as_numeric(right, on).alias("_ts"),
        *[F.col(c).alias(c) for c in right_cols])
    l_struct = F.struct(*left.columns)
    r_tag = right.select(*by, _as_numeric(right, on).alias("_t"),
                         F.lit(0).alias("_is_l"),
                         r_struct.alias("_r"))
    r_tag = r_tag.withColumn(
        "_l", F.lit(None).cast(
            left.select(l_struct.alias("_l")).schema["_l"].dataType))
    l_tag = left.select(*by, _as_numeric(left, on).alias("_t"),
                        F.lit(1).alias("_is_l"),
                        F.lit(None).cast(
                            r_tag.schema["_r"].dataType).alias("_r"),
                        l_struct.alias("_l"))
    # right rows sort BEFORE left rows at equal ts (_is_l asc) so a
    # quote AT the event time is visible — the inclusive rule; the
    # trailing _r key makes equal-(ts,side) right rows deterministic
    tagged = r_tag.unionByName(l_tag)
    if bucket_width is None:
        w = (Window.partitionBy(*by)
             .orderBy(F.col("_t"), F.col("_is_l"), F.col("_r"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        carried = (tagged
                   .withColumn("_m", F.last("_r", ignorenulls=True).over(w))
                   .filter(F.col("_is_l") == 1))
    else:
        if bucket_width <= 0:
            raise ValueError("bucket_width must be positive")
        bkt = F.floor(F.col("_t") / bucket_width).cast("long")
        tagged = tagged.withColumn("_bkt", bkt)
        # per-(key, bucket) right maximum: because _r's FIRST field is
        # _ts, max(struct) == the globally-last right row of the bucket
        # under the (ts, payload) tie rule — one long per partial, the
        # hot key reduces map-side
        per_bkt = (tagged.filter(F.col("_is_l") == 0)
                   .groupBy(*by, "_bkt")
                   .agg(F.max("_r").alias("_bmax")))
        # carry-in per bucket = running max over STRICTLY EARLIER
        # buckets; this window's partitions hold one row per non-empty
        # bucket (≤ time-range/width), never per input row
        wb = (Window.partitionBy(*by).orderBy(F.col("_bkt"))
              .rowsBetween(Window.unboundedPreceding, -1))
        # synthetic right row seeding each bucket: NULL _t sorts FIRST
        # (Spark asc = nulls first) so the carry precedes every real row
        # of its bucket, whatever the on-column's numeric type; it
        # carries the running max over STRICTLY EARLIER buckets.  Seeds
        # come from ALL (key, bucket) pairs (both sides), because a
        # left-only bucket needs its carry-in too.
        all_bkts = tagged.select(*by, "_bkt").distinct()
        seeds = (all_bkts.join(per_bkt, on=by + ["_bkt"], how="left")
                 .withColumn("_carry", F.max(F.col("_bmax")).over(wb))
                 .filter(F.col("_carry").isNotNull())
                 .select(*by, "_bkt",
                         F.lit(None).cast(
                             tagged.schema["_t"].dataType).alias("_t"),
                         F.lit(-1).alias("_is_l"),
                         F.col("_carry").alias("_r"),
                         F.lit(None).cast(
                             r_tag.schema["_l"].dataType).alias("_l")))
        w = (Window.partitionBy(*by, "_bkt")
             .orderBy(F.col("_t"), F.col("_is_l"), F.col("_r"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        carried = (tagged.unionByName(seeds)
                   .withColumn("_m", F.last("_r", ignorenulls=True).over(w))
                   .filter(F.col("_is_l") == 1))
    ok = F.col("_m").isNotNull()
    if tolerance is not None:
        ok = ok & ((F.col("_t") - F.col("_m._ts")) <= tolerance)
    sel = [F.col(f"_l.{c}").alias(c) for c in left.columns]
    sel.append(F.when(ok, F.col("_m._ts")).alias(f"{on}{suffix}"))
    sel += [F.when(ok, F.col(f"_m.{c}")).alias(f"{c}{suffix}")
            for c in right_cols]
    return carried.select(*sel)


def range_join(points: DataFrame, intervals: DataFrame,
               v_col: str = "v", lo_col: str = "lo", hi_col: str = "hi",
               bucket_width: float | None = 100.0,
               max_buckets: int = 1024,
               wide_limit: int = 1_000_000) -> DataFrame:
    """Inner containment join (``lo <= v <= hi``, inclusive both ends)
    via bucketed equi-join — returns all point columns + all interval
    columns.  ``bucket_width`` should be of the order of the typical
    interval length (explode factor ≈ len/width + 1).

    ``bucket_width=None`` derives it from the data: the median interval
    length via one ``approxQuantile`` sketch over the (already
    materialized) intervals — the typical interval then explodes to ~2
    buckets, and only genuine outliers take the wide path.  The width
    only shapes the PLAN, never the result (the containment filter is
    exact), so the sketch's partitioning sensitivity cannot affect
    correctness.

    **Fan-out guard**: an interval spanning more than ``max_buckets``
    buckets does NOT explode (one degenerate ``(0, 1e9)`` interval at
    ``bucket_width=100`` would fan a single input row out to 10^7).
    Wide intervals instead take a broadcast containment join — they are
    few by construction when ``bucket_width`` is sized to the typical
    interval, so the broadcast side stays small; ``wide_limit`` bounds
    that assumption with a counted gate (raise = resize bucket_width,
    never a silent cartesian).  Both paths are exact; the union is the
    full inner join, each pair produced exactly once (an interval is
    either wide or narrow, never both).
    """
    if bucket_width is not None and bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    if max_buckets < 1:
        raise ValueError("max_buckets must be >= 1")
    # materialize once: the intervals lineage is consumed up to three
    # times below (narrow bucket join, wide counted gate, wide
    # broadcast join) — for a derived/expensive intervals DF each
    # un-truncated consumer would re-run the full upstream plan.  This
    # also makes the counted gate's eager job a cheap limit over
    # materialized blocks rather than a full re-evaluation.
    intervals = materialize(intervals)
    if bucket_width is None:
        # median POSITIVE interval length (point intervals excluded —
        # with them in the sketch a point-dominated mix would yield 0
        # and route every real interval to the wide path); a quantile
        # over positive values is positive, so the only fallback is the
        # all-points/empty case, where the width is immaterial (each
        # point interval occupies exactly one bucket at any width)
        qs = (intervals
              .select((F.col(hi_col) - F.col(lo_col)).cast("double")
                      .alias("_len"))
              .filter(F.col("_len") > 0)
              .approxQuantile("_len", [0.5], 0.01))
        bucket_width = qs[0] if qs else 1.0
        log.info("range_join: auto bucket_width=%s "
                 "(median positive interval length)", bucket_width)
    lo_b = F.floor(F.col(lo_col) / bucket_width).cast("long")
    hi_b = F.floor(F.col(hi_col) / bucket_width).cast("long")
    n_b = (hi_b - lo_b + F.lit(1))
    narrow = intervals.filter(n_b <= max_buckets)
    wide = intervals.filter(n_b > max_buckets)
    contained = ((F.col(v_col) >= F.col(lo_col))
                 & (F.col(v_col) <= F.col(hi_col)))
    pb = points.withColumn(
        "_b", F.floor(F.col(v_col) / bucket_width).cast("long"))
    ib = narrow.withColumn("_b", F.explode(F.sequence(lo_b, hi_b)))
    out = pb.join(ib, on="_b").filter(contained).drop("_b")
    n_wide = wide.limit(wide_limit + 1).count()
    if n_wide:
        if n_wide > wide_limit:
            raise ValueError(
                f"range_join: >{wide_limit} intervals span more than "
                f"{max_buckets} buckets at bucket_width={bucket_width}; "
                "increase bucket_width (or max_buckets/wide_limit)")
        log.info("range_join: %d wide interval(s) routed to the "
                 "broadcast containment path", n_wide)
        out = out.unionByName(
            points.join(F.broadcast(wide), on=contained, how="inner"))
    return out
