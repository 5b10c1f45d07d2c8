"""Size-driven plan decisions, in one place: when to checkpoint
(``materialize``), whether an input is small (``compact_input``) and
whether a join side broadcasts (``broadcast_if_small``).  None of them
changes a result, only the plan and its cost; the broadcast-vs-partition
choice is the main lever on join cost (*To Partition, or Not to
Partition*, SIGMOD'21), so it has one implementation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# join sides at or under this row count broadcast.  Read at call time,
# so one assignment moves every gate.
BROADCAST_ROWS = 5_000_000


def materialize(df: DataFrame, reliable: bool | None = None) -> DataFrame:
    """Truncate lineage by checkpointing, choosing checkpoint RELIABILITY
    from the session: when ``sc.setCheckpointDir`` is configured the
    blocks go to the shared store (``checkpoint``), so an executor loss
    recomputes nothing and kills nothing; otherwise fall back to
    ``localCheckpoint`` (fine on local[N], where executor == driver JVM).
    Every multi-consumer or iterative intermediate in the package routes
    through here so the cluster-safety decision lives in ONE place."""
    sc = df.sparkSession.sparkContext
    if reliable is None:
        reliable = sc.getCheckpointDir() is not None
    if reliable and sc.getCheckpointDir() is None:
        raise ValueError("reliable=True needs sc.setCheckpointDir(...)")
    if not reliable:
        return df.localCheckpoint(eager=True)
    # persist-before-checkpoint (the Spark docs' rule): reliable RDD
    # checkpointing runs a SECOND job to write the checkpoint files
    # after the eager count, recomputing the whole lineage unless the
    # blocks are cached.  The checkpoint files carry the data from here
    # on, so the cache is dropped immediately after.
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return df.checkpoint(eager=True)
    finally:
        df.unpersist()


def _conf_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ('4194304', '128m', '1g')."""
    v = v.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    for suf, m in mult.items():
        if v.endswith(suf + "b"):
            return int(float(v[:-2]) * m)
        if v.endswith(suf):
            return int(float(v[:-1]) * m)
    if v.endswith("b"):
        v = v[:-1]
    return int(v)


def compact_input(df: DataFrame, amplification: float = 1.0) -> bool:
    """True iff ``df``'s file inputs cannot split into ≥ cores scan
    tasks at the session's ``maxPartitionBytes`` — the shared gate for
    SMALL-INPUT mitigations (scan-parallelism repartition, cheap
    materialization of a twice-consumed stage).  At real corpus scale
    this returns False, so gated mitigations are guaranteed no-ops
    there; unknown/non-local inputs also return False (no listing →
    assume big, the conservative direction).

    ``amplification``: when the thing the caller wants to materialize
    is LARGER than the input (e.g. a per-token window table at ~8× the
    text bytes), pass the blow-up factor so the budget applies to the
    MATERIALIZED size, not the input size — otherwise a default-conf
    session (128 MB splits × 32 cores = a 4 GB "compact" budget) could
    judge a multi-GB input compact and eagerly checkpoint tens of GB.

    The driver-side listing is bounded: files are stat'ed only until
    the running total crosses the budget (sizes are non-negative, so
    the answer is already False there), never O(files) on a big input.

    Known imprecision, deliberate: the budget is on COMPRESSED file
    bytes, while the mitigations act on decoded rows — parquet text
    columns commonly compress 3-10×, so the materialized size can
    exceed the budget by that ratio unless the caller folds it into
    ``amplification``.  And ``inputFiles`` lists each leaf file once
    even when the plan scans it several times (self-union /
    self-join), so the byte budget can err low by that scan factor.
    The gate guards a cost trade-off, not correctness — a budget miss
    changes wall-clock, never results."""
    spark = df.sparkSession
    try:
        split = _conf_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes"))
        files = df.inputFiles()
        if not files:
            # non-file-backed input (LocalRelation, JDBC, views over
            # non-FS sources): size unknown → assume big, same as the
            # exception path — an empty listing must NOT read as
            # "compact" or the mitigations would fire on an unbounded
            # source
            return False
        budget = spark.sparkContext.defaultParallelism * split
        amplification = max(amplification, 1.0)
        total = 0
        for f in files:
            p = f[len("file:"):] if f.startswith("file:") else f
            total += os.path.getsize(p)
            if total * amplification >= budget:
                return False
    except Exception:
        return False
    return True


def broadcast_if_small(df: DataFrame, bound: int | None = None
                       ) -> DataFrame:
    """``df`` with a broadcast hint iff it has at most ``BROADCAST_ROWS``
    rows; otherwise ``df`` unchanged, and AQE plans the join (a shuffle
    at scale — forcing the broadcast of a billion-row side kills the
    driver).  The result of the join is identical either way.

    ``bound``: an upper bound on the row count known without a job (a
    local list's length, ``k`` candidates per partition, a count the
    caller already ran).  At or under the limit it settles the decision
    with no job; otherwise one bounded count (``limit(BROADCAST_ROWS +
    1)``, never a full count) decides."""
    limit = BROADCAST_ROWS
    if ((bound is not None and bound <= limit)
            or df.limit(limit + 1).count() <= limit):
        return F.broadcast(df)
    return df
