"""SparkSession factory tuned for the extraction workload.

Local-mode defaults match the host (``local[N]`` threads, single JVM);
every setting here is also the right default on a real multi-executor
cluster at 10^12-document scale:

- Sized to the host: ``cores`` defaults to ``$SPARK_GRAFT_CPUS``, else the
  CPUs this process may run on; the driver heap to ``driver_memory()``, a
  quarter of memory (the JVM's own default-heap rule), which leaves the
  rest to the Python workers and the page cache.
- AQE on: runtime partition coalescing + skew-join splitting cover the
  resume anti-join and the dedup keeper-map join, whose selectivities
  (how much of a batch is already committed or duplicated) are only
  known at runtime.
- Arrow on + bounded batch size: the extraction UDFs are Arrow-batched
  ``mapInPandas`` stages; big HTML payloads need smaller record batches so a
  batch's working set stays bounded (the reference's 26.4 GB → <4 GB memory
  incident, ``docs/RESILIENT_OCR_PLAN.md``, is exactly an unbounded-batch bug).
- UTC session timezone: no wall-clock leaks into output bytes.
"""

from __future__ import annotations

import hashlib
import os
import zipfile

from pyspark.sql import SparkSession


def package_zip(out_dir: str = "/tmp") -> str:
    """Zip this package for ``spark-submit --py-files`` shipping.

    Content-addressed filename so repeated sessions reuse the artifact and
    a changed source tree gets a fresh one. This is the same packaging the
    north rule's multi-executor run uses — in local mode it also makes the
    engine importable by Python workers regardless of the driver's cwd.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    entries = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for fn in sorted(files):
            if fn.endswith(".py"):
                entries.append(os.path.join(root, fn))
    h = hashlib.sha256()
    for fp in sorted(entries):
        h.update(fp.encode())
        with open(fp, "rb") as f:
            h.update(f.read())
    zpath = os.path.join(out_dir, f"ocr_devnagari_spark-{h.hexdigest()[:12]}.zip")
    if not os.path.exists(zpath):
        tmp = f"{zpath}.{os.getpid()}.tmp"   # unique per process: two
        #                                      concurrent builders must not
        #                                      interleave writes to one tmp
        parent = os.path.dirname(pkg_dir)
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for fp in sorted(entries):
                z.write(fp, os.path.relpath(fp, parent))
        os.replace(tmp, zpath)
    return zpath


def driver_memory() -> str:
    """``spark.driver.memory``: ``$OCRDS_DRIVER_MEM`` if set, else a quarter
    of physical memory or of the cgroup v2 limit, whichever is lower,
    with a floor of 1g."""
    if os.environ.get("OCRDS_DRIVER_MEM"):
        return os.environ["OCRDS_DRIVER_MEM"]
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            total = min(total, int(f.read()))
    except (OSError, ValueError):   # no cgroup v2, or the limit is "max"
        pass
    return f"{max(total // 4 // 2**20, 1024)}m"


def default_cores() -> int:
    """``local[N]`` width: ``$SPARK_GRAFT_CPUS`` if set, else the CPUs this
    process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))


def get_spark(
    app_name: str = "ocr_devnagari_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # reliable checkpoint files (the gates.materialize cluster path) are
        # NOT removed by default; with the cleaner on, a checkpointed
        # intermediate whose DataFrame goes out of scope also releases
        # its files — long-lived sessions that construct gate queries
        # repeatedly would otherwise accumulate them unboundedly
        .config("spark.cleaner.referenceTracking.cleanCheckpoints",
                "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Ship the package to Python workers (--py-files semantics): without
    # this, mapInPandas UDFs that reference the package fail to unpickle on
    # workers whenever the driver's cwd is not the repo root.
    spark.sparkContext.addPyFile(package_zip())
    return spark
