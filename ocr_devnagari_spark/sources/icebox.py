"""Icebox — Iceberg-semantics table emulation over Parquet + JSON manifests.

No Iceberg runtime jar exists in this sandbox, so snapshot semantics are
emulated with the exact mechanism the reference uses for its per-page cache
commits (``cache.py:104-112``: write temp, POSIX-atomic ``rename``), lifted
from page granularity to snapshot granularity:

- data files are immutable Parquet files under ``<table>/data/``;
- a manifest (``manifest-<n>.json``) lists the data files of one snapshot,
  plus ``snapshot_id``, parent, row counts, and the set of **applied job
  tokens** (for idempotent re-runs — the analog of the reference's
  "resume 10 times = same result" acceptance rule,
  ``docs/RESILIENT_OCR_PLAN.md:412-415``);
- ``_current`` is a one-line pointer file swapped with ``os.replace`` —
  the single atomic commit point. Readers resolve ``_current`` → manifest →
  files; a crash mid-commit leaves the previous snapshot fully intact.

The engine only talks to this thin API, so a real Iceberg catalog
(``spark.read.format("iceberg")``, ``MERGE INTO``, ``expire_snapshots``)
drops in without touching the operators.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class IceboxTable:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        os.makedirs(os.path.join(path, "manifests"), exist_ok=True)

    # -- snapshot plumbing ----------------------------------------------------
    def _current_path(self) -> str:
        return os.path.join(self.path, "_current")

    def current_manifest(self) -> dict | None:
        cp = self._current_path()
        if not os.path.exists(cp):
            return None
        with open(cp) as f:
            name = f.read().strip()
        with open(os.path.join(self.path, "manifests", name)) as f:
            return json.load(f)

    def snapshot_id(self) -> int:
        m = self.current_manifest()
        return m["snapshot_id"] if m else 0

    def exists(self) -> bool:
        return self.current_manifest() is not None

    def applied_tokens(self) -> set:
        m = self.current_manifest()
        return set(m.get("applied_tokens", [])) if m else set()

    def snapshot_for_token(self, token: str) -> dict | None:
        """The manifest of the snapshot whose commit FIRST applied
        ``token`` (walking parent links from the current snapshot).
        Lets a re-run heal work that depends on that snapshot's
        ``added_files`` (e.g. lineage written after the commit)."""
        found = None
        for m in self._walk_snapshots():   # lazy: stops at the boundary
            if token not in m.get("applied_tokens", []):
                break
            found = m
        return found

    def _commit(self, files: list, row_count: int, token: str | None) -> int:
        parent = self.current_manifest()
        snap = (parent["snapshot_id"] + 1) if parent else 1
        tokens = set(parent.get("applied_tokens", [])) if parent else set()
        if token:
            tokens.add(token)
        parent_files = set(parent["files"]) if parent else set()
        manifest = {
            "snapshot_id": snap,
            "parent_snapshot_id": parent["snapshot_id"] if parent else None,
            "files": sorted(files),
            "added_files": sorted(set(files) - parent_files),
            "row_count": row_count,
            "applied_tokens": sorted(tokens),
        }
        name = f"manifest-{snap:08d}.json"
        mpath = os.path.join(self.path, "manifests", name)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)                     # manifest durable
        ctmp = self._current_path() + ".tmp"
        with open(ctmp, "w") as f:
            f.write(name)
        os.replace(ctmp, self._current_path())     # THE atomic commit point
        return snap

    # -- write paths ------------------------------------------------------------
    def _stage_write(self, df: DataFrame) -> tuple[list, int]:
        """Materialize df as immutable parquet files; return (files, rows)."""
        stage = os.path.join(self.path, "data", f"snap-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(stage)
        files = sorted(glob.glob(os.path.join(stage, "*.parquet")))
        rows = 0
        for fp in files:
            import pyarrow.parquet as pq
            rows += pq.ParquetFile(fp).metadata.num_rows
        return files, rows

    def append(self, df: DataFrame, job_token: str | None = None) -> int:
        """Append-commit. If ``job_token`` was already applied → no-op
        (idempotent re-run; the MERGE-idempotence the north rule requires)."""
        if job_token and job_token in self.applied_tokens():
            return self.snapshot_id()
        files, rows = self._stage_write(df)
        return self.commit_staged(files, rows, job_token)

    def stage(self, df: DataFrame) -> tuple[list, int]:
        """Materialize df as UNCOMMITTED immutable files (one computation
        pass, straight to parquet — never through driver memory). Pair with
        ``commit_staged``; a crash between the two leaves only invisible
        orphans, which ``expire_snapshots`` collects."""
        return self._stage_write(df)

    def commit_staged(self, files: list, rows: int,
                      job_token: str | None = None) -> int:
        if job_token and job_token in self.applied_tokens():
            return self.snapshot_id()
        cur = self.current_manifest()
        all_files = (cur["files"] if cur else []) + files
        total = (cur["row_count"] if cur else 0) + rows
        return self._commit(all_files, total, job_token)

    def overwrite(self, df: DataFrame, job_token: str | None = None) -> int:
        if job_token and job_token in self.applied_tokens():
            return self.snapshot_id()
        files, rows = self._stage_write(df)
        return self._commit(files, rows, job_token)

    def merge_upsert(self, spark: SparkSession, df: DataFrame, key: str,
                     job_token: str | None = None) -> int:
        """MERGE INTO emulation: new rows win on ``key`` (last-wins upsert —
        the reference's ``{**existing, **new}`` at ``processor.py:358``).

        Emulated as old LEFT ANTI new ∪ new, committed as a full snapshot.
        Real Iceberg rewrites only matched files; at test scale a full
        rewrite is fine and keeps the commit atomic.
        """
        if job_token and job_token in self.applied_tokens():
            return self.snapshot_id()
        if df.groupBy(key).count().filter("count > 1").limit(1).count():
            raise ValueError(
                f"merge_upsert: incoming batch has duplicate {key!r} values;"
                " DataFrames are unordered so no deterministic last-wins"
                " exists within a batch — dedupe upstream first")
        if not self.exists():
            return self.overwrite(df, job_token)
        old = self.read(spark)
        merged = old.join(df.select(key).distinct(), key, "left_anti") \
                    .unionByName(df)
        # No checkpoint/cache: _stage_write lands in a fresh snap-<uuid>
        # directory, so the read-old / write-new paths never collide, and
        # the merged frame streams task-by-task straight to parquet —
        # nothing is materialized in executor or driver memory (a
        # localCheckpoint here would pin the ENTIRE merged table in
        # executor storage, impossible at 100 TB).
        files, rows = self._stage_write(merged)
        return self._commit(files, rows, job_token)

    # -- read path ----------------------------------------------------------
    def read(self, spark: SparkSession,
             schema: StructType | None = None) -> DataFrame:
        """The current snapshot.  With the table's ``schema`` the read
        runs no job (without it Spark infers the schema from a file
        footer, one job); a file lacking a column of ``schema`` reads it
        as NULL."""
        m = self.current_manifest()
        if m is None or not m["files"]:
            raise FileNotFoundError(f"no current snapshot in {self.path}")
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*m["files"])

    # -- time travel (Iceberg ``VERSION AS OF`` parity) ----------------------
    def _walk_snapshots(self):
        """Lazy newest-first walk of the reachable snapshot chain.

        Generator so early-stopping callers (``snapshot_for_token``
        breaks at the first non-matching manifest, ``expire_snapshots``
        takes ``keep_last``) read O(answer) manifest files, not
        O(chain) — a long-grace table can retain hundreds of chained
        manifests that GC may not remove yet.  A seen-id guard bounds
        the walk if a corrupt/hand-edited ``parent_snapshot_id`` forms
        a cycle: maintenance must terminate on exactly the damaged
        tables it exists to clean up."""
        mdir = os.path.join(self.path, "manifests")
        seen, walk = set(), self.current_manifest()
        while walk is not None:
            if walk["snapshot_id"] in seen:
                break                      # corrupt parent-link cycle
            seen.add(walk["snapshot_id"])
            yield walk
            parent_id = walk.get("parent_snapshot_id")
            if parent_id is None:
                break
            ppath = os.path.join(mdir, f"manifest-{parent_id:08d}.json")
            if not os.path.exists(ppath):
                break                      # expired past this point
            with open(ppath) as f:
                walk = json.load(f)

    def snapshots(self) -> list[dict]:
        """The REACHABLE snapshot chain, newest first — the
        ``table.history()`` analog.  Reachability from ``_current`` via
        parent links (not filename order) defines membership, the same
        liveness rule ``expire_snapshots`` collects by: a crashed
        commit's orphan manifest was never visible and is not
        history."""
        return list(self._walk_snapshots())

    def manifest_at(self, snapshot_id: int) -> dict | None:
        """The manifest of ``snapshot_id`` if still reachable, else
        None (expired snapshots are gone — Iceberg semantics)."""
        for m in self._walk_snapshots():
            if m["snapshot_id"] == snapshot_id:
                return m
        return None

    def read_at(self, spark: SparkSession, snapshot_id: int) -> DataFrame:
        """Time-travel read: the table exactly as of ``snapshot_id``
        (``spark.read.option("snapshot-id", ...)`` parity).  Raises
        ``FileNotFoundError`` for expired/unknown ids — including the
        grace-window state where a young manifest survived
        ``expire_snapshots`` but its (old) data files did not; the
        file-existence check below turns that into the same clean
        error instead of a deep scan failure.  Lineage rows record the
        input snapshot id (plans/pipeline.py), so any past run's exact
        input is re-readable until expiry — the reproducibility half
        of the resume story."""
        m = self.manifest_at(snapshot_id)
        if m is None:
            raise FileNotFoundError(
                f"snapshot {snapshot_id} not reachable in {self.path} "
                "(expired or never committed)")
        if not m["files"]:
            raise FileNotFoundError(
                f"snapshot {snapshot_id} in {self.path} is reachable "
                "but empty (zero data files)")
        gone = [f for f in m["files"] if not os.path.exists(f)]
        if gone:
            raise FileNotFoundError(
                f"snapshot {snapshot_id} data expired in {self.path} "
                f"({len(gone)}/{len(m['files'])} files collected)")
        return spark.read.parquet(*m["files"])

    # -- maintenance (K5 cache-GC analog: cache.py:228-254) ------------------
    def compact(self, spark: SparkSession,
                target_file_mb: int = 256) -> int:
        """Small-file compaction (Iceberg ``rewrite_data_files`` parity).

        Many incremental commits → many small files → scan overhead at
        read time. Rewrites the current snapshot's data into files sized
        ~``target_file_mb`` and commits it as a new snapshot; old files
        become unreferenced and are collected by ``expire_snapshots``.
        Returns the new snapshot id (no-op if already ≤1 file).
        """
        m = self.current_manifest()
        if m is None or len(m["files"]) <= 1:
            return self.snapshot_id()
        total_bytes = sum(os.path.getsize(f) for f in m["files"])
        n_out = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
        df = self.read(spark).coalesce(n_out)
        files, rows = self._stage_write(df)
        return self._commit(files, rows, token=None)
    def expire_snapshots(self, keep_last: int = 1,
                         grace_seconds: float = 3 * 24 * 3600.0) -> int:
        """Drop manifests not reachable from ``_current`` (walking parent
        links up to ``keep_last`` snapshots) and delete data files no
        surviving manifest references. Reachability — NOT filename order —
        defines liveness: a crashed commit may have left a manifest newer
        than ``_current`` on disk; it was never visible and is an orphan,
        while the current snapshot must always survive.

        ``grace_seconds`` (Iceberg orphan-file-removal style, default 3
        days): files/manifests younger than the grace window are NEVER
        collected, so maintenance running concurrently with an in-flight
        job cannot delete freshly ``stage()``-d files whose
        ``commit_staged`` hasn't landed yet. Returns #files removed."""
        import time
        cutoff = time.time() - max(grace_seconds, 0.0)
        mdir = os.path.join(self.path, "manifests")
        manifests = sorted(glob.glob(os.path.join(mdir, "manifest-*.json")))
        # liveness = the snapshots() reachability walk, ONE definition
        # (lazy islice: reads keep_last manifests, not the whole chain)
        live_manifests = list(itertools.islice(
            self._walk_snapshots(), max(keep_last, 1)))
        live = [os.path.join(
                    mdir, f"manifest-{m['snapshot_id']:08d}.json")
                for m in live_manifests]
        referenced = set()
        for m in live_manifests:
            referenced.update(m["files"])
        removed = 0
        for fp in glob.glob(os.path.join(self.path, "data", "*", "*.parquet")):
            if fp not in referenced and os.path.getmtime(fp) < cutoff:
                os.remove(fp)
                removed += 1
        for mp in manifests:
            if mp not in live and os.path.getmtime(mp) < cutoff:
                os.remove(mp)
        return removed
