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
(``spark.read.format("iceberg")``, ``expire_snapshots``) drops in
without touching the operators.  Upserts need no ``MERGE INTO``:
``plans/pipeline.py::extract_and_commit`` is idempotent through its
url anti-join plus the job token.
"""

from __future__ import annotations

import glob
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Orphans younger than this survive ``expire_snapshots``: an in-flight
# job's staged files may still be waiting for their commit.
ORPHAN_GRACE_SECONDS = 3 * 24 * 3600.0


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
        ``added_files`` (e.g. lineage written after the commit).  None
        when ``expire_snapshots`` removed the parent of the oldest
        snapshot carrying ``token``: tokens accumulate, so the first
        applier is then unknown, and a later snapshot's files must not
        stand in for it."""
        found = None
        for m in self._walk_snapshots():   # lazy: stops at the boundary
            if token not in m.get("applied_tokens", []):
                return found
            found = m
        parent = found and found.get("parent_snapshot_id")
        if parent is not None and not os.path.exists(os.path.join(
                self.path, "manifests", f"manifest-{parent:08d}.json")):
            return None
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
        (an idempotent re-run)."""
        if job_token and job_token in self.applied_tokens():
            return self.snapshot_id()
        files, rows = self._stage_write(df)
        return self.commit_staged(files, rows, job_token)

    def stage(self, df: DataFrame) -> tuple[list, int]:
        """Materialize df as UNCOMMITTED immutable files (one computation
        pass, straight to parquet — never through driver memory). Pair with
        ``commit_staged``; a crash between the two leaves only invisible
        orphans, which ``expire_snapshots`` collects (run by ``cli
        maintain``)."""
        return self._stage_write(df)

    def commit_staged(self, files: list, rows: int,
                      job_token: str | None = None) -> int:
        if job_token and job_token in self.applied_tokens():
            return self.snapshot_id()
        cur = self.current_manifest()
        all_files = (cur["files"] if cur else []) + files
        total = (cur["row_count"] if cur else 0) + rows
        return self._commit(all_files, total, job_token)

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

    # -- snapshot chain ------------------------------------------------------
    def _walk_snapshots(self):
        """Lazy newest-first walk of the reachable snapshot chain.

        Generator so ``snapshot_for_token``, which breaks at the first
        non-matching manifest, reads O(answer) manifest files, not
        O(chain) — a table within the expiry grace window can retain
        hundreds of chained manifests.  A seen-id guard bounds the walk
        if a corrupt/hand-edited ``parent_snapshot_id`` forms a cycle:
        a resume must terminate on a damaged table too."""
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

    # -- maintenance (K5 cache-GC analog: cache.py:228-254) ------------------
    def expire_snapshots(self) -> int:
        """Keep only the current snapshot: drop every other manifest and
        delete data files the current manifest does not reference.
        Reachability from ``_current`` — NOT filename order — defines
        liveness: a crashed commit may have left a manifest newer than
        ``_current`` on disk; it was never visible and is an orphan,
        while the current snapshot must always survive.

        Files and manifests younger than ``ORPHAN_GRACE_SECONDS``
        (Iceberg orphan-file-removal style) are NEVER collected, so
        maintenance running concurrently with an in-flight job cannot
        delete freshly ``stage()``-d files whose ``commit_staged`` hasn't
        landed yet. Returns #files removed."""
        import time
        cutoff = time.time() - ORPHAN_GRACE_SECONDS
        mdir = os.path.join(self.path, "manifests")
        cur = self.current_manifest()
        live = (os.path.join(mdir, f"manifest-{cur['snapshot_id']:08d}.json")
                if cur else None)
        referenced = set(cur["files"]) if cur else set()
        removed = 0
        for fp in glob.glob(os.path.join(self.path, "data", "*", "*.parquet")):
            if fp not in referenced and os.path.getmtime(fp) < cutoff:
                os.remove(fp)
                removed += 1
        for mp in glob.glob(os.path.join(mdir, "manifest-*.json")):
            if mp != live and os.path.getmtime(mp) < cutoff:
                os.remove(mp)
        return removed
