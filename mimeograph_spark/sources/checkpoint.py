"""Snapshot-manifest checkpoint table: Iceberg-style semantics on
plain parquet.

The reference supports replaying a failed/stalled job by id — stale
state is deleted and the job restarts (createJob,
/root/reference/src/mimeograph.coffee:500-512); a `completed` set
records finished jobs when nobody is listening (:694).  At 10^12-doc
scale the equivalent is a resumable run: results land in a checkpoint
table in atomically-committed snapshots, and a restart processes only
the documents that have no committed result yet (left-anti join).

No iceberg-spark-runtime jar ships in this sandbox, so this module
implements the minimal slice of the Iceberg table contract the
pipeline needs — append-only snapshots, a JSON manifest listing
committed files, snapshot isolation for readers (uncommitted parquet
files are invisible because reads go through the manifest's explicit
file list).  On a cluster with Iceberg available, `CheckpointTable`
maps 1:1 onto an Iceberg table with `append()` commits; swap the
implementation, keep the interface.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_MANIFEST = "manifest.json"
# A manifest lock older than this many seconds is considered leaked by
# a crashed writer and taken over (live writers hold it only for the
# milliseconds of one manifest read+rewrite).
LOCK_STALE_AFTER = 60.0


class CheckpointTable:
    """Append-only snapshot table at `path` (local FS or any Hadoop
    path the driver can also reach via the local FS API)."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    # -- manifest -----------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path()):
            return {"snapshots": []}
        with open(self._manifest_path()) as f:
            return json.load(f)

    # -- table ops ----------------------------------------------------

    def snapshots(self) -> list[dict]:
        return self._read_manifest()["snapshots"]

    def _acquire_lock(self) -> tuple[int, str, str]:
        """Serialize manifest read-modify-commit sections with an
        O_EXCL lock file.  Crash-safety: a writer killed between lock
        creation and unlink must not block writers forever — a lock
        older than LOCK_STALE_AFTER is broken via RENAME to a unique
        name, which atomically claims the takeover for exactly one
        contender (a plain unlink could delete a lock another breaker
        just re-created).

        Each lock carries a unique OWNERSHIP TOKEN.  A live writer
        whose lock was broken (a GC/FS stall longer than
        LOCK_STALE_AFTER inside the critical section) discovers the
        loss when it re-verifies the token — before committing the
        manifest and before unlinking on release — and raises instead
        of committing over the usurper's update or deleting the
        usurper's fresh lock.  (A real Iceberg catalog gets the same
        guarantee from its compare-and-swap commit.)"""
        lock_path = os.path.join(self.path, ".manifest.lock")
        token = uuid.uuid4().hex
        deadline = time.time() + 60.0
        while True:
            try:
                fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(
                    fd,
                    json.dumps(
                        {"pid": os.getpid(), "ts": time.time(),
                         "token": token}
                    ).encode(),
                )
                os.fsync(fd)
                return fd, lock_path, token
            except FileExistsError:
                try:
                    age = time.time() - os.stat(lock_path).st_mtime
                except FileNotFoundError:
                    continue  # released between open() and stat()
                if age > LOCK_STALE_AFTER:
                    takeover = f"{lock_path}.stale.{uuid.uuid4().hex}"
                    try:
                        os.rename(lock_path, takeover)
                        os.unlink(takeover)
                    except FileNotFoundError:
                        pass  # another contender won the takeover
                    continue
                if time.time() > deadline:
                    raise TimeoutError(
                        f"manifest lock {lock_path} held for >60s by a "
                        "live writer (lock is fresh, so stale-takeover "
                        "does not apply) — investigate the holder"
                    )
                time.sleep(0.05)

    @staticmethod
    def _owns_lock(lock_path: str, token: str) -> bool:
        try:
            with open(lock_path) as f:
                return json.load(f).get("token") == token
        except (FileNotFoundError, ValueError):
            return False

    def _commit_manifest_owned(
        self, manifest: dict, lock_path: str, token: str
    ) -> None:
        """Commit only while still holding the lock: if the token no
        longer matches (a stale-takeover fired during a stall), raise
        — committing would silently overwrite the usurper's manifest
        update (lost update)."""
        if not self._owns_lock(lock_path, token):
            raise RuntimeError(
                "manifest lock ownership lost (stale-takeover while "
                "this writer stalled inside the critical section); "
                "refusing to commit — retry the operation"
            )
        # Atomic: write to a temp file, rename over the manifest.  A
        # crash mid-append leaves orphan parquet dirs that no manifest
        # references — invisible to readers, clean replay semantics
        # (the reference's stale-state delete, mimeograph.coffee:503-506).
        tmp = self._manifest_path() + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path())

    @staticmethod
    def _release_lock(fd: int, lock_path: str, token: str) -> None:
        os.close(fd)
        # unlink only our OWN lock: after a stale-takeover the file at
        # lock_path is a successor's fresh lock, not ours.  The
        # check-then-unlink window is a benign TOCTOU: a takeover that
        # lands between the two calls either removes the file first
        # (tolerate FileNotFoundError) or, in the worst interleaving,
        # loses its fresh lock — acceptable for a lockfile scheme whose
        # writers already verify the ownership token before committing.
        if CheckpointTable._owns_lock(lock_path, token):
            try:
                os.unlink(lock_path)
            except FileNotFoundError:
                pass

    def append(self, df: DataFrame, meta: dict | None = None) -> dict:
        """Write df as a new snapshot; commit it to the manifest.

        Concurrency contract: the data write is safe for any number of
        writers (snapshot dirs are uuid-unique), but the manifest
        read-append-commit is serialized by the lock — without it, two
        concurrent appends (e.g. a stream plus a batch backfill
        sharing a table) could each read the same manifest and the
        second commit would silently drop the first's snapshot.  A
        real Iceberg catalog provides this with optimistic commit
        retries; the lock is the single-filesystem equivalent."""
        snap_id = f"snap-{uuid.uuid4().hex[:12]}"
        data_dir = os.path.join(self.path, snap_id)
        df.write.mode("overwrite").parquet(data_dir)
        fd, lock_path, token = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            snap = {
                "id": f"snap-{len(manifest['snapshots']):06d}-{snap_id[5:]}",
                "dir": snap_id,
                "committed_at": time.time(),
                "meta": meta or {},
            }
            manifest["snapshots"].append(snap)
            self._commit_manifest_owned(manifest, lock_path, token)
        finally:
            self._release_lock(fd, lock_path, token)
        return snap

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Union of committed snapshots (None if the table is empty)."""
        dirs = [os.path.join(self.path, s["dir"]) for s in self.snapshots()]
        if not dirs:
            return None
        # mergeSchema: snapshots written after an add-column evolve
        # the table schema; older rows surface NULL for new columns.
        return spark.read.option("mergeSchema", "true").parquet(*dirs)


def resume_filter(
    documents: DataFrame, ckpt: CheckpointTable, key: str = "doc_id"
) -> DataFrame:
    """Drop documents that already have a committed result.

    LEFT ANTI join against the checkpoint's committed keys — the only
    join in the whole pipeline.  The done-keys side is a projection of
    one column; for realistic completion fractions Spark broadcasts it
    (or AQE converts to a broadcast join at runtime), so resume adds no
    full shuffle of the input.
    """
    spark = documents.sparkSession
    done = ckpt.read(spark)
    if done is None:
        return documents
    return documents.join(done.select(key), on=key, how="left_anti")


def run_resumable(
    documents: DataFrame,
    ckpt: CheckpointTable,
    pipeline_fn,
    meta: dict | None = None,
) -> dict | None:
    """One resumable increment: process the not-yet-done documents and
    commit their results as a snapshot.  Returns the snapshot (None if
    nothing was left to do).  Crash-safe: a failure before the manifest
    commit leaves no visible partial state, so a rerun redoes exactly
    the unfinished work (exactly-once results per doc_id across
    restarts)."""
    todo = resume_filter(documents, ckpt)
    if todo.isEmpty():
        return None
    return ckpt.append(pipeline_fn(todo), meta=meta)
