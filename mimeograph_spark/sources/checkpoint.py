"""Snapshot-log checkpoint table: Iceberg-style semantics on plain
parquet.

The reference supports replaying a failed/stalled job by id — stale
state is deleted and the job restarts (createJob,
src/mimeograph.coffee:500-512); a `completed` set records finished
jobs when nobody is listening (:694).  At 10^12-doc scale the
equivalent is a resumable run: results land in a checkpoint table in
atomically-committed snapshots, and a restart processes only the
documents that have no committed result yet (`resume_filter`, a
left-anti join; the increment itself is `lineage.py`'s).

No iceberg-spark-runtime jar ships in this sandbox, so this module
implements the minimal slice of the Iceberg table contract the
pipeline needs: append-only snapshots and snapshot isolation for
readers.  Each snapshot is a parquet dir plus one entry, with a
`meta` like an Iceberg snapshot `summary`, in the commit log
`<table>/_log/<seq:06d>.json`.  An entry is committed by a
put-if-absent `os.link` of a fully written, fsynced temp file: two
writers that race for one sequence number cannot both win, and the
loser retries at the next number (what an Iceberg catalog's
compare-and-swap commit gives).  The reference takes job ids from an
atomic Redis INCR (:489-491) the same way, with no lock.  Readers list
only committed entries, so a writer that crashes at any point leaves
files no reader sees and blocks no other writer.  On a cluster with
Iceberg available, `CheckpointTable` maps 1:1 onto an Iceberg table
with `append()` commits; swap the implementation, keep the interface.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..schema import RESULT_SCHEMA


class CheckpointTable:
    """Append-only snapshot table at `path` (local FS or any Hadoop
    path the driver can also reach via the local FS API)."""

    def __init__(self, path: str):
        manifest = os.path.join(path, "manifest.json")
        if os.path.exists(manifest):
            # Its snapshots are not in the log: reading it as empty
            # would re-extract every document and hide the old results.
            raise ValueError(
                f"{manifest}: checkpoint table in the old manifest "
                "format, which has no commit log; write a new table"
            )
        self.path = path
        self._log = os.path.join(path, "_log")
        os.makedirs(self._log, exist_ok=True)

    def _entry(self, seq: int) -> str:
        return os.path.join(self._log, f"{seq:06d}.json")

    def _seqs(self) -> list[int]:
        """Sequence numbers of the committed log entries, in order."""
        return sorted(
            int(n[:-5]) for n in os.listdir(self._log) if n.endswith(".json")
        )

    def snapshots(self) -> list[dict]:
        snaps = []
        for seq in self._seqs():
            with open(self._entry(seq)) as f:
                snaps.append(json.load(f))
        return snaps

    def write(self, df: DataFrame) -> str:
        """Write df to a new uuid-unique data dir, which no reader sees
        until `commit` names it."""
        data_dir = f"snap-{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(os.path.join(self.path, data_dir))
        return data_dir

    def commit(self, data_dir: str, meta: dict | None = None) -> dict:
        """Commit a written data dir as the next log entry.  Any number
        of writers may commit concurrently: a writer whose sequence
        number was taken by another commit retries at the next one."""
        seq = len(self._seqs())
        while True:
            snap = {
                "id": f"snap-{seq:06d}-{data_dir[len('snap-'):]}",
                "dir": data_dir,
                "committed_at": time.time(),
                "meta": meta or {},
            }
            # The temp name has no .json suffix, so no reader lists it.
            tmp = os.path.join(self._log, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "x") as f:
                json.dump(snap, f, indent=1)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, self._entry(seq))
                return snap
            except FileExistsError:
                seq += 1
            finally:
                os.unlink(tmp)

    def append(self, df: DataFrame, meta: dict | None = None) -> dict:
        """Write df and commit it as one snapshot."""
        return self.commit(self.write(df), meta)

    def scan(self, spark: SparkSession, *data_dirs: str) -> DataFrame:
        """The given data dirs of this table, read with RESULT_SCHEMA:
        a declared schema runs no footer-inference job."""
        paths = [os.path.join(self.path, d) for d in data_dirs]
        return spark.read.schema(RESULT_SCHEMA).parquet(*paths)

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Union of committed snapshots (None if the table is empty)."""
        dirs = [s["dir"] for s in self.snapshots()]
        return self.scan(spark, *dirs) if dirs else None


def resume_filter(documents: DataFrame, ckpt: CheckpointTable) -> DataFrame:
    """Drop documents that already have a committed result.

    LEFT ANTI join against the checkpoint's committed doc_ids — the
    only join in the whole pipeline.  The done-keys side is a
    projection of one column; for realistic completion fractions Spark
    broadcasts it (or AQE converts to a broadcast join at runtime), so
    resume adds no full shuffle of the input.
    """
    spark = documents.sparkSession
    done = ckpt.read(spark)
    if done is None:
        return documents
    return documents.join(done.select("doc_id"), on="doc_id", how="left_anti")

