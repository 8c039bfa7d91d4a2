"""The one resumable increment, and its per-partition lineage +
metrics rows (north_rule accounting).  spark-submit runs it once per
run, streaming once per micro-batch.

The rows mirror the reference's per-job Redis hash bookkeeping —
`started` (src/mimeograph.coffee:507), `num_pages` (:564),
`num_processed` (:611), `error_pages` (:676), `ended`/`status`
(:677-678) — but at the granularity Spark actually executes: one row
per (run, stage, writing partition), so a 1000-executor run exposes
exactly which partitions produced what and where errors concentrated.
Like the reference's hash, they live with the job: in its results log
entry (`meta["lineage"]`), so results and lineage commit atomically.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.pipeline import extract
from ..schema import STATUS_COMPLETE, STATUS_FAILED
from .checkpoint import CheckpointTable, resume_filter


def _counters() -> list:
    """The doc/span/error/failed counters of a RESULT_SCHEMA frame, as
    aggregate expressions."""
    def total(c):
        return F.coalesce(F.sum(c), F.lit(0)).cast("long")

    return [
        F.count(F.lit(1)).alias("doc_count"),
        total(F.size("spans_out")).alias("span_count"),
        total(F.size("error_pages")).alias("error_count"),
        total(F.when(F.col("status") == STATUS_FAILED, 1).otherwise(0))
        .alias("failed_doc_count"),
    ]


def lineage_rows(
    results: DataFrame, run_id: str, stage: str, started: datetime
) -> DataFrame:
    """One lineage/metrics row per partition that wrote a result
    snapshot (RESULT_SCHEMA, read back from its files).  Its id
    is the write task's `part-NNNNN` file number: a read split packs
    small files, so the read's `spark_partition_id()` is not it."""
    ended = datetime.now(timezone.utc)
    part = F.regexp_extract("_metadata.file_name", r"part-(\d+)", 1)
    counts = results.groupBy(
        part.cast("int").alias("partition_id")
    ).agg(*_counters())
    return counts.select(
        F.lit(run_id).alias("run_id"),
        F.lit(stage).alias("stage"),
        *counts.columns,
        F.lit(started).alias("started"),
        F.lit(ended).alias("ended"),
        F.lit(STATUS_COMPLETE).alias("status"),
    )


def run_resumable_with_lineage(
    documents: DataFrame, results_ckpt: CheckpointTable, run_id: str
) -> dict | None:
    """One resumable increment: anti-join the committed doc_ids,
    extract the rest, write them, and commit the written dir as one
    log entry whose meta holds the run id and the per-partition
    lineage of exactly those files.  Returns the snapshot, or None
    (committing nothing) if no doc is left.  A crash at any point
    before the commit leaves no visible results and no lineage, so a
    rerun redoes exactly the unfinished work."""
    started = datetime.now(timezone.utc)
    todo = resume_filter(documents, results_ckpt)
    # One job, cheaper than writing and dropping an empty snapshot dir.
    if todo.isEmpty():
        return None
    data_dir = results_ckpt.write(extract(todo))
    written = results_ckpt.scan(documents.sparkSession, data_dir)
    rows = lineage_rows(written, run_id, "extract", started).collect()
    # JSON rows; timestamps (collected as naive local time) as ISO UTC.
    lineage = [
        {k: v.astimezone(timezone.utc).isoformat()
         if isinstance(v, datetime) else v for k, v in r.asDict().items()}
        for r in sorted(rows, key=lambda r: r.partition_id)
    ]
    return results_ckpt.commit(data_dir, {"run_id": run_id, "lineage": lineage})
