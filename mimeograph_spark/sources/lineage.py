"""Per-partition lineage + metrics rows (north_rule accounting).

Mirrors the reference's per-job Redis hash bookkeeping — `started`
(src/mimeograph.coffee:507), `num_pages` (:564), `num_processed`
(:611), `error_pages` (:676), `ended`/`status` (:677-678) — but at the
granularity Spark actually executes: one row per (run, stage,
partition), so a 1000-executor run exposes exactly which partitions
produced what and where errors concentrated.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import STATUS_COMPLETE, STATUS_FAILED
from .checkpoint import CheckpointTable, run_resumable


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
    """Aggregate a result DataFrame (RESULT_SCHEMA) into one
    lineage/metrics row per physical partition."""
    ended = datetime.now(timezone.utc)
    counts = results.groupBy(
        F.spark_partition_id().alias("partition_id")
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
    documents: DataFrame,
    results_ckpt: CheckpointTable,
    lineage_ckpt: CheckpointTable,
    pipeline_fn,
    run_id: str,
) -> dict | None:
    """One resumable increment with lineage: anti-join done doc_ids,
    run the pipeline on the remainder, commit results, then commit the
    per-partition metrics computed from the COMMITTED snapshot (so the
    lineage describes exactly the data that became visible — a crash
    between the two commits costs only lineage, never result
    correctness)."""
    started = datetime.now(timezone.utc)
    snap = run_resumable(
        documents, results_ckpt, pipeline_fn, meta={"run_id": run_id}
    )
    if snap is None:
        return None
    committed = documents.sparkSession.read.parquet(
        f"{results_ckpt.path}/{snap['dir']}"
    )
    lineage_ckpt.append(
        lineage_rows(committed, run_id, "extract", started),
        meta={"run_id": run_id, "results_snapshot": snap["id"]},
    )
    return snap


def observe_results(results: DataFrame):
    """Attach a Spark `Observation` to a RESULT_SCHEMA frame: the same
    doc/span/error/failed counters as `lineage_rows`, but collected
    AS A SIDE EFFECT of whatever action the caller already runs — zero
    extra jobs, zero extra scans (lineage_rows costs one more
    aggregation pass; an Observation rides the existing one).  Returns
    (observed_df, observation); read `observation.get` after the first
    action completes.

    This is the in-flight half of the reference's job bookkeeping
    (mimeograph.coffee:507-678 updates Redis counters while the job
    runs); the persisted half stays `lineage_rows` -> CheckpointTable.
    """
    from pyspark.sql import Observation

    obs = Observation("extract_metrics")
    return results.observe(obs, *_counters()), obs
