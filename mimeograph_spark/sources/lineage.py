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

from .checkpoint import CheckpointTable, run_resumable


def lineage_rows(
    results: DataFrame, run_id: str, stage: str, started: datetime
) -> DataFrame:
    """Aggregate a result DataFrame (RESULT_SCHEMA) into one
    lineage/metrics row per physical partition."""
    ended = datetime.now(timezone.utc)
    return (
        results.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum(F.size("spans_out")).cast("long").alias("span_count"),
            F.sum(F.size("error_pages")).cast("long").alias("error_count"),
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0))
            .cast("long")
            .alias("failed_doc_count"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            "partition_id",
            "doc_count",
            "span_count",
            "error_count",
            "failed_doc_count",
            F.lit(started).alias("started"),
            F.lit(ended).alias("ended"),
            F.lit("complete").alias("status"),
        )
    )


def run_resumable_with_lineage(
    documents: DataFrame,
    results_ckpt: CheckpointTable,
    lineage_ckpt: CheckpointTable,
    pipeline_fn,
    run_id: str,
    stage: str = "extract",
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
        lineage_rows(committed, run_id, stage, started),
        meta={"run_id": run_id, "results_snapshot": snap["id"]},
    )
    return snap


def observe_results(results: DataFrame, name: str = "extract_metrics"):
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

    obs = Observation(name)
    observed = results.observe(
        obs,
        F.count(F.lit(1)).alias("doc_count"),
        F.coalesce(F.sum(F.size("spans_out")), F.lit(0))
        .cast("long")
        .alias("span_count"),
        F.coalesce(F.sum(F.size("error_pages")), F.lit(0))
        .cast("long")
        .alias("error_count"),
        F.coalesce(
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("failed_doc_count"),
    )
    return observed, obs
