"""Structured Streaming front-end for the extraction pipeline.

The reference consumes a Redis work queue (coffee-resque,
/root/reference/src/mimeograph.coffee:466-479) — new documents arrive
continuously and flow through the same job chain.  The Spark-native
equivalent: a file-source `readStream` over the documents table's
directory (each new parquet file = newly ingested docs), with the
whole batch pipeline applied per micro-batch via `foreachBatch`.

foreachBatch (rather than pure streaming operators) because the
pipeline's mega-doc path contains a groupBy-collect stitch that has no
incremental formulation — and because it lets the stream share the
exact same extract() code path, checkpoint table, and resume
anti-join as batch runs.  Exactly-once per doc_id comes from OUR
anti-join against the checkpoint's commit log, layered on Structured
Streaming's at-least-once redelivery: a replayed micro-batch finds its
doc_ids already committed and writes nothing.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.pipeline import DEFAULT_PAGE_THRESHOLD, extract
from ..schema import DOCUMENTS_SCHEMA
from ..sources.checkpoint import CheckpointTable, run_resumable


def run_stream(
    spark: SparkSession,
    input_dir: str,
    results_ckpt: CheckpointTable,
    stream_checkpoint_dir: str,
    available_now: bool = True,
    page_threshold: int = DEFAULT_PAGE_THRESHOLD,
) -> StreamingQuery:
    """Start the streaming extraction over `input_dir` parquet files.

    `available_now=True` processes everything currently present and
    stops (the batch-replay / backfill mode); False runs continuously.
    """
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        run_resumable(
            batch_df,
            results_ckpt,
            lambda todo: extract(todo, page_threshold),
            meta={"batch_id": batch_id},
        )

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", stream_checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
