"""Structured Streaming front-end for the extraction pipeline.

The reference consumes a Redis work queue (coffee-resque,
/root/reference/src/mimeograph.coffee:466-479) — new documents arrive
continuously and flow through the same job chain.  The Spark-native
equivalent: a file-source `readStream` over the documents table's
directory (each new parquet file = newly ingested docs), with the
whole batch pipeline applied per micro-batch via `foreachBatch`.

foreachBatch (rather than pure streaming operators) because it lets
each micro-batch run the batch increment itself,
`lineage.run_resumable_with_lineage`, as run
`stream-<run_stream call id>-<batch_id>`: one results log entry per
micro-batch, carrying that batch's lineage.  Exactly-once per doc_id
comes from its anti-join against the results table's commit log,
layered on Structured Streaming's at-least-once redelivery: a replayed
micro-batch finds its doc_ids already committed and commits nothing.
"""

from __future__ import annotations

import uuid

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..schema import DOCUMENTS_SCHEMA
from ..sources.checkpoint import CheckpointTable
from ..sources.lineage import run_resumable_with_lineage


def run_stream(
    spark: SparkSession,
    input_dir: str,
    results_ckpt: CheckpointTable,
    stream_checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming extraction over `input_dir` parquet files;
    results and their lineage go to `results_ckpt`.

    `available_now=True` processes everything currently present and
    stops (the batch-replay / backfill mode); False runs continuously.
    """
    call_id = uuid.uuid4().hex[:12]
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        run_resumable_with_lineage(
            batch_df, results_ckpt, run_id=f"stream-{call_id}-{batch_id}"
        )

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", stream_checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
