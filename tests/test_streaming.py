"""Streaming front-end: same results as batch, exactly-once across
redelivered files (the queue semantics of the reference's resque
worker pool, recast as Structured Streaming + manifest anti-join).
"""

import pyspark.sql.functions as F

from mimeograph_spark.corpus import corpus_df, generate_rows
from mimeograph_spark.oracle import expected_results
from mimeograph_spark.sources.checkpoint import CheckpointTable
from mimeograph_spark.streaming.stream_pipeline import run_stream


def test_stream_matches_batch_oracle(spark, tmp_path):
    rows = generate_rows(n_docs=54, seed=21, megapage_spans=100)
    df = corpus_df(spark, rows)

    input_dir = str(tmp_path / "incoming")
    # Two "arrivals": two separate parquet writes into the watched dir.
    df.filter(F.crc32("doc_id") % 2 == 0).write.mode("append").parquet(input_dir)
    df.filter(F.crc32("doc_id") % 2 == 1).write.mode("append").parquet(input_dir)

    ckpt = CheckpointTable(str(tmp_path / "results"))
    q = run_stream(
        spark, input_dir, ckpt, str(tmp_path / "stream_ckpt"),
        available_now=True, page_threshold=32,
    )
    q.awaitTermination(120)

    out = ckpt.read(spark)
    assert out.count() == len(rows)
    assert out.select("doc_id").distinct().count() == len(rows)
    expected = expected_results(rows)
    for row in out.collect():
        exp = expected[row["doc_id"]]
        assert [s.asDict() for s in row["spans_out"]] == exp["spans_out"]
        assert row["status"] == exp["status"]

    # Redelivery: run a SECOND stream over the same input with a FRESH
    # streaming checkpoint (simulating lost stream state / replay).
    # The manifest anti-join must keep results exactly-once.
    q2 = run_stream(
        spark, input_dir, ckpt, str(tmp_path / "stream_ckpt2"),
        available_now=True, page_threshold=32,
    )
    q2.awaitTermination(120)
    assert ckpt.read(spark).count() == len(rows)
