"""Streaming front-end: same results as batch, exactly-once across
redelivered files (the queue semantics of the reference's resque
worker pool, recast as Structured Streaming + an anti-join against the
checkpoint's commit log), and lineage in every results log entry a
micro-batch commits.
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
        available_now=True,
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

    # Each micro-batch's results entry carries its lineage, under its
    # own run id, and the lineage accounts for every doc.
    snaps = ckpt.snapshots()
    run_ids = [s["meta"]["run_id"] for s in snaps]
    assert len(set(run_ids)) == len(run_ids)
    assert all(r.startswith("stream-") for r in run_ids)
    for s in snaps:
        assert {r["run_id"] for r in s["meta"]["lineage"]} == {s["meta"]["run_id"]}
    lin = [r for s in snaps for r in s["meta"]["lineage"]]
    assert sum(r["doc_count"] for r in lin) == len(rows)
    n_results = len(snaps)

    # Redelivery: run a SECOND stream over the same input with a FRESH
    # streaming checkpoint (simulating lost stream state / replay).
    # The anti-join against committed snapshots must keep results
    # exactly-once, and commit nothing.
    q2 = run_stream(
        spark, input_dir, ckpt, str(tmp_path / "stream_ckpt2"),
        available_now=True,
    )
    q2.awaitTermination(120)
    assert ckpt.read(spark).count() == len(rows)
    assert len(ckpt.snapshots()) == n_results
