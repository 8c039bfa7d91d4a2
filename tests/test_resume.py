"""Checkpoint/resume semantics: kill-and-resume produces exactly-once
per-doc results identical to a single uninterrupted run (replay
semantics of src/mimeograph.coffee:500-512), plus lineage accounting.
"""

import pyspark.sql.functions as F
import pytest

from mimeograph_spark.corpus import corpus_df, generate_rows
from mimeograph_spark.oracle import expected_results
from mimeograph_spark.plans.pipeline import extract
from mimeograph_spark.sources.checkpoint import CheckpointTable, resume_filter, run_resumable
from mimeograph_spark.sources.lineage import run_resumable_with_lineage


@pytest.fixture()
def corpus(spark):
    rows = generate_rows(n_docs=72, seed=13, megapage_spans=150)
    return rows, corpus_df(spark, rows)


def _pipeline(df):
    return extract(df, page_threshold=32)


def test_kill_and_resume_equals_single_run(spark, tmp_path, corpus):
    rows, docs = corpus
    ckpt = CheckpointTable(str(tmp_path / "results"))

    # "First run" processes only half the docs, then dies (simulated by
    # feeding the pipeline a partial input before the crash).
    first_half = docs.filter(F.crc32("doc_id") % 2 == 0)
    run_resumable(first_half, ckpt, _pipeline)
    n_first = ckpt.read(spark).count()
    assert 0 < n_first < len(rows)

    # Resume over the FULL input: only the missing docs run.
    todo = resume_filter(docs, ckpt)
    assert todo.count() == len(rows) - n_first
    run_resumable(docs, ckpt, _pipeline)

    # Third run: nothing left, no new snapshot.
    assert run_resumable(docs, ckpt, _pipeline) is None
    assert len(ckpt.snapshots()) == 2

    # Exactly-once per doc, and equal to the oracle.
    final = ckpt.read(spark)
    assert final.count() == len(rows)
    assert final.select("doc_id").distinct().count() == len(rows)
    expected = expected_results(rows)
    for row in final.collect():
        exp = expected[row["doc_id"]]
        assert [s.asDict() for s in row["spans_out"]] == exp["spans_out"]
        assert row["status"] == exp["status"]
        assert list(row["error_pages"]) == exp["error_pages"]


def test_uncommitted_snapshot_is_invisible(spark, tmp_path, corpus):
    _, docs = corpus
    ckpt = CheckpointTable(str(tmp_path / "r2"))
    run_resumable(docs.limit(10), ckpt, _pipeline)
    # Simulate a crash mid-append: parquet written but manifest not
    # committed -> write a stray dir directly.
    _pipeline(docs.limit(5)).write.mode("overwrite").parquet(
        str(tmp_path / "r2" / "snap-orphan")
    )
    assert ckpt.read(spark).count() == 10  # orphan invisible


def test_lineage_accounts_for_all_docs(spark, tmp_path, corpus):
    rows, docs = corpus
    results = CheckpointTable(str(tmp_path / "res"))
    lineage = CheckpointTable(str(tmp_path / "lin"))
    run_resumable_with_lineage(
        docs, results, lineage, _pipeline, run_id="run-1"
    )
    lin = lineage.read(spark)
    agg = lin.agg(
        F.sum("doc_count").alias("docs"),
        F.sum("span_count").alias("spans"),
        F.sum("error_count").alias("errs"),
    ).collect()[0]
    assert agg["docs"] == len(rows)
    expected = expected_results(rows)
    assert agg["spans"] == sum(len(e["spans_out"]) for e in expected.values())
    assert agg["errs"] == sum(len(e["error_pages"]) for e in expected.values())
    cols = set(lin.columns)
    assert {"run_id", "stage", "partition_id", "started", "ended", "status"} <= cols


def test_lineage_conforms_to_declared_schema(spark, tmp_path, corpus):
    """LINEAGE_SCHEMA is the declared contract for lineage sinks — the
    produced frame must match it name-for-name, type-for-type."""
    from datetime import datetime, timezone

    from mimeograph_spark.schema import LINEAGE_SCHEMA
    from mimeograph_spark.sources.lineage import lineage_rows

    _, docs = corpus
    lin = lineage_rows(
        _pipeline(docs), "run-x", "extract",
        datetime.now(timezone.utc),
    )
    got = [(f.name, f.dataType.simpleString()) for f in lin.schema.fields]
    want = [(f.name, f.dataType.simpleString()) for f in LINEAGE_SCHEMA.fields]
    assert got == want


def test_concurrent_appends_keep_all_snapshots(spark, tmp_path, corpus):
    """Two writers appending to one table must not lose either commit
    (the manifest read-modify-write is serialized by the lock file)."""
    import threading

    _, docs = corpus
    ckpt = CheckpointTable(str(tmp_path / "conc"))
    frames = [docs.limit(3).select("doc_id"), docs.limit(5).select("doc_id")]
    errs = []

    def writer(df):
        try:
            ckpt.append(df)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(f,)) for f in frames]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert len(ckpt.snapshots()) == 2
    assert ckpt.read(spark).count() == 8


def test_stale_manifest_lock_is_taken_over(spark, tmp_path, corpus):
    """A lock leaked by a crashed writer (older than LOCK_STALE_AFTER)
    must be broken automatically — append succeeds instead of raising
    TimeoutError and asking a human to delete the file."""
    import os
    import time

    ckpt = CheckpointTable(str(tmp_path / "stale"))
    lock = os.path.join(ckpt.path, ".manifest.lock")
    with open(lock, "w") as f:
        f.write('{"pid": 0, "ts": 0}')
    past = time.time() - 3600
    os.utime(lock, (past, past))
    _, docs = corpus
    snap = ckpt.append(docs.limit(3))
    assert snap["id"].startswith("snap-")
    assert len(ckpt.snapshots()) == 1
    assert not os.path.exists(lock)  # released after commit


def test_schema_evolution_add_column(spark, tmp_path):
    """A later snapshot may add a column; reads merge schemas and old
    rows surface NULL (the Iceberg add-column contract)."""
    ckpt = CheckpointTable(str(tmp_path / "evo"))
    ckpt.append(spark.createDataFrame([(1, "a")], "k long, s string"))
    ckpt.append(
        spark.createDataFrame([(2, "b", "en")], "k long, s string, lang string")
    )

    raw = ckpt.read(spark)
    assert set(raw.columns) == {"k", "s", "lang"}
    got = {r["k"]: r["lang"] for r in raw.collect()}
    assert got == {1: None, 2: "en"}


def test_lost_lock_ownership_refuses_commit(spark, tmp_path):
    """A writer whose lock was stale-taken-over mid-critical-section
    (GC/FS stall) must NOT commit the manifest over the usurper's
    update, and its release must NOT unlink the usurper's fresh lock."""
    import json
    import os

    ckpt = CheckpointTable(str(tmp_path / "own"))
    fd, lock_path, token = ckpt._acquire_lock()
    # simulate a takeover: usurper replaces the lock with its own
    os.unlink(lock_path)
    with open(lock_path, "w") as f:
        json.dump({"pid": 0, "ts": 0, "token": "usurper"}, f)
    with pytest.raises(RuntimeError, match="ownership lost"):
        ckpt._commit_manifest_owned(
            {"snapshots": []}, lock_path, token
        )
    ckpt._release_lock(fd, lock_path, token)
    # the usurper's lock survives our release
    assert os.path.exists(lock_path)
    with open(lock_path) as f:
        assert json.load(f)["token"] == "usurper"
    os.unlink(lock_path)
