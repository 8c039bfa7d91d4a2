"""Checkpoint/resume semantics: kill-and-resume produces exactly-once
per-doc results identical to a single uninterrupted run (replay
semantics of src/mimeograph.coffee:500-512), plus lineage accounting
in the results log entry each increment commits.
"""

import os
import re
from datetime import datetime, timedelta

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from mimeograph_spark.corpus import corpus_df, generate_rows
from mimeograph_spark.oracle import expected_results
from mimeograph_spark.plans.pipeline import extract
from mimeograph_spark.schema import LINEAGE_SCHEMA
from mimeograph_spark.sources.checkpoint import CheckpointTable, resume_filter
from mimeograph_spark.sources.lineage import run_resumable_with_lineage


@pytest.fixture()
def corpus(spark):
    rows = generate_rows(n_docs=72, seed=13, megapage_spans=150)
    return rows, corpus_df(spark, rows)


def test_kill_and_resume_equals_single_run(spark, tmp_path, corpus):
    rows, docs = corpus
    ckpt = CheckpointTable(str(tmp_path / "results"))

    # "First run" processes only half the docs, then dies (simulated by
    # feeding the pipeline a partial input before the crash).
    first_half = docs.filter(F.crc32("doc_id") % 2 == 0)
    run_resumable_with_lineage(first_half, ckpt, "run-1")
    n_first = ckpt.read(spark).count()
    assert 0 < n_first < len(rows)

    # Resume over the FULL input: only the missing docs run.
    todo = resume_filter(docs, ckpt)
    assert todo.count() == len(rows) - n_first
    run_resumable_with_lineage(docs, ckpt, "run-2")

    # Third run: nothing left, no new snapshot.
    assert run_resumable_with_lineage(docs, ckpt, "run-3") is None
    assert len(ckpt.snapshots()) == 2

    # Every committed entry carries the lineage of its own docs.
    for snap in ckpt.snapshots():
        assert snap["meta"]["lineage"]
        assert sum(r["doc_count"] for r in snap["meta"]["lineage"]) == (
            ckpt.scan(spark, snap["dir"]).count()
        )

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


def test_uncommitted_snapshot_is_invisible(spark, tmp_path, corpus, monkeypatch):
    rows, docs = corpus
    ckpt = CheckpointTable(str(tmp_path / "r2"))
    run_resumable_with_lineage(docs.limit(10), ckpt, "run-1")
    # Simulate a crash mid-append: parquet written but no log entry
    # committed -> write a stray dir directly.
    extract(docs.limit(5)).write.mode("overwrite").parquet(
        str(tmp_path / "r2" / "snap-orphan")
    )
    assert ckpt.read(spark).count() == 10  # orphan invisible

    # A crash between the increment's write and its commit: the written
    # results and their lineage are both invisible.
    def crash(self, data_dir, meta=None):
        raise RuntimeError("crashed before commit")

    dirs = set(os.listdir(ckpt.path))
    monkeypatch.setattr(CheckpointTable, "commit", crash)
    with pytest.raises(RuntimeError, match="crashed before commit"):
        run_resumable_with_lineage(docs, ckpt, "run-2")
    monkeypatch.undo()
    assert len(set(os.listdir(ckpt.path)) - dirs) == 1  # the written dir
    assert [s["meta"]["run_id"] for s in ckpt.snapshots()] == ["run-1"]
    assert ckpt.read(spark).count() == 10

    # The rerun commits the rest exactly once, with its lineage.
    snap = run_resumable_with_lineage(docs, ckpt, "run-3")
    assert [s["meta"]["run_id"] for s in ckpt.snapshots()] == ["run-1", "run-3"]
    assert ckpt.read(spark).count() == len(rows)
    lineage = snap["meta"]["lineage"]
    assert sum(r["doc_count"] for r in lineage) == len(rows) - 10
    for r in lineage:
        started = datetime.fromisoformat(r["started"])
        ended = datetime.fromisoformat(r["ended"])
        assert started.utcoffset() == ended.utcoffset() == timedelta(0)
        assert started <= ended


def test_lineage_accounts_for_all_docs(spark, tmp_path, corpus):
    rows, docs = corpus
    results = CheckpointTable(str(tmp_path / "res"))
    snap = run_resumable_with_lineage(docs, results, run_id="run-1")
    lin_rows = snap["meta"]["lineage"]
    assert [s["meta"] for s in results.snapshots()] == [snap["meta"]]
    assert sum(r["doc_count"] for r in lin_rows) == len(rows)
    expected = expected_results(rows)
    assert sum(r["span_count"] for r in lin_rows) == sum(
        len(e["spans_out"]) for e in expected.values()
    )
    assert sum(r["error_count"] for r in lin_rows) == sum(
        len(e["error_pages"]) for e in expected.values()
    )
    assert all(list(r) == LINEAGE_SCHEMA.names for r in lin_rows)

    # One row per part file of the committed snapshot, keyed by the
    # write task's partition number and counting that file's docs (a
    # read split may pack several small files together).
    snap_dir = os.path.join(results.path, snap["dir"])
    parts = {
        int(re.match(r"part-(\d+)", name).group(1)):
            pq.read_metadata(os.path.join(snap_dir, name)).num_rows
        for name in os.listdir(snap_dir)
        if name.startswith("part-")
    }
    assert len(parts) > 1
    assert len(lin_rows) == len(parts)
    assert {r["partition_id"]: r["doc_count"] for r in lin_rows} == parts


def test_lineage_conforms_to_declared_schema(spark, tmp_path, corpus):
    """LINEAGE_SCHEMA is the declared contract for lineage sinks — the
    frame produced from a committed snapshot must match it
    name-for-name, type-for-type."""
    from datetime import datetime, timezone

    from mimeograph_spark.schema import LINEAGE_SCHEMA
    from mimeograph_spark.sources.lineage import lineage_rows

    _, docs = corpus
    results = CheckpointTable(str(tmp_path / "res"))
    snap = results.append(extract(docs))
    lin = lineage_rows(
        spark.read.parquet(os.path.join(results.path, snap["dir"])),
        "run-x", "extract", datetime.now(timezone.utc),
    )
    got = [(f.name, f.dataType.simpleString()) for f in lin.schema.fields]
    want = [(f.name, f.dataType.simpleString()) for f in LINEAGE_SCHEMA.fields]
    assert got == want


def test_resume_filter_runs_no_job(spark, tmp_path, corpus):
    """Building the anti-join and reading the table run no Spark job:
    the snapshots are read with their declared schema, so no job reads
    parquet footers to infer it."""
    _, docs = corpus
    ckpt = CheckpointTable(str(tmp_path / "nojob"))
    ckpt.append(extract(docs.filter(F.crc32("doc_id") % 3 == 0)))
    ckpt.append(extract(docs.filter(F.crc32("doc_id") % 3 == 1)))
    sc = spark.sparkContext
    group = "resume-filter-plan-only"
    sc.setJobGroup(group, "build the resume anti-join")
    try:
        resume_filter(docs, ckpt)
        ckpt.read(spark)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_concurrent_appends_keep_all_snapshots(spark, tmp_path, corpus):
    """Eight writers appending to one table at once must each commit,
    under the contiguous log sequence numbers 0-7: a writer that loses
    the race for a number retries at the next one."""
    import sys
    import threading

    _, docs = corpus
    ckpt = CheckpointTable(str(tmp_path / "conc"))
    frames = [docs.limit(k).select("doc_id") for k in range(1, 9)]
    errs = []

    def writer(df):
        try:
            ckpt.append(df)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(f,)) for f in frames]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errs
    seqs = [int(s["id"].split("-")[1]) for s in ckpt.snapshots()]
    assert seqs == list(range(8))
    assert ckpt.read(spark).count() == sum(range(1, 9))


def test_crashed_commit_is_invisible_and_blocks_nothing(spark, tmp_path, corpus):
    """A writer killed after writing its data and its temp log entry,
    but before the commit link, leaves nothing a reader lists, and the
    next append commits as seq 0."""
    import json

    _, docs = corpus
    ckpt = CheckpointTable(str(tmp_path / "crash"))
    docs.limit(5).write.parquet(os.path.join(ckpt.path, "snap-crashed"))
    with open(os.path.join(ckpt.path, "_log", ".tmp-crashed"), "w") as f:
        json.dump({"id": "snap-000000-crashed", "dir": "snap-crashed",
                   "committed_at": 0, "meta": {}}, f)
    assert ckpt.snapshots() == []
    assert ckpt.read(spark) is None

    snap = ckpt.append(docs.limit(3))
    assert snap["id"].startswith("snap-000000-")
    assert [s["id"] for s in ckpt.snapshots()] == [snap["id"]]
    assert ckpt.read(spark).count() == 3


def test_commit_never_overwrites_an_earlier_commit(spark, tmp_path, corpus, monkeypatch):
    """A writer that counted the log before another writer committed
    tries a sequence number that is already taken: its commit must
    land at the next number, and both snapshots must stay visible."""
    _, docs = corpus
    ckpt = CheckpointTable(str(tmp_path / "race"))
    first = ckpt.append(docs.limit(3))
    monkeypatch.setattr(CheckpointTable, "_seqs", lambda self: [])
    second = ckpt.append(docs.limit(5))
    monkeypatch.undo()
    assert first["id"].startswith("snap-000000-")
    assert second["id"].startswith("snap-000001-")
    assert [s["id"] for s in ckpt.snapshots()] == [first["id"], second["id"]]
    assert ckpt.read(spark).count() == 8


def test_old_manifest_table_is_refused(tmp_path):
    """A table written in the manifest format has no commit log; opening
    it must fail loudly, not read as empty and re-extract everything."""
    table = tmp_path / "old"
    table.mkdir()
    (table / "manifest.json").write_text('{"snapshots": []}')
    with pytest.raises(ValueError, match="manifest.json"):
        CheckpointTable(str(table))

