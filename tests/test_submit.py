"""The deployed entry point: `scripts/submit_extract.py` run against the
`--py-files` artifact alone (no checkout on the path), twice over the
same input.  The artifact must be self-contained, the lineage in the
first run's results log entry must account for every doc, and the
re-run must commit nothing (exactly-once across runs)."""

import json
import os
import subprocess
import sys

from mimeograph_spark.corpus import corpus_df, generate_rows
from mimeograph_spark.sources.checkpoint import CheckpointTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _submit(tmp_path, zip_path, input_dir, run_id):
    env = dict(os.environ, PYTHONPATH=zip_path)
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "submit_extract.py"),
            "--input", input_dir,
            "--results", str(tmp_path / "results"),
            "--run-id", run_id,
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_submit_extract_from_zip_is_exactly_once(spark, tmp_path):
    subprocess.run(
        [os.path.join(REPO, "scripts", "package.sh")], check=True, timeout=60
    )
    zip_path = os.path.join(REPO, "dist", "mimeograph_spark.zip")

    rows = generate_rows(n_docs=24, seed=5, megapage_spans=60)
    input_dir = str(tmp_path / "documents")
    corpus_df(spark, rows).write.parquet(input_dir)

    first = _submit(tmp_path, zip_path, input_dir, "run-1")
    assert first["new_snapshot"] is not None
    assert first["docs_total"] == len(rows)
    results = CheckpointTable(str(tmp_path / "results"))
    snaps = results.snapshots()
    assert [s["id"] for s in snaps] == [first["new_snapshot"]]
    lineage = snaps[0]["meta"]["lineage"]
    assert sum(r["doc_count"] for r in lineage) == len(rows)

    second = _submit(tmp_path, zip_path, input_dir, "run-2")
    assert second["new_snapshot"] is None
    assert second["docs_total"] == first["docs_total"]
    assert second["snapshots"] == first["snapshots"]
    assert len(results.snapshots()) == 1
