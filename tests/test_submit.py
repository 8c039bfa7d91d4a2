"""The deployed entry point: `scripts/submit_extract.py` run against the
`--py-files` artifact alone (no checkout on the path), twice over the
same input.  The artifact must be self-contained, the first run's
lineage must account for every doc, and the re-run must commit nothing
new to either table (exactly-once across runs)."""

import json
import os
import subprocess
import sys

import pyspark.sql.functions as F

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
            "--lineage", str(tmp_path / "lineage"),
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
    lineage = CheckpointTable(str(tmp_path / "lineage"))
    assert [s["meta"]["results_snapshot"] for s in lineage.snapshots()] == [
        first["new_snapshot"]
    ]
    lin = lineage.read(spark)
    assert lin.agg(F.sum("doc_count")).first()[0] == len(rows)

    second = _submit(tmp_path, zip_path, input_dir, "run-2")
    assert second["new_snapshot"] is None
    assert second["docs_total"] == first["docs_total"]
    assert second["snapshots"] == first["snapshots"]
    assert len(lineage.snapshots()) == 1
