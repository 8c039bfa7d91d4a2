#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline (north_rule:
"run via spark-submit --py-files on a multi-executor cluster").

Usage:
    scripts/package.sh
    spark-submit --py-files dist/mimeograph_spark.zip \\
        scripts/submit_extract.py \\
        --input  /path/to/documents_parquet \\
        --results /path/to/results_table \\
        --run-id  run-2026-08-16

Reads the documents table (nested span schema, DOCUMENTS_SCHEMA), runs
the resumable increment `lineage.run_resumable_with_lineage` (the one
the streaming front-end runs per micro-batch), which commits the
results and their per-partition lineage as one snapshot of the results
checkpoint table, and prints a one-line JSON summary.  Re-running after
a crash processes only the documents without committed results
(left-anti join on the snapshots in the results table's commit log); a
re-run with nothing left commits no snapshot.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--results", required=True)
    p.add_argument("--run-id", required=True)
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from mimeograph_spark.session import APP_CONF

    # spark-submit supplies master/deploy config; only app-level
    # settings are set here so the same script runs on any cluster.
    spark = (
        SparkSession.builder.appName(f"mimeograph-extract-{args.run_id}")
        .config(map=APP_CONF)
        .getOrCreate()
    )

    from mimeograph_spark.schema import DOCUMENTS_SCHEMA
    from mimeograph_spark.sources.checkpoint import CheckpointTable
    from mimeograph_spark.sources.lineage import run_resumable_with_lineage

    # the declared schema: a bare read runs a schema-inference job
    docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(args.input)
    results = CheckpointTable(args.results)
    snap = run_resumable_with_lineage(docs, results, run_id=args.run_id)
    done = results.read(spark)
    summary = {
        "run_id": args.run_id,
        "new_snapshot": snap["id"] if snap else None,
        "docs_total": done.count() if done is not None else 0,
        "snapshots": len(results.snapshots()),
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
