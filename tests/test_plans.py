"""Plan-shape assertions: the properties that matter at 100 TB.

These tests pin the executed-plan contract of the extraction path —
which exchanges and Python nodes it runs, which filters prune at the
storage layer, where no exchange may appear.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_default_extract_plan_shape(spark, tmp_path):
    """The extract plan caches nothing and joins nothing.  An input with
    no mega-page doc gets the single-pass plan: one scan, one crossing
    into Python (the per-doc refs UDF), no exchange, no union.  One mega
    doc brings in the page branch: a second crossing (the page UDF) and
    the two exchanges of the salted stitch."""
    from mimeograph_spark.corpus import corpus_df, derive_documents
    from mimeograph_spark.plans.pipeline import (
        DEFAULT_PAGE_THRESHOLD,
        extract_flat,
    )

    docs = derive_documents(
        spark.read.parquet(f"{SF}/documents.parquet")
    )
    plan = _plan(extract_flat(docs))
    for bad in ("InMemoryTableScan", "Join", "Union", "Exchange"):
        assert bad not in plan, plan
    assert plan.count("FileScan") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan

    mega = corpus_df(spark, [{
        "doc_id": "mega",
        "spans": [
            {"kind": "media", "text": None, "media_ref": f"pg:mega:{i}",
             "offset": i}
            for i in range(DEFAULT_PAGE_THRESHOLD + 1)
        ],
    }])
    # written out and read back, so the input is one relation as in the
    # first case: a union input would get a per-doc projection per child
    path = str(tmp_path / "with_mega")
    docs.unionByName(mega).write.parquet(path)
    plan = _plan(extract_flat(spark.read.parquet(path)))
    for bad in ("InMemoryTableScan", "Join"):
        assert bad not in plan, plan
    assert plan.count("ArrowEvalPython") == 2, plan
    assert len(re.findall(r"\bExchange ", plan)) == 2, plan


def test_partition_pruning_on_partitioned_sink(spark, tmp_path):
    """Results written partitionBy(status) and read back with a status
    filter must prune at the directory level (PartitionFilters), never
    scanning the complete-status files."""
    from mimeograph_spark.corpus import derive_documents
    from mimeograph_spark.plans.pipeline import extract_flat

    out = str(tmp_path / "by_status")
    docs = derive_documents(spark.read.parquet(f"{SF}/documents.parquet"))
    extract_flat(docs).write.partitionBy("status").mode("overwrite").parquet(out)
    failed = spark.read.parquet(out).filter(F.col("status") == "failed")
    plan = failed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan, plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "status" in pf, plan
    # and the pruning is real: only failed rows come back
    statuses = {r["status"] for r in failed.select("status").distinct().collect()}
    assert statuses <= {"failed"}


def test_interleaved_assembly_is_narrow_zero_exchange(spark):
    """Example assembly is pure per-row array work: the executed plan
    must contain no Exchange, no Join, no Python — one scan, one
    projection chain."""
    from mimeograph_spark.corpus import derive_documents
    from mimeograph_spark.plans.pipeline import assemble_interleaved

    docs = derive_documents(spark.read.parquet(f"{SF}/documents.parquet"))
    plan = (
        assemble_interleaved(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for bad in ("Exchange", "Join", "EvalPython"):
        assert bad not in plan, plan
