"""Plan-shape assertions: the properties that matter at 100 TB.

These tests pin the executed-plan contract of the extraction path —
which exchanges and Python nodes it runs, which filters prune at the
storage layer, where no exchange may appear — and the scale-killers no
driver query may plan.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"

# driver queries where Python eval nodes are the point (the OCR UDFs)
PYTHON_OK = {"pipeline_extract", "ocr_pages"}
PYTHON_NODE = re.compile(r"EvalPython|MapInPandas|MapInArrow|FlatMap\w*InPandas")
MAX_FILE_SCANS = 4


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _node_names(jplan) -> list[str]:
    """Names of every node of a physical plan, entering an adaptive
    plan's current plan and a query stage's plan; an in-memory scan is
    a leaf, so a cached plan is not counted twice."""
    name = jplan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _node_names(jplan.executedPlan())
    if name.endswith("QueryStage"):
        return _node_names(jplan.plan())
    out = [name]
    it = jplan.children().iterator()
    while it.hasNext():
        out.extend(_node_names(it.next()))
    return out


def test_default_extract_plan_shape(spark, tmp_path):
    """Every input gets the one extract plan: one scan, one crossing
    into Python (the per-doc refs UDF), and no cache, join, union or
    exchange, also when the input holds a 5,000-page scanned doc."""
    from mimeograph_spark.corpus import corpus_df, derive_documents
    from mimeograph_spark.plans.pipeline import extract_flat

    docs = derive_documents(
        spark.read.parquet(f"{SF}/documents.parquet")
    )
    mega = corpus_df(spark, [{
        "doc_id": "mega",
        "spans": [
            {"kind": "media", "text": None, "media_ref": f"pg:mega:{i}",
             "offset": i}
            for i in range(5000)
        ],
    }])
    # written out and read back, so the input is one relation as in the
    # first case: a union input would get a per-doc projection per child
    path = str(tmp_path / "with_mega")
    docs.unionByName(mega).write.parquet(path)
    for source in (docs, spark.read.parquet(path)):
        plan = _plan(extract_flat(source))
        for bad in ("InMemoryTableScan", "Join", "Union", "Exchange"):
            assert bad not in plan, plan
        assert plan.count("FileScan") == 1, plan
        assert plan.count("ArrowEvalPython") == 1, plan


def test_extract_runs_no_job_until_an_action(spark):
    """Building the extract plan starts no Spark job; the caller's own
    action is the first one."""
    from mimeograph_spark.corpus import corpus_df
    from mimeograph_spark.plans.pipeline import extract

    docs = corpus_df(spark, [{
        "doc_id": "scan",
        "spans": [
            {"kind": "media", "text": None, "media_ref": f"pg:scan:{i}",
             "offset": i}
            for i in range(600)
        ],
    }])
    sc = spark.sparkContext
    group = "extract-plan-only"
    sc.setJobGroup(group, "build the extract plan")
    try:
        out = extract(docs)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        out.write.format("noop").mode("overwrite").save()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


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


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_plan_has_no_scale_killer(spark, name):
    """No driver query plans a cartesian product or a nested-loop join,
    only the OCR queries cross into Python, none crosses more than once
    (a second Python eval node OCRs every page twice), and none scans
    files more than MAX_FILE_SCANS times."""
    df = entry_mod.queries()[name](spark, SF)
    nodes = _node_names(df._jdf.queryExecution().executedPlan())
    file_scans = [
        n for n in nodes
        if ("FileScan" in n or n.startswith("Scan "))
        and "InMemoryTableScan" not in n
    ]
    assert 1 <= len(file_scans) <= MAX_FILE_SCANS, nodes
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert not any(bad in n for n in nodes), nodes
    python_nodes = [n for n in nodes if PYTHON_NODE.search(n)]
    assert len(python_nodes) <= (1 if name in PYTHON_OK else 0), nodes
