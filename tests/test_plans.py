"""Plan-shape assertions: the properties that matter at 100 TB.

These tests pin the executed-plan contract of the extraction path —
how many times the input is scanned, which filters prune at the
storage layer, where no exchange may appear — and the lifecycle of the
caches it registers.
"""

from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def test_extract_is_single_scan(spark):
    """Both extract branches (main + mega-doc) must consume the cached
    classified frame — one materialization of the input — instead of
    each branch re-scanning and re-classifying the full corpus."""
    from mimeograph_spark.corpus import derive_documents
    from mimeograph_spark.plans.pipeline import extract_flat

    docs = derive_documents(
        spark.read.parquet(f"{SF}/documents.parquet")
    )
    plan = (
        extract_flat(docs, single_scan=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("InMemoryTableScan") == 2, plan


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


def test_unpersist_deps_releases_operator_caches(spark):
    """Operators that persist internal frames register them on the
    returned DataFrame; unpersist_deps releases them so long-lived
    sessions don't accumulate cached blocks (caller-owned lifecycle)."""
    from mimeograph_spark.cacheutil import persisted_deps, unpersist_deps
    from mimeograph_spark.corpus import derive_documents
    from mimeograph_spark.plans.pipeline import extract_flat

    docs = derive_documents(spark.read.parquet(f"{SF}/documents.parquet"))
    out = extract_flat(docs, single_scan=True)
    out.count()
    deps = persisted_deps(out)
    assert len(deps) == 1
    assert all(d.storageLevel.useMemory for d in deps)
    assert unpersist_deps(out) == 1
    assert all(not d.storageLevel.useMemory for d in deps)
    assert persisted_deps(out) == []


def test_routed_corpus_prunes_extract_branches(spark, tmp_path):
    """A corpus stored with persisted routing columns
    (write_routed_corpus) must let extract prune at the storage layer:
    the mega-doc branch reads only the has_native=false partition
    (PartitionFilters) and pushes its n_media threshold into the scan
    (PushedFilters) — replacing the in-memory single_scan cache with
    layout.  Results must equal extraction from the raw corpus."""
    import re

    from mimeograph_spark.corpus import (
        derive_documents,
        read_routed_corpus,
        write_routed_corpus,
    )
    from mimeograph_spark.plans.pipeline import extract_flat

    docs = derive_documents(spark.read.parquet(f"{SF}/documents.parquet"))
    path = str(tmp_path / "routed")
    write_routed_corpus(docs, path)
    stored = read_routed_corpus(spark, path)
    out = extract_flat(stored)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pfs = re.findall(r"PartitionFilters: \[(.*?)\]", plan)
    assert any("has_native" in p for p in pfs), plan
    pushed = re.findall(r"PushedFilters: \[(.*?)\]", plan)
    assert any("n_media" in p for p in pushed), plan
    assert {tuple(r) for r in out.collect()} == {
        tuple(r) for r in extract_flat(docs).collect()
    }


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
