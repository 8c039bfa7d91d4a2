#!/usr/bin/env python
"""Executed-plan audit over every registered driver query.

Walks each query's physical plan tree (AQE off; InMemoryTableScan is
a leaf, so cached-plan dumps are not double-counted) and reports the
scale-relevant shape: file scans, in-memory scans, exchanges, join
strategies, Python eval nodes.  Flags the known scale-killers:

- CartesianProduct or BroadcastNestedLoopJoin anywhere;
- Python eval nodes in queries that are not deliberately part of the
  Arrow-UDF surface (the OCR UDFs);
- more than 4 file scans (the extract plan's exchanges, Python nodes
  and absence of caches and joins are pinned by tests/test_plans.py).

Usage: python scripts/plan_audit.py [sf_dir]   (default sf0.001)
Prints one line per query plus a FLAGGED section; exit code 1 if
anything is flagged.
"""

from __future__ import annotations

import sys
from collections import Counter

sys.path.insert(0, ".")

# queries where Python eval nodes are the point (the OCR Arrow UDFs)
PYTHON_OK = {"pipeline_extract", "ocr_pages"}
MAX_FILE_SCANS = 4


def _nodes(jplan) -> list[str]:
    out = [jplan.nodeName()]
    it = jplan.children().iterator()
    while it.hasNext():
        out.extend(_nodes(it.next()))
    return out


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entry_mod
    from mimeograph_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    flagged: list[str] = []
    for name, fn in entry_mod.queries().items():
        try:
            df = fn(spark, sf)
            ns = _nodes(df._jdf.queryExecution().executedPlan())
        except Exception as e:  # noqa: BLE001 - audit must cover all
            flagged.append(f"{name}: plan construction failed: {e}")
            continue
        c = Counter(ns)
        file_scans = sum(
            v for k, v in c.items()
            if ("FileScan" in k or k.strip().startswith("Scan "))
            and "InMemoryTableScan" not in k
        )
        imts = sum(v for k, v in c.items() if "InMemoryTableScan" in k)
        exchanges = sum(v for k, v in c.items() if "Exchange" in k)
        joins = {k: v for k, v in c.items() if "Join" in k}
        python = sum(
            v for k, v in c.items()
            if "Python" in k or "EvalPython" in k or "MapInPandas" in k
            or "FlatMapGroupsInPandas" in k or "FlatMapCoGroupsInPandas" in k
        )
        print(
            f"{name}: scans={file_scans} cached={imts} "
            f"exchanges={exchanges} joins={dict(joins)} python={python}"
        )
        if c.get("CartesianProduct"):
            flagged.append(f"{name}: CartesianProduct")
        if any("BroadcastNestedLoopJoin" in k for k in c):
            flagged.append(f"{name}: BroadcastNestedLoopJoin")
        if python and name not in PYTHON_OK:
            flagged.append(f"{name}: unexpected Python eval ({python})")
        if file_scans > MAX_FILE_SCANS:
            flagged.append(
                f"{name}: {file_scans} file scans (budget {MAX_FILE_SCANS})"
            )
    print()
    if flagged:
        print("FLAGGED:")
        for f in flagged:
            print(" -", f)
        return 1
    print("FLAGGED: none")
    return 0


if __name__ == "__main__":
    sys.exit(main())
