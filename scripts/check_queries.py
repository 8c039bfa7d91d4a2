#!/usr/bin/env python
"""Driver-style correctness check for selected queries() entries.

Usage: python scripts/check_queries.py [query ...]   (default: all)

Mimics the round driver: run the Spark query and the DuckDB oracle at
sf0.01, compare row count, sorted column names, dtypes, and the
order-insensitive stringified values.
"""
from __future__ import annotations

import importlib
import os
import sys

import duckdb

sys.path.insert(0, "/root/repo")

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def main() -> None:
    mod = importlib.import_module("__spark_entry__")
    from mimeograph_spark.session import get_spark

    spark = get_spark()
    names = sys.argv[1:] or list(mod.queries())
    oracles = mod.oracle_sql()
    fails = []
    for name in names:
        q = mod.queries()[name](spark, SF).toPandas()
        if name not in oracles:
            print(f"{name}: NO ORACLE ({len(q)} rows)")
            continue
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF}/documents.parquet')"
        )
        d = con.execute(oracles[name]).fetchdf()
        cols = sorted(q.columns)
        ok_rows = len(q) == len(d)
        ok_cols = cols == sorted(d.columns)
        def _norm_dtype(dt: str) -> str:
            # driver tolerates datetime unit differences (ns vs us)
            return "datetime" if dt.startswith("datetime64") else dt

        ok_types = ok_cols and all(
            _norm_dtype(str(q[c].dtype)) == _norm_dtype(str(d[c].dtype))
            for c in cols
        )
        ok_vals = (
            ok_cols
            and sorted(map(tuple, q[cols].astype(str).values.tolist()))
            == sorted(map(tuple, d[cols].astype(str).values.tolist()))
        )
        status = "OK" if (ok_rows and ok_cols and ok_types and ok_vals) else "FAIL"
        if status == "FAIL":
            fails.append(name)
        print(f"{name}: {status} rows={len(q)}/{len(d)} cols={ok_cols} "
              f"types={ok_types} vals={ok_vals}")
        if not ok_cols:
            print(f"  spark cols: {cols}\n  duck  cols: {sorted(d.columns)}")
        elif not ok_types:
            for c in cols:
                if str(q[c].dtype) != str(d[c].dtype):
                    print(f"  {c}: spark={q[c].dtype} duck={d[c].dtype}")
        elif not ok_vals:
            sq = sorted(map(tuple, q[cols].astype(str).values.tolist()))
            sd = sorted(map(tuple, d[cols].astype(str).values.tolist()))
            diff = [(a, b) for a, b in zip(sq, sd) if a != b][:3]
            for a, b in diff:
                print(f"  spark={a}\n  duck ={b}")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
