"""Mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet tables,
compare row count + column names + pandas dtypes + order-insensitive
values.
"""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def _duck(sql: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    return con.execute(sql).fetchdf()


def _norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return round(v, 6)
    return v


def _dtypes(pdf):
    # the driver tolerates datetime unit differences (ns vs us)
    return {
        c: "datetime" if str(t).startswith("datetime64") else str(t)
        for c, t in pdf.dtypes.items()
    }


def _normalize(pdf):
    cols = sorted(pdf.columns)
    rows = [
        tuple(_norm_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    return cols, sorted(rows, key=lambda r: tuple(str(x) for x in r))


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_matches_oracle(spark, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        df = q(spark, SF_DIR)
        assert df.count() >= 0  # rows-only check, like the driver
        return
    df = q(spark, SF_DIR)
    # driver-compat guard: the authoritative canonicalizer
    # pandas-sorts every column and dies on unhashable (list/dict)
    # cells — registered queries must stringify arrays/maps
    # (F.array_join / to_json); the library API can keep them
    from pyspark.sql.types import ArrayType, MapType

    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType))
    ]
    assert not bad, (
        f"{name}: array/map columns {bad} would crash the driver's "
        "canonicalizer — emit a sortable string form instead"
    )
    spark_pdf = df.toPandas()
    duck_pdf = _duck(sql)
    s_cols, s_rows = _normalize(spark_pdf)
    d_cols, d_rows = _normalize(duck_pdf)
    assert s_cols == d_cols
    assert _dtypes(spark_pdf) == _dtypes(duck_pdf)
    assert len(s_rows) == len(d_rows)
    mismatches = [
        (a, b) for a, b in zip(s_rows, d_rows) if a != b
    ]
    assert not mismatches, f"{name}: first mismatch {mismatches[0]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
