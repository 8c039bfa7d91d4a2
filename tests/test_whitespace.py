"""The OCR branch's one whitespace rule: a text span is native text iff
JS `String.prototype.trim` leaves it non-empty (src/mimeograph.coffee:544).
Spark, the Python oracle and the DuckDB oracle must all give the JS
answer, also for the characters where their own notions of whitespace
differ from JS.
"""

import sys
import unicodedata

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entry_mod
from mimeograph_spark.corpus import derive_documents
from mimeograph_spark.oracle import expected_result
from mimeograph_spark.schema import JS_WHITESPACE

# char -> whether JS trim() leaves it non-empty
JS_HAS_NATIVE = {
    "\x0b": False,  # VT: not in RE2's \s
    "\xa0": False,  # NBSP: not in Java's or RE2's \s
    "\u2003": False,  # EM SPACE: not in Java's \s
    "\u3000": False,  # IDEOGRAPHIC SPACE: not in Java's or RE2's \s
    "\ufeff": False,  # ZWNBSP: JS whitespace, though not Unicode White_Space
    "\x1c": True,  # FILE SEPARATOR: Python's bare str.strip() strips it
    "\x85": True,  # NEL: Python's bare str.strip() strips it
}


def test_js_whitespace_is_ecmascript_whitespace_plus_line_terminators():
    zs = {
        chr(c) for c in range(sys.maxunicode + 1)
        if unicodedata.category(chr(c)) == "Zs"
    }
    white_space = zs | {"\t", "\x0b", "\x0c", "\ufeff"}
    line_terminator = {"\n", "\r", "\u2028", "\u2029"}
    assert len(JS_WHITESPACE) == 25
    assert set(JS_WHITESPACE) == white_space | line_terminator


def test_spark_python_and_duckdb_trim_like_js(spark, tmp_path):
    """One flat doc per character with text `<c> <c> w` and a doc_id
    of doc class 0: derived, its only text spans are `<c>`, and its one
    media span is page 2.  A native doc's output is its 2 text spans,
    an OCR doc's its 1 page."""
    chars = list(JS_HAS_NATIVE)
    path = str(tmp_path / "documents.parquet")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(0, 10 * len(chars), 10), pa.int64()),
            "text": [f"{c} {c} w" for c in chars],
        }),
        path,
    )
    expected = {
        str(10 * i).zfill(10): JS_HAS_NATIVE[c] for i, c in enumerate(chars)
    }

    py = {
        r["doc_id"]: len(expected_result(
            r["doc_id"], [s.asDict() for s in r["spans"]]
        )["spans_out"]) == 2
        for r in derive_documents(spark.read.parquet(path)).collect()
    }
    assert py == expected

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    n_native = sum(expected.values())
    for engine, run in (
        ("spark", lambda name: queries[name](spark, str(tmp_path)).toPandas()),
        ("duckdb", lambda name: con.execute(oracles[name]).fetchdf()),
    ):
        flat = run("pipeline_extract")
        got = dict(zip(flat["doc_id"], flat["n_spans_out"] == 2))
        assert got == expected, engine
        branch = run("classify_branch")
        assert dict(zip(branch["has_native"], branch["n_docs"])) == {
            True: n_native, False: len(chars) - n_native,
        }, engine
