"""Order-independent output check against `oracle.expected_result`.

The oracle (pure Python, `mimeograph_spark.oracle`) runs over the
generated documents inside Python workers once per set-up and emits its
expected result rows.  Both the oracle rows and the pipeline's rows are
then summarized by the same Spark expression: the row count, the sums of
the two 32-bit halves of each row's `xxhash64(doc_id, spans_out, status,
error_pages)`, and a few counters.  On the pipeline side the summary
rides the timed action as an `Observation`, so no run's output passes
through a Python loop.  On a mismatch, `count_mismatches` joins the
per-document hashes to count the documents that differ.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from mimeograph_spark.oracle import expected_result
from mimeograph_spark.schema import RESULT_SCHEMA

# the Arrow form of RESULT_SCHEMA, for the oracle's output batches
_RESULT_ARROW = to_arrow_schema(RESULT_SCHEMA)
TOTALS = ("docs", "h1", "h2", "ocr", "err", "failed")


def per_doc(results: DataFrame) -> DataFrame:
    """RESULT_SCHEMA rows -> doc_id, two hash halves and counters."""
    h = F.xxhash64("doc_id", "spans_out", "status", "error_pages")
    return results.select(
        "doc_id",
        h.bitwiseAND(F.lit(0xFFFFFFFF)).alias("h1"),
        F.shiftrightunsigned(h, 32).alias("h2"),
        F.size(F.filter("spans_out", lambda s: s["kind"] == "ocr"))
        .cast("long")
        .alias("ocr"),
        F.size("error_pages").cast("long").alias("err"),
        (F.col("status") == "failed").cast("long").alias("failed"),
    )


def _oracle_batches(batches):
    for batch in batches:
        rows = [expected_result(r["doc_id"], r["spans"]) for r in batch.to_pylist()]
        yield pa.RecordBatch.from_pylist(rows, schema=_RESULT_ARROW)


def oracle_rows(documents: DataFrame) -> DataFrame:
    """DOCUMENTS_SCHEMA rows -> the oracle's expected result rows."""
    return documents.select("doc_id", "spans").mapInArrow(
        _oracle_batches, RESULT_SCHEMA
    )


def _total_exprs() -> list[Column]:
    return [F.count(F.lit(1)).alias("docs")] + [
        F.coalesce(F.sum(c), F.lit(0)).cast("long").alias(c) for c in TOTALS[1:]
    ]


def totals(results: DataFrame) -> dict:
    return per_doc(results).agg(*_total_exprs()).first().asDict()


def observed(results: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach the totals to whatever action runs `results`."""
    obs = Observation()
    return per_doc(results).observe(obs, *_total_exprs()), obs


def pages(t: dict) -> int:
    """Media pages OCR'd: every OCR span plus every failed page."""
    return t["ocr"] + t["err"]


def count_mismatches(results: DataFrame, documents: DataFrame) -> int:
    """Documents whose row differs from the oracle's, or that appear on
    one side only."""
    out = per_doc(results).select("doc_id", "h1", "h2")
    ref = per_doc(oracle_rows(documents)).select(
        "doc_id", F.col("h1").alias("r1"), F.col("h2").alias("r2")
    )
    j = out.join(ref, "doc_id", "full_outer")
    return j.filter(
        F.col("h1").isNull()
        | F.col("r1").isNull()
        | (F.col("h1") != F.col("r1"))
        | (F.col("h2") != F.col("r2"))
    ).count()
