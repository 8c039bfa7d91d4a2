"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

The queries are the mimeograph extraction chain (SURVEY.md §2.1-2.2)
over the derived interleaved corpus: the full pipeline, its branch
decision, the span derivation, the page-level OCR fan-out and the
interleaved example assembly.  Every one has a DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mimeograph_spark import sql_oracles
from mimeograph_spark.corpus import derive_documents
from mimeograph_spark.operators.classify import HAS_NATIVE, N_MEDIA, with_doc_class
from mimeograph_spark.plans import pipeline

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_documents(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_pipeline_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full chain: classify -> branch -> OCR (pandas UDF) -> stitch."""
    return pipeline.extract_flat(_documents(spark, sf_dir))


def q_classify_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level OCR short-circuit predicate (mimeograph.coffee:542-547)."""
    return (
        with_doc_class(_documents(spark, sf_dir))
        .groupBy(HAS_NATIVE)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(N_MEDIA).cast("long").alias("total_media"),
        )
    )


def q_span_kind_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derivation sanity: spans per kind (split fan-out, :129-166)."""
    return (
        _documents(spark, sf_dir)
        .select("doc_id", F.explode("spans").alias("s"))
        .groupBy(F.col("s.kind").alias("kind"))
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
    )


def q_ocr_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-level OCR fan-out: every media page of OCR-branch docs with
    its recognized text (tesseract stage, mimeograph.coffee:226-261),
    one row per page of extract's page stage."""
    # inline_outer: a plain inline gets an inferred size(_pages) > 0
    # filter below the projection, which then runs the OCR UDF twice
    return (
        pipeline.ocr_pages(_documents(spark, sf_dir))
        .select("doc_id", F.inline_outer("_pages"))
        .filter(F.col("kind").isNotNull())
        .select(
            "doc_id",
            F.col("offset").alias("page_offset"),
            "media_ref",
            F.col("text").alias("ocr_text"),
        )
    )


def q_interleaved_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-ready interleaved example assembly — the deliverable of
    an interleaved text+media corpus: per document, spans in offset
    order become one training string where each media span is an
    indexed placeholder token (`<|media_k|>`) and the media refs ride
    alongside in the same order for the loader to resolve.  Pure
    array expressions per row (sort, indexed transform, filter) —
    zero shuffle, zero Python."""
    return pipeline.assemble_interleaved(_documents(spark, sf_dir))


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_pipeline_extract(spark, DEFAULT_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pipeline_extract": q_pipeline_extract,
        "classify_branch": q_classify_branch,
        "span_kind_counts": q_span_kind_counts,
        "ocr_pages": q_ocr_pages,
        "interleaved_examples": q_interleaved_examples,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pipeline_extract": sql_oracles.pipeline_extract_sql(),
        "classify_branch": sql_oracles.classify_branch_sql(),
        "span_kind_counts": sql_oracles.span_kind_counts_sql(),
        "ocr_pages": sql_oracles.ocr_pages_sql(),
        "interleaved_examples": sql_oracles.interleaved_examples_sql(),
    }
