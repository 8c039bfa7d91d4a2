"""End-to-end extraction pipeline: the reference's eight-job chain
(extract -> split -> convert -> hocr -> pdf -> layer -> stitch ->
lastextract, src/mimeograph.coffee:436-444) as one declarative Spark
plan, the same for every input: one scan, no exchange.

    read documents -> ocr_pages: classify + native projection + per-doc
                      OCR, fused into one narrow projection
                   -> extract: stitch.ocr_outcome per doc

`ocr_pages` is the one page stage: it picks a doc's pages (none when
the doc has native text, src/mimeograph.coffee:542-547, so a native doc
sends an EMPTY ref array) and OCRs them in one `ocr_refs_udf` call per
doc.  A scanned doc of any size crosses the Arrow boundary once, as its
offset-ordered ref array; its pages are already together in one task,
so ordering them needs no shuffle.  The reference fans a doc's pages
out over its worker pool (:562-566); here the pages of one doc run in
the task that scanned it, and docs spread over tasks.  Python worker
memory stays bounded by the Arrow batch caps in `session.APP_CONF`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..operators.classify import (
    HAS_NATIVE,
    sort_spans_by_offset,
    with_doc_class,
)
from ..operators.ocr import ocr_refs_udf
from ..operators.stitch import ocr_outcome
from ..schema import KIND_MEDIA, KIND_OCR, KIND_TEXT, SPAN_TYPE

# Mega-doc page count for perfbench's per-layer trace; extract does not read it.
DEFAULT_PAGE_THRESHOLD = 512


def ocr_pages(documents: DataFrame) -> DataFrame:
    """documents (DOCUMENTS_SCHEMA) -> `doc_id`, `has_native`,
    `_native` (the doc's text spans in offset order) and `_pages` (its
    OCR'd pages in offset order: span structs of kind `ocr`, NULL text
    for a page error, and an empty array for a native doc)."""
    classified = with_doc_class(documents)
    native_sorted = sort_spans_by_offset(
        F.filter("spans", lambda s: s["kind"] == KIND_TEXT)
    )
    native_out = F.transform(
        native_sorted,
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    media_sorted = F.when(
        F.col(HAS_NATIVE), F.lit([]).cast(ArrayType(SPAN_TYPE))
    ).otherwise(
        sort_spans_by_offset(
            F.filter("spans", lambda s: s["kind"] == KIND_MEDIA)
        )
    )
    # Only an array<string> of refs crosses the Arrow boundary; span
    # structs are rebuilt in the JVM by zip_with, which the generated
    # stage evaluates interpreted (ZipWith is CodegenFallback).
    staged = classified.select(
        "doc_id",
        HAS_NATIVE,
        native_out.alias("_native"),
        media_sorted.alias("_media"),
    ).withColumn(
        "_texts",
        ocr_refs_udf(F.transform("_media", lambda s: s["media_ref"])),
    )
    zipped = F.zip_with(
        F.col("_media"),
        F.col("_texts"),
        lambda m, t: F.struct(
            F.lit(KIND_OCR).alias("kind"),
            t.alias("text"),
            m["media_ref"].alias("media_ref"),
            m["offset"].alias("offset"),
        ),
    )
    return staged.select("doc_id", HAS_NATIVE, "_native", zipped.alias("_pages"))


def extract(documents: DataFrame) -> DataFrame:
    """documents (DOCUMENTS_SCHEMA) -> results (RESULT_SCHEMA): the
    page stage, then each doc's outcome.  Runs no Spark job until the
    caller's action."""
    # `_pages` is a column of the stage, so ocr_outcome's three reads
    # share one zip_with struct rebuild per row; a native doc has no
    # pages, so its status and error_pages come out complete and empty
    spans, status, error_pages = ocr_outcome(F.col("_pages"))
    return ocr_pages(documents).select(
        "doc_id",
        F.when(F.col(HAS_NATIVE), F.col("_native"))
        .otherwise(spans)
        .alias("spans_out"),
        status,
        error_pages,
    )


def extract_flat(documents: DataFrame) -> DataFrame:
    """Pipeline result flattened to scalar columns (for SQL-oracle
    comparison and sinks that don't want nested arrays)."""
    return extract(documents).select(
        "doc_id",
        "status",
        F.size("spans_out").cast("long").alias("n_spans_out"),
        F.size("error_pages").cast("long").alias("n_errors"),
        F.array_join(
            F.transform("error_pages", lambda o: o.cast("string")), ","
        ).alias("error_pages_csv"),
        F.when(
            F.size("spans_out") > 0,
            F.array_join(F.transform("spans_out", lambda s: s["text"]), " "),
        ).alias("final_text"),
    )


def assemble_interleaved(docs: DataFrame) -> DataFrame:
    """Model-ready interleaved example assembly: spans in offset order
    become one training string where each media span is an indexed
    placeholder token (`<|media_k|>`), with the refs aggregated in
    the same order for the loader to resolve.  Pure array expressions
    per row — zero shuffle, zero Python; the slice-filter media
    ordinal is O(spans^2) per doc, bounded by the span cap."""
    staged = docs.select(
        "doc_id", sort_spans_by_offset(F.col("spans")).alias("_sp")
    )

    def is_media(s):
        return s["kind"] == KIND_MEDIA

    pieces = F.transform(
        "_sp",
        lambda s, i: F.when(
            s["kind"] == KIND_TEXT, F.coalesce(s["text"], F.lit(""))
        ).otherwise(
            F.concat(
                F.lit("<|media_"),
                F.size(F.filter(F.slice("_sp", 1, i), is_media)).cast("string"),
                F.lit("|>"),
            )
        ),
    )
    media = F.filter("_sp", is_media)
    return staged.select(
        "doc_id",
        F.array_join(pieces, " ").alias("example_text"),
        F.array_join(F.transform(media, lambda s: s["media_ref"]), ",").alias(
            "media_refs_csv"
        ),
        F.size(media).cast("long").alias("n_media"),
        F.size(F.filter("_sp", lambda s: s["kind"] == KIND_TEXT))
        .cast("long")
        .alias("n_text"),
    )
