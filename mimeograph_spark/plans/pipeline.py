"""End-to-end extraction pipeline: the reference's eight-job chain
(extract -> split -> convert -> hocr -> pdf -> layer -> stitch ->
lastextract, src/mimeograph.coffee:436-444) as one declarative Spark
plan.

Plan shape (two exchanges, both in the mega-page docs' stitch):

    read documents
      |-- main branch (narrow, SINGLE PASS over the input):
      |     classify + native projection + small-doc OCR fused into one
      |     projection — the OCR UDF receives an EMPTY ref array for
      |     native docs, so the doc-level short-circuit
      |     (src/mimeograph.coffee:542-547) costs nothing in Python
      |-- OCR page branch    (2 exchanges) mega docs: explode -> page UDF
      |                                    -> salted two-phase stitch
      '-- unionByName

Fusing native + small-OCR into one projection matters at scale: a
branch-per-case plan re-scans (or re-derives) the input once per
branch; the fused plan reads it once.  The size-based routing keeps
the common case shuffle-free while giving mega-page documents
(FIXTURES.md `megapage`) page-level parallelism — the reference's
worker-queue fan-out (:562-566) — plus salting so no single reducer
owns a 50k-page stitch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..operators.classify import (
    HAS_NATIVE,
    N_MEDIA,
    sort_spans_by_offset,
    with_doc_class,
)
from ..operators.ocr import ocr_page_udf, ocr_refs_udf
from ..operators.stitch import ocr_outcome, stitch_pages
from ..schema import KIND_MEDIA, KIND_TEXT, SPAN_TYPE

# Docs with more media pages than this go through the exploded
# page-parallel path; tune so an Arrow batch of `threshold`-page docs
# stays comfortably in Python-worker memory.
DEFAULT_PAGE_THRESHOLD = 512


def extract(
    documents: DataFrame, page_threshold: int = DEFAULT_PAGE_THRESHOLD
) -> DataFrame:
    """documents (DOCUMENTS_SCHEMA) -> results (RESULT_SCHEMA)."""
    classified = with_doc_class(documents)

    # -- main branch: native + bounded-OCR docs, one narrow pass -------
    main = classified.filter(
        F.col(HAS_NATIVE) | (F.col(N_MEDIA) <= page_threshold)
    )
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
    # structs are rebuilt in whole-stage codegen via zip_with.  Native
    # docs contribute an empty array -> near-zero Python cost.
    staged = main.select(
        "doc_id",
        F.col(HAS_NATIVE).alias(HAS_NATIVE),
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
            F.lit("ocr").alias("kind"),
            t.alias("text"),
            m["media_ref"].alias("media_ref"),
            m["offset"].alias("offset"),
        ),
    )
    # staged as a real column so ocr_outcome's three reads share one
    # zip_with struct rebuild per row; native docs have no pages, so
    # their status and error_pages come out complete and empty
    spans, status, error_pages = ocr_outcome(F.col("_pages"))
    main_out = staged.select(
        "doc_id",
        F.col(HAS_NATIVE).alias(HAS_NATIVE),
        F.col("_native"),
        zipped.alias("_pages"),
    ).select(
        "doc_id",
        F.when(F.col(HAS_NATIVE), F.col("_native"))
        .otherwise(spans)
        .alias("spans_out"),
        status,
        error_pages,
    )

    # -- page-parallel path: mega docs ---------------------------------
    big = classified.filter(
        ~F.col(HAS_NATIVE) & (F.col(N_MEDIA) > page_threshold)
    )
    pages = big.select(
        "doc_id",
        F.explode(
            F.filter("spans", lambda s: s["kind"] == KIND_MEDIA)
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.media_ref").alias("media_ref"),
    )
    ocr_pages = pages.select(
        "doc_id",
        "offset",
        "media_ref",
        F.lit("ocr").alias("kind"),
        ocr_page_udf("media_ref").alias("text"),
    )
    big_out = stitch_pages(ocr_pages, salted=True)

    return main_out.unionByName(big_out)


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
    sp = F.array_sort(
        F.transform(
            "spans",
            lambda s: F.struct(
                s["offset"].alias("o"),
                s["kind"].alias("k"),
                s["text"].alias("t"),
                s["media_ref"].alias("m"),
            ),
        )
    )
    staged = docs.select("doc_id", sp.alias("_sp"))
    pieces = F.transform(
        "_sp",
        lambda s, i: F.when(
            s["k"] == "text", F.coalesce(s["t"], F.lit(""))
        ).otherwise(
            F.concat(
                F.lit("<|media_"),
                F.size(
                    F.filter(
                        F.slice("_sp", 1, i), lambda x: x["k"] == "media"
                    )
                ).cast("string"),
                F.lit("|>"),
            )
        ),
    )
    media = F.filter("_sp", lambda s: s["k"] == "media")
    return staged.select(
        "doc_id",
        F.array_join(pieces, " ").alias("example_text"),
        F.array_join(F.transform(media, lambda s: s["m"]), ",").alias(
            "media_refs_csv"
        ),
        F.size(media).cast("long").alias("n_media"),
        F.size(F.filter("_sp", lambda s: s["k"] == "text"))
        .cast("long")
        .alias("n_text"),
    )
