"""Ordered per-document stitch of page-level OCR results, and the one
rule that turns a document's OCR'd pages into its outcome.

The reference's barrier + stitch: a Redis counter compares
num_processed to num_pages (src/mimeograph.coffee:608-633), then pdftk
concatenates per-page PDFs in sorted key order (:406-431), with failed
pages excluded and recorded in a sorted error set (:668,676,757).

`ocr_outcome` is the only place the failure rule lives: `extract`'s
per-doc OCR projection (plans/pipeline.py) ends in it.  A doc's pages
arrive there already in offset order, in one row, so `extract` needs
no barrier shuffle.

`stitch_pages` is the shuffle form of the same reassembly, kept off
`extract`'s path for the benchmark's per-layer trace: `groupBy(doc_id)`
is the barrier and `array_sort(collect_list(struct(offset, ...)))` the
ordered reassembly, on the integer offset, so no >=10000-page drop
(:166).  `salted=True` runs it in two phases — partial
per-(doc_id, salt) sorted arrays first, over NUM_SALTS tasks, then a
merge of the few partial arrays per doc.  Results are byte-identical
to the unsalted plan (tested).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import STATUS_COMPLETE, STATUS_FAILED

# Salt buckets per document in the two-phase stitch.
NUM_SALTS = 16


def ocr_outcome(pages: Column) -> tuple[Column, Column, Column]:
    """A document's OCR'd pages (span-shaped, in offset order, NULL
    text = page error) -> its `spans_out`, `status`, `error_pages`.

    A failed page is recorded in the sorted error set and the document
    continues (src/mimeograph.coffee:729-759); a document that had
    pages and lost every one is `failed` (:626-630)."""
    def ok(p):
        return p["text"].isNotNull()

    failed = (F.size(pages) > 0) & F.forall(pages, lambda p: ~ok(p))
    return (
        F.filter(pages, ok).alias("spans_out"),
        F.when(failed, F.lit(STATUS_FAILED))
        .otherwise(F.lit(STATUS_COMPLETE))
        .alias("status"),
        F.transform(
            F.filter(pages, lambda p: ~ok(p)), lambda p: p["offset"]
        ).alias("error_pages"),
    )


def stitch_pages(pages: DataFrame, salted: bool = False) -> DataFrame:
    """pages: (doc_id, offset:int, media_ref, kind, text) with text
    NULL for failed pages.  Returns RESULT_SCHEMA rows."""
    # offset FIRST, so the default array_sort (lexicographic on struct
    # fields) orders numerically by offset
    ospan = F.struct("offset", "kind", "text", "media_ref")
    if salted:
        salt = F.pmod(F.crc32(F.col("offset").cast("string")), F.lit(NUM_SALTS))
        partial = pages.groupBy("doc_id", salt.alias("_salt")).agg(
            F.array_sort(F.collect_list(ospan)).alias("_part")
        )
        agged = partial.groupBy("doc_id").agg(
            F.array_sort(F.flatten(F.collect_list("_part"))).alias("_sorted")
        )
    else:
        agged = pages.groupBy("doc_id").agg(
            F.array_sort(F.collect_list(ospan)).alias("_sorted")
        )
    # staged as a real column so ocr_outcome's three reads share one
    # reorder into the public span field order
    staged = agged.select(
        "doc_id",
        F.transform(
            "_sorted",
            lambda s: F.struct(s["kind"], s["text"], s["media_ref"], s["offset"]),
        ).alias("_pages"),
    )
    return staged.select("doc_id", *ocr_outcome(F.col("_pages")))
