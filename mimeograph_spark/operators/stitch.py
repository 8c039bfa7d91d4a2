"""Ordered per-document stitch of page-level OCR results.

The reference's barrier + stitch: a Redis counter compares
num_processed to num_pages (src/mimeograph.coffee:608-633), then pdftk
concatenates per-page PDFs in sorted key order (:406-431), with failed
pages excluded and recorded in a sorted error set (:668,676,757).

Spark restatement: `groupBy(doc_id)` IS the barrier (the shuffle), and
`array_sort(collect_list(struct(offset, ...)))` is the ordered
reassembly — on the integer offset, so no >=10000-page drop (:166).

Skew (north_rule): one mega-page document concentrates its stitch on a
single reducer.  `salted=True` runs a two-phase aggregation — partial
per-(doc_id, salt) sorted arrays first, spreading the heavy shuffle
fetch + partial-array build across NUM_SALTS tasks, then a final
cheap merge of the (few) partial arrays per doc.  Results are
byte-identical to the unsalted plan (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import STATUS_COMPLETE, STATUS_FAILED

# Struct with offset FIRST so the default array_sort (lexicographic on
# struct fields) orders numerically by offset.
_ORD_SPAN = (
    "struct(offset as offset, kind as kind, text as text, media_ref as media_ref)"
)

# Salt buckets per document in the two-phase stitch.
NUM_SALTS = 16


def _finalize_spans(col_name: str):
    """Reorder the (offset-first) sorted structs into the public span
    field order (kind, text, media_ref, offset)."""
    return F.transform(
        F.col(col_name),
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )


def stitch_pages(pages: DataFrame, salted: bool = False) -> DataFrame:
    """pages: (doc_id, offset:int, media_ref, kind, text) with text
    NULL for failed pages.  Returns RESULT_SCHEMA rows.

    status='failed' iff the doc had pages and every one failed
    (src/mimeograph.coffee:626-630); failed docs emit no spans.
    """
    good = F.expr(f"IF(text IS NOT NULL, {_ORD_SPAN}, NULL)")
    pages = pages.select(
        "doc_id",
        good.alias("ospan"),
        F.when(F.col("text").isNull(), F.col("offset")).alias("err_offset"),
    )

    if salted:
        partial = pages.groupBy(
            "doc_id", F.pmod(F.crc32(F.col("ospan.offset").cast("string")), F.lit(NUM_SALTS)).alias("_salt")
        ).agg(
            F.array_sort(F.collect_list("ospan")).alias("p_spans"),
            F.collect_list("err_offset").alias("p_errs"),
            F.count(F.lit(1)).alias("p_pages"),
        )
        agged = partial.groupBy("doc_id").agg(
            F.array_sort(F.flatten(F.collect_list("p_spans"))).alias("sorted_spans"),
            F.array_sort(F.flatten(F.collect_list("p_errs"))).alias("error_pages"),
            F.sum("p_pages").alias("n_pages"),
        )
    else:
        agged = pages.groupBy("doc_id").agg(
            F.array_sort(F.collect_list("ospan")).alias("sorted_spans"),
            F.array_sort(F.collect_list("err_offset")).alias("error_pages"),
            F.count(F.lit(1)).alias("n_pages"),
        )

    failed = (F.col("n_pages") > 0) & (F.size("sorted_spans") == 0)
    return agged.select(
        "doc_id",
        F.when(failed, F.lit([]).cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>"))
        .otherwise(_finalize_spans("sorted_spans"))
        .alias("spans_out"),
        F.when(failed, F.lit(STATUS_FAILED))
        .otherwise(F.lit(STATUS_COMPLETE))
        .alias("status"),
        F.col("error_pages").cast("array<int>").alias("error_pages"),
    )
