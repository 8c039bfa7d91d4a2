"""Doc-level classification and span ordering.

The reference's core value is "OCR only when necessary": after
`pdftotext`, a document with any trimmed non-empty native text is DONE
— no split/convert/OCR at all.  The branch is per-DOCUMENT, never
per-page (src/mimeograph.coffee:542-547).

`with_doc_class` computes that predicate with `exists()` over the span
array, trimming as JS `String.prototype.trim` does (`JS_WHITESPACE`).
`sort_spans_by_offset` is the one span order: the OCR page stage
(`plans/pipeline.ocr_pages`) and the interleaved assembly both use it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import JS_WHITESPACE, KIND_MEDIA, KIND_TEXT

HAS_NATIVE = "has_native"
N_MEDIA = "n_media"


def _is_native_text(s: Column) -> Column:
    # a text span that JS trim() leaves non-empty (src/mimeograph.coffee:544)
    return (s["kind"] == KIND_TEXT) & F.coalesce(s["text"], F.lit("")).rlike(
        f"[^{JS_WHITESPACE}]"
    )


def with_doc_class(df: DataFrame) -> DataFrame:
    """Add `has_native` (the :542-547 predicate) and `n_media` (page
    count of the would-be OCR fan-out, cf. num_pages at :564)."""
    return df.withColumn(
        HAS_NATIVE, F.exists("spans", _is_native_text)
    ).withColumn(
        N_MEDIA, F.size(F.filter("spans", lambda s: s["kind"] == KIND_MEDIA))
    )


def sort_spans_by_offset(spans: Column) -> Column:
    """Order a span array by its integer offset.

    Replaces the reference's zero-padded-key lexicographic sort
    (src/mimeograph.coffee:633, utils.coffee:42-45) — and therefore
    does NOT inherit its silent drop of pages >= 10000 (the \\d{4}
    regex at src/mimeograph.coffee:166; intentional divergence).
    """
    return F.array_sort(
        spans,
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )

