"""Fixed, declared schemas replacing the reference's dynamic Redis
context hash (see /root/reference/src/mimeograph.coffee:48-53 — stages
merge arbitrary fields into a job hash; here every stage's columns are
typed up front).

The `documents` input schema is the authoritative `input_hint` shape
from BASELINE.json: interleaved text + media spans, ordered by an
integer `offset` (replacing the reference's zero-padded `%04d` page
numbering trick, src/mimeograph.coffee:137 / src/utils.coffee:41-48).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# One span: either a native text run ('text') or a raster page needing
# OCR ('media').  Output spans additionally use kind='ocr'.
SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("spans", ArrayType(SPAN_TYPE), nullable=False),
    ]
)

# Pipeline result: mirrors the reference's final job hash
# (text :552, error_pages :676, status :678 in src/mimeograph.coffee)
# but span-structured and strongly typed.
RESULT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("spans_out", ArrayType(SPAN_TYPE), nullable=False),
        StructField("status", StringType(), nullable=False),  # complete|failed
        StructField("error_pages", ArrayType(IntegerType()), nullable=False),
    ]
)

# Per-partition lineage/metrics rows (north_rule accounting), mirroring
# the job-hash bookkeeping fields started/ended/num_pages/num_processed
# (src/mimeograph.coffee:507,564,611,677).  The increment commits them
# in its results log entry, `meta["lineage"]`, one JSON object per row
# keyed by these names, with started/ended as ISO-8601 UTC strings.
LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), nullable=False),
        StructField("stage", StringType(), nullable=False),
        StructField("partition_id", IntegerType(), nullable=False),
        StructField("doc_count", LongType()),
        StructField("span_count", LongType()),
        StructField("error_count", LongType()),
        StructField("failed_doc_count", LongType()),
        StructField("started", TimestampType()),
        StructField("ended", TimestampType()),
        StructField("status", StringType()),
    ]
)

STATUS_COMPLETE = "complete"
STATUS_FAILED = "failed"

KIND_TEXT = "text"
KIND_MEDIA = "media"
KIND_OCR = "ocr"

# What JS String.prototype.trim strips (src/mimeograph.coffee:544):
# ECMA-262 WhiteSpace (TAB, VT, FF, U+FEFF and every Zs character) plus
# LineTerminator (LF, CR, U+2028, U+2029).  A text span is native text
# iff it holds a character outside this set; the Spark predicate, the
# Python oracle and the DuckDB oracle all read it.
JS_WHITESPACE = (
    "\t\n\x0b\x0c\r\u2028\u2029\ufeff"
    " \xa0\u1680\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007"
    "\u2008\u2009\u200a\u202f\u205f\u3000"
)
