"""Seeded input generators, built from Spark expressions only.

Every value is a pure function of (seed, doc index, span index) through
`xxhash64`, so the same seed gives the same documents on any host and
partitioning.  Every page gets its own `media_ref`
(`pg:<seed>:<doc>:<offset>`), so no two pages share OCR input.

Document classes follow the FIXTURES.md section 1 mix (percent of docs):

    native              45   text spans only
    interleaved_native  15   text + media, native text wins (no OCR)
    scanned             15   media only
    interleaved_ocr     10   whitespace text + media (goes to OCR)
    whitespace_native    7   one whitespace text span, then media
    empty_doc            3   no spans
    page_errors          3   media, some '#bad' pages (never all)
    all_errors           2   media, every page '#bad'

Half of the documents store their spans in reverse offset order, so the
pipeline's offset sort is exercised.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB = (
    "scan page text layer merge stitch spark ocr span doc table row "
    "filter group sort window batch stream value key"
).split()
WHITESPACE = ("   ", "\t \n", "")
SPANS_TYPE = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"

# cumulative percent thresholds of the class roll, in the order above
_NATIVE, _INTER_NATIVE, _SCANNED, _INTER_OCR, _WS_NATIVE, _EMPTY, _PAGE_ERR = (
    45, 60, 75, 85, 92, 95, 98,
)


def _h(seed: int, *parts) -> Column:
    return F.xxhash64(F.lit(seed), *parts)


def pick(seed: int, salt: int, n: int, *parts) -> Column:
    """Uniform int in [0, n) keyed by (seed, salt, parts)."""
    return F.pmod(_h(seed, F.lit(salt), *parts), F.lit(n)).cast("int")


def _span(kind: Column, text: Column, ref: Column, i: Column) -> Column:
    return F.struct(
        kind.alias("kind"),
        text.alias("text"),
        ref.alias("media_ref"),
        i.cast("int").alias("offset"),
    )


def _ref(seed: int, did: Column, i: Column, bad: Column) -> Column:
    return F.concat(
        F.lit(f"pg:{seed}:"), did, F.lit(":"), i.cast("string"),
        F.when(bad, F.lit("#bad")).otherwise(F.lit("")),
    )


def _docs(ids: DataFrame, seed: int, roll: Column) -> DataFrame:
    """One document per `id` row; `roll` in [0, 100) picks its class."""
    did = F.col("_did")
    r = F.col("_roll")
    n = F.col("_n")
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    ws = F.array(*[F.lit(w) for w in WHITESPACE])

    def span(i: Column) -> Column:
        word = F.concat_ws(
            " ",
            F.element_at(vocab, pick(seed, 10, len(VOCAB), did, i) + 1),
            F.element_at(vocab, pick(seed, 11, len(VOCAB), did, i) + 1),
        )
        blank = F.element_at(ws, pick(seed, 12, len(WHITESPACE), did, i) + 1)
        odd = i % 2 == 1
        media = (
            ((r >= _NATIVE) & (r < _INTER_NATIVE) & odd)
            | ((r >= _INTER_NATIVE) & (r < _INTER_OCR) & ((r < _SCANNED) | odd))
            | ((r >= _INTER_OCR) & (r < _WS_NATIVE) & (i > 0))
            | (r >= _EMPTY)
        )
        bad = ((r >= _EMPTY) & (r < _PAGE_ERR) & (i > 0)
               & (pick(seed, 13, 5, did, i) < 2)) | (r >= _PAGE_ERR)
        text = (
            F.when(media, F.lit(None).cast("string"))
            .when(r < _INTER_NATIVE, word)
            .otherwise(blank)
        )
        ref = F.when(media, _ref(seed, did, i, bad))
        return _span(
            F.when(media, F.lit("media")).otherwise(F.lit("text")), text, ref, i
        )

    staged = ids.select(
        F.lpad(F.col("id").cast("string"), 10, "0").alias("_did"),
        roll.alias("_roll"),
    ).withColumn(
        "_n",
        F.when((r >= _WS_NATIVE) & (r < _EMPTY), F.lit(0))
        .when(r < _NATIVE, 1 + pick(seed, 2, 8, did))
        .when(r >= _PAGE_ERR, 1 + pick(seed, 2, 5, did))
        .otherwise(2 + pick(seed, 2, 8, did)),
    )
    spans = F.when(n == 0, F.lit([]).cast(SPANS_TYPE)).otherwise(
        F.transform(F.sequence(F.lit(0), n - 1), span)
    )
    reverse = pick(seed, 3, 2, did) == 1
    return staged.select(
        did.alias("doc_id"),
        F.when(reverse, F.reverse(spans)).otherwise(spans).alias("spans"),
    )


def mixed_docs(
    spark: SparkSession, seed: int, n_docs: int, partitions: int = 16
) -> DataFrame:
    """`n_docs` documents in the FIXTURES.md mix, no megapage docs."""
    ids = spark.range(0, n_docs, 1, numPartitions=partitions)
    return _docs(ids, seed, pick(seed, 1, 100, F.col("id")))


def megapage_docs(
    spark: SparkSession,
    seed: int,
    n_small: int,
    n_mega: int,
    mega_min: int,
    mega_max: int,
) -> DataFrame:
    """`n_small` small native docs plus `n_mega` scanned docs of
    `mega_min`..`mega_max` pages (about one page in a thousand '#bad').

    The table has `n_mega` partitions, each one mega doc followed by an
    equal share of the small docs.  Written as parquet, that is one file
    per mega doc, and a read on `n_mega` cores gives one file per split.
    (With the mega docs in files of their own, a read packs those few
    large files into one split, and one task holds every mega doc.)"""
    stride = n_small // n_mega + 1
    ids = spark.range(0, stride * n_mega, 1, numPartitions=n_mega)
    docs = _docs(ids, seed, pick(seed, 1, _NATIVE, F.col("id")))
    idx = F.col("doc_id").cast("long")
    did = F.col("doc_id")
    # the same page counts for every seed, evenly spaced from mega_min to
    # mega_max; the seed only decides which doc gets which
    rank = F.pmod(F.floor(idx / stride) + seed, F.lit(n_mega))
    n = (mega_min + rank * (mega_max - mega_min) / max(n_mega - 1, 1)).cast("int")
    mega_spans = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: _span(
            F.lit("media"),
            F.lit(None).cast("string"),
            _ref(seed, did, i, pick(seed, 13, 1000, did, i) == 0),
            i,
        ),
    )
    return docs.select(
        "doc_id",
        F.when(idx % stride == 0, mega_spans).otherwise(F.col("spans")).alias("spans"),
    )
