"""Corpus construction: deterministic interleaved text+media documents.

Two sources of the `input_hint` nested shape
(doc_id, spans:array<struct<kind,text,media_ref,offset>>):

1. `derive_documents(flat_df)` — a pure-built-in (narrow, no-UDF)
   derivation from the driver's flat `documents` testdata table
   (doc_id:int64, text, lang, source, n_chars).  The derivation is
   intentionally SQL-expressible so the DuckDB correctness oracle can
   replay it exactly (`DERIVE_SPANS_SQL`).

2. `generate_rows(...)` — a seeded pure-Python generator producing the
   FIXTURES.md §1 scenario classes (native / whitespace_native /
   scanned / interleaved / megapage / page_errors / all_errors /
   empty_doc) for unit + property tests, including skew shapes the
   testdata distribution doesn't contain.

Derivation rule (doc class = doc_id % 10):
    words = split(text, ' ');  n = min(len(words), 8 if cls<=5 else 6)
    cls 0-5 : span i is 'media' when i%3==2 else 'text' (word i)
    cls 6,7 : all spans 'media'                       (scanned doc)
    cls 8   : span 0 is whitespace-only text, rest 'media'
              (exercises the trim() check, src/mimeograph.coffee:544)
    cls 9   : all 'media'; refs with i%3==1 get a '#bad' suffix
              (page-error path, src/mimeograph.coffee:729-759)
    media_ref = 'pg:<doc_id>:<i>' [+ '#bad'];  offset = i
    doc_id out = lpad(doc_id, 10, '0')  (the reference's job-id
    padding, src/utils.coffee:42-45)
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import DOCUMENTS_SCHEMA, KIND_MEDIA, KIND_TEXT

WHITESPACE_TEXT = "   "


def derive_documents(flat_df: DataFrame) -> DataFrame:
    """Flat driver testdata -> nested interleaved documents.

    Narrow plan: no shuffle, no UDF — only split/slice/transform, so it
    adds negligible cost in front of the pipeline under benchmark.
    """
    # Stage the inputs under non-colliding names: Spark 4 resolves
    # column references inside HOF lambdas against the OUTPUT projection
    # (lateral alias resolution), so reusing the name `doc_id` for both
    # the raw int and the padded output would silently bind the lambda
    # to the padded alias.
    staged = flat_df.select(
        F.col("doc_id").cast("string").alias("_did"),
        (F.col("doc_id") % 10).cast("int").alias("_cls"),
        F.split(F.col("text"), " ").alias("_words"),
    )
    cls = F.col("_cls")
    words = F.col("_words")
    n = F.least(F.size(words), F.when(cls <= 5, F.lit(8)).otherwise(F.lit(6)))

    def make_span(word: Column, i: Column) -> Column:
        kind = (
            F.when(cls <= 5, F.when(i % 3 == 2, KIND_MEDIA).otherwise(KIND_TEXT))
            .when(cls == 8, F.when(i == 0, KIND_TEXT).otherwise(KIND_MEDIA))
            .otherwise(KIND_MEDIA)
        )
        text = (
            F.when((cls <= 5) & (kind == KIND_TEXT), word)
            .when((cls == 8) & (i == 0), F.lit(WHITESPACE_TEXT))
            .otherwise(F.lit(None).cast("string"))
        )
        ref = F.when(
            kind == KIND_MEDIA,
            F.concat(
                F.lit("pg:"),
                F.col("_did"),
                F.lit(":"),
                i.cast("string"),
                F.when((cls == 9) & (i % 3 == 1), F.lit("#bad")).otherwise(
                    F.lit("")
                ),
            ),
        ).otherwise(F.lit(None).cast("string"))
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            ref.alias("media_ref"),
            i.cast("int").alias("offset"),
        )

    spans = F.transform(F.slice(words, F.lit(1), n), make_span)
    return staged.select(
        F.lpad(F.col("_did"), 10, "0").alias("doc_id"),
        spans.alias("spans"),
    )


# DuckDB-compatible SQL replay of derive_documents, as a CTE producing
# one row per (doc_id, offset, kind, text, media_ref).  Column `text`
# of the source table is the raw document text.
DERIVE_SPANS_SQL = """
  word_rows AS (
    SELECT doc_id,
           CAST(doc_id % 10 AS INT) AS cls,
           unnest(string_split(text, ' ')) AS w,
           CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INT) AS i,
           len(string_split(text, ' ')) AS nw
    FROM documents
  ),
  span_rows AS (
    SELECT lpad(CAST(doc_id AS VARCHAR), 10, '0') AS doc_id,
           i AS "offset",
           CASE
             WHEN cls <= 5 THEN CASE WHEN i % 3 = 2 THEN 'media' ELSE 'text' END
             WHEN cls = 8 THEN CASE WHEN i = 0 THEN 'text' ELSE 'media' END
             ELSE 'media'
           END AS kind,
           CASE
             WHEN cls <= 5 AND NOT i % 3 = 2 THEN w
             WHEN cls = 8 AND i = 0 THEN '   '
             ELSE NULL
           END AS text,
           CASE
             WHEN (cls <= 5 AND i % 3 = 2) OR cls IN (6, 7) OR (cls = 8 AND i > 0)
                  OR cls = 9
             THEN 'pg:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)
                  || CASE WHEN cls = 9 AND i % 3 = 1 THEN '#bad' ELSE '' END
             ELSE NULL
           END AS media_ref
    FROM word_rows
    WHERE i < CASE WHEN cls <= 5 THEN least(nw, 8) ELSE least(nw, 6) END
  )
"""


# ---------------------------------------------------------------------------
# Seeded fixture generator (FIXTURES.md §1 scenario classes)
# ---------------------------------------------------------------------------

_WORDS = (
    "scan page text layer merge stitch spark ocr span doc table row "
    "filter group sort window batch stream value key"
).split()

SCENARIOS = (
    "native",
    "whitespace_native",
    "scanned",
    "interleaved_native",
    "interleaved_ocr",
    "page_errors",
    "all_errors",
    "empty_doc",
    "megapage",
)


def _spans_for(scenario: str, rng: random.Random, doc_id: int, megapage_spans: int):
    spans = []

    def text_span(i, txt):
        spans.append({"kind": KIND_TEXT, "text": txt, "media_ref": None, "offset": i})

    def media_span(i, bad=False):
        ref = f"fx:{doc_id}:{i}" + ("#bad" if bad else "")
        spans.append({"kind": KIND_MEDIA, "text": None, "media_ref": ref, "offset": i})

    if scenario == "native":
        for i in range(rng.randint(1, 8)):
            text_span(i, " ".join(rng.choices(_WORDS, k=rng.randint(1, 6))))
    elif scenario == "whitespace_native":
        text_span(0, rng.choice(["", "   ", "\t \n"]))
        for i in range(1, rng.randint(2, 7)):
            media_span(i)
    elif scenario == "scanned":
        for i in range(rng.randint(1, 9)):
            media_span(i)
    elif scenario == "interleaved_native":
        for i in range(rng.randint(2, 9)):
            if i % 2 == 0:
                text_span(i, rng.choice(_WORDS))
            else:
                media_span(i)
    elif scenario == "interleaved_ocr":
        for i in range(rng.randint(2, 9)):
            if i % 2 == 0:
                text_span(i, "  ")  # whitespace only -> OCR branch
            else:
                media_span(i)
    elif scenario == "page_errors":
        nbad = 0
        n = rng.randint(3, 9)
        for i in range(n):
            bad = rng.random() < 0.4 and nbad < n - 1
            nbad += bad
            media_span(i, bad=bad)
    elif scenario == "all_errors":
        for i in range(rng.randint(1, 5)):
            media_span(i, bad=True)
    elif scenario == "empty_doc":
        pass
    elif scenario == "megapage":
        for i in range(megapage_spans):
            media_span(i)
    else:  # pragma: no cover
        raise ValueError(scenario)
    return spans


def generate_rows(
    n_docs: int = 100,
    seed: int = 42,
    megapage_spans: int = 5000,
    shuffle_span_order: bool = False,
) -> list[dict]:
    """Deterministic scenario-mix corpus as plain Python rows.

    `shuffle_span_order=True` permutes each doc's span array (offsets
    keep their original values) to prove the stitch re-orders by the
    integer offset, not by input position.
    """
    rng = random.Random(seed)
    rows = []
    for d in range(n_docs):
        scenario = SCENARIOS[d % len(SCENARIOS)]
        spans = _spans_for(scenario, rng, d, megapage_spans)
        if shuffle_span_order:
            rng.shuffle(spans)
        rows.append(
            {
                "doc_id": str(d).zfill(10),
                "spans": spans,
                "scenario": scenario,
            }
        )
    return rows


def corpus_df(spark, rows: list[dict]) -> DataFrame:
    clean = [
        {"doc_id": r["doc_id"], "spans": r["spans"]} for r in rows
    ]
    return spark.createDataFrame(clean, schema=DOCUMENTS_SCHEMA)
