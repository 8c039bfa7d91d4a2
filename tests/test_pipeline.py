"""End-to-end span-sequence equality vs the pure-Python oracle —
the per-row invariant from BASELINE.json input_hint:
(kind, text, media_ref, order) per document, plus status/error_pages.
"""

import pyspark.sql.functions as F
import pytest

from mimeograph_spark.corpus import corpus_df, generate_rows
from mimeograph_spark.operators.ocr import ocr_page_udf
from mimeograph_spark.operators.stitch import stitch_pages
from mimeograph_spark.oracle import expected_results
from mimeograph_spark.plans.pipeline import extract


def _collect_results(df):
    out = {}
    for row in df.collect():
        out[row["doc_id"]] = {
            "doc_id": row["doc_id"],
            "spans_out": [s.asDict() for s in row["spans_out"]],
            "status": row["status"],
            "error_pages": list(row["error_pages"]),
        }
    return out


def _assert_matches_oracle(actual, rows):
    expected = expected_results(rows)
    assert set(actual) == set(expected)
    for doc_id, exp in expected.items():
        act = actual[doc_id]
        assert act["status"] == exp["status"], doc_id
        assert act["error_pages"] == exp["error_pages"], doc_id
        assert act["spans_out"] == exp["spans_out"], doc_id


@pytest.mark.parametrize("max_records_per_batch", [0, 64, 1000])
def test_extract_matches_oracle(spark, max_records_per_batch):
    """Every FIXTURES.md scenario, 700-page megapage docs included,
    through the one extract plan, whatever the Arrow batch split: on
    one partition of 90 docs, 0 (no row cap) and 1000 hand the UDF one
    batch, 64 splits it in two."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(max_records_per_batch))
    try:
        rows = generate_rows(n_docs=90, seed=7, megapage_spans=700)
        df = corpus_df(spark, rows).coalesce(1)
        actual = _collect_results(extract(df))
    finally:
        spark.conf.set(key, saved)
    _assert_matches_oracle(actual, rows)


def test_extract_order_invariant_to_input_span_order(spark):
    rows = generate_rows(n_docs=54, seed=11, megapage_spans=300, shuffle_span_order=True)
    df = corpus_df(spark, rows)
    actual = _collect_results(extract(df))
    _assert_matches_oracle(actual, rows)


def test_salted_stitch_equals_unsalted(spark):
    """The two-phase salted stitch returns exactly what the plain
    one-phase groupBy stitch returns on the same OCR'd page rows."""
    rows = generate_rows(n_docs=36, seed=3, megapage_spans=900)
    pages = (
        corpus_df(spark, rows)
        .select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(
            "doc_id",
            F.col("s.offset").alias("offset"),
            F.col("s.media_ref").alias("media_ref"),
            F.lit("ocr").alias("kind"),
            ocr_page_udf(F.col("s.media_ref")).alias("text"),
        )
    )
    salted = _collect_results(stitch_pages(pages, salted=True))
    assert salted
    assert salted == _collect_results(stitch_pages(pages, salted=False))


def test_result_invariant_to_repartitioning(spark):
    rows = generate_rows(n_docs=45, seed=5, megapage_spans=200)
    df = corpus_df(spark, rows)
    base = _collect_results(extract(df))
    repart = _collect_results(extract(df.repartition(13)))
    assert base == repart


def test_native_docs_have_no_ocr_spans(spark):
    rows = generate_rows(n_docs=90, seed=9, megapage_spans=100)
    df = corpus_df(spark, rows)
    actual = _collect_results(extract(df))
    expected = expected_results(rows)
    for doc_id, exp in expected.items():
        kinds = {s["kind"] for s in actual[doc_id]["spans_out"]}
        if any(s["kind"] == "text" for s in exp["spans_out"]):
            assert kinds <= {"text"}


def test_megapage_all_pages_present_and_ordered(spark):
    n = 2500
    rows = [r for r in generate_rows(n_docs=9, seed=2, megapage_spans=n)
            if r["scenario"] == "megapage"]
    assert rows
    df = corpus_df(spark, rows)
    res = _collect_results(extract(df))
    for r in rows:
        spans = res[r["doc_id"]]["spans_out"]
        errs = res[r["doc_id"]]["error_pages"]
        assert len(spans) + len(errs) == n
        offs = [s["offset"] for s in spans]
        assert offs == sorted(offs)


def test_interleaved_example_assembly(spark):
    """Placeholder semantics pinned closed-form: media spans become
    <|media_k|> tokens indexed in document order, text spans pass
    through, refs ride alongside in the same order — independent of
    the span array's input order."""
    from mimeograph_spark.corpus import corpus_df
    from mimeograph_spark.plans.pipeline import assemble_interleaved

    rows = [
        {
            "doc_id": "d1",
            "spans": [
                {"kind": "media", "text": None, "media_ref": "m:b", "offset": 2},
                {"kind": "text", "text": "hello", "media_ref": None, "offset": 0},
                {"kind": "media", "text": None, "media_ref": "m:a", "offset": 1},
                {"kind": "text", "text": "world", "media_ref": None, "offset": 3},
            ],
        }
    ]
    r = assemble_interleaved(corpus_df(spark, rows)).first()
    assert r["example_text"] == "hello <|media_0|> <|media_1|> world"
    assert r["media_refs_csv"] == "m:a,m:b"
    assert r["n_media"] == 2 and r["n_text"] == 2

