"""Property-based fuzz: extract() must match the pure-Python oracle on
ARBITRARY span configurations, not just the FIXTURES.md scenario mix —
empty docs, null/whitespace-only texts, all-bad-page docs, interleaved
kinds, shuffled span order, and both extract modes (single_scan on/off,
low page_threshold so the mega-doc path executes).

One Spark round-trip per hypothesis example (the example IS a whole
corpus) keeps the job count bounded.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mimeograph_spark.corpus import corpus_df
from mimeograph_spark.oracle import expected_results
from mimeograph_spark.plans.pipeline import extract

TEXT_POOL = ["", " ", "\t \n", "word", "two words here", " padded ", None]

span_st = st.tuples(
    st.sampled_from(["text", "media"]),
    st.sampled_from(TEXT_POOL),
    st.booleans(),  # bad page (media only)
)
doc_st = st.lists(span_st, min_size=0, max_size=9)


def _build_rows(docs, rnd):
    rows = []
    for d, spans in enumerate(docs):
        offsets = list(range(len(spans)))
        rnd.shuffle(offsets)
        built = []
        for j, (kind, text, bad) in enumerate(spans):
            if kind == "text":
                built.append(
                    {"kind": "text", "text": text, "media_ref": None,
                     "offset": offsets[j]}
                )
            else:
                ref = f"fz:{d}:{j}" + ("#bad" if bad else "")
                built.append(
                    {"kind": "media", "text": None, "media_ref": ref,
                     "offset": offsets[j]}
                )
        rows.append({"doc_id": f"fuzz-{d:04d}", "spans": built})
    return rows


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(
    docs=st.lists(doc_st, min_size=1, max_size=10),
    rnd=st.randoms(use_true_random=False),
    single_scan=st.booleans(),
)
def test_extract_matches_oracle_on_arbitrary_spans(
    spark, docs, rnd, single_scan
):
    rows = _build_rows(docs, rnd)
    got = {
        r["doc_id"]: r
        for r in extract(
            corpus_df(spark, rows), page_threshold=3, single_scan=single_scan
        ).collect()
    }
    expected = expected_results(rows)
    assert set(got) == set(expected)
    for doc_id, exp in expected.items():
        row = got[doc_id]
        assert [s.asDict() for s in row["spans_out"]] == exp["spans_out"], doc_id
        assert row["status"] == exp["status"], doc_id
        assert sorted(row["error_pages"]) == exp["error_pages"], doc_id

