"""Single-threaded pure-Python oracle for the extraction pipeline.

Independent reimplementation of the pipeline semantics (FIXTURES.md §2)
used by the test suite to assert exact span-sequence equality
(kind, text, media_ref, order) per document — the replacement for the
reference's eyeball-the-output testing (test/_testutils.coffee:1-5).

Semantics mirrored from the reference:
- doc-level OCR short-circuit: any text span that JS trim
  (`JS_WHITESPACE`) leaves non-empty means the document's output is its
  ordered text spans and no OCR runs at all (src/mimeograph.coffee:542-547);
- otherwise each media span is OCR'd; pages whose hOCR is invalid land
  in error_pages but the document continues (src/mimeograph.coffee:
  729-759);
- all pages failed (and at least one page) => status 'failed'
  (src/mimeograph.coffee:626-630);
- stitch order is ascending integer offset (replacing the reference's
  zero-padded lexicographic sort, src/mimeograph.coffee:633).
"""

from __future__ import annotations

from .operators.hocr import ocr_text_closed_form
from .schema import (
    JS_WHITESPACE, KIND_MEDIA, KIND_OCR, KIND_TEXT, STATUS_COMPLETE, STATUS_FAILED,
)


def expected_result(doc_id: str, spans: list[dict]) -> dict:
    """Compute the expected pipeline output row for one document."""
    ordered = sorted(spans, key=lambda s: s["offset"])
    has_native = any(
        s["kind"] == KIND_TEXT and (s["text"] or "").strip(JS_WHITESPACE)
        for s in ordered
    )
    if has_native:
        out = [
            {
                "kind": KIND_TEXT,
                "text": s["text"],
                "media_ref": None,
                "offset": s["offset"],
            }
            for s in ordered
            if s["kind"] == KIND_TEXT
        ]
        return {
            "doc_id": doc_id,
            "spans_out": out,
            "status": STATUS_COMPLETE,
            "error_pages": [],
        }

    media = [s for s in ordered if s["kind"] == KIND_MEDIA]
    out, errors = [], []
    for s in media:
        text = ocr_text_closed_form(s["media_ref"])
        if text is None:
            errors.append(s["offset"])
        else:
            out.append(
                {
                    "kind": KIND_OCR,
                    "text": text,
                    "media_ref": s["media_ref"],
                    "offset": s["offset"],
                }
            )
    if media and not out:
        return {
            "doc_id": doc_id,
            "spans_out": [],
            "status": STATUS_FAILED,
            "error_pages": sorted(errors),
        }
    return {
        "doc_id": doc_id,
        "spans_out": out,
        "status": STATUS_COMPLETE,
        "error_pages": sorted(errors),
    }


def expected_results(rows: list[dict]) -> dict[str, dict]:
    return {
        r["doc_id"]: expected_result(r["doc_id"], r["spans"]) for r in rows
    }
