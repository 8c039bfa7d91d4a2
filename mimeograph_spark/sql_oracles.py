"""DuckDB-runnable oracle SQL for the driver's correctness gate.

Each oracle replays, in pure ANSI-ish SQL over the flat `documents`
testdata view, what the Spark pipeline computes over the derived
nested corpus: the span derivation (corpus.DERIVE_SPANS_SQL), the
doc-level OCR branch decision, the closed-form OCR text
(hocr.ocr_text_sql), error accounting, and the ordered stitch.
"""

from __future__ import annotations

from .corpus import DERIVE_SPANS_SQL
from .operators.hocr import ocr_text_sql

_OCR_TEXT = ocr_text_sql("s.media_ref")

# Per-doc branch flags over the derived span rows.
_FLAGS = r"""
  flags AS (
    SELECT doc_id,
           coalesce(bool_or(kind = 'text'
                    AND coalesce(regexp_replace(text, '\s', '', 'g'), '') <> ''),
                    FALSE) AS has_native,
           count(*) FILTER (WHERE kind = 'media') AS n_media
    FROM span_rows
    GROUP BY doc_id
  )
"""


def pipeline_extract_sql() -> str:
    """Oracle for the full extraction pipeline, flat output shape
    (doc_id, status, n_spans_out, n_errors, error_pages_csv,
    final_text)."""
    return f"""
WITH {DERIVE_SPANS_SQL.strip()},
{_FLAGS.strip()},
  native_out AS (
    SELECT s.doc_id,
           'complete' AS status,
           count(*) AS n_spans_out,
           CAST(0 AS BIGINT) AS n_errors,
           '' AS error_pages_csv,
           string_agg(s.text, ' ' ORDER BY s."offset") AS final_text
    FROM span_rows s JOIN flags f USING (doc_id)
    WHERE f.has_native AND s.kind = 'text'
    GROUP BY s.doc_id
  ),
  ocr_stats AS (
    SELECT s.doc_id,
           count(*) FILTER (WHERE s.media_ref NOT LIKE '%#bad') AS n_good,
           count(*) FILTER (WHERE s.media_ref LIKE '%#bad') AS n_bad,
           string_agg(
             CASE WHEN s.media_ref NOT LIKE '%#bad' THEN {_OCR_TEXT} END,
             ' ' ORDER BY s."offset") AS good_text,
           string_agg(
             CASE WHEN s.media_ref LIKE '%#bad'
                  THEN CAST(s."offset" AS VARCHAR) END,
             ',' ORDER BY s."offset") AS bad_csv
    FROM span_rows s JOIN flags f USING (doc_id)
    WHERE NOT f.has_native AND s.kind = 'media'
    GROUP BY s.doc_id
  ),
  ocr_out AS (
    SELECT f.doc_id,
           CASE WHEN f.n_media > 0 AND coalesce(o.n_good, 0) = 0
                THEN 'failed' ELSE 'complete' END AS status,
           coalesce(o.n_good, CAST(0 AS BIGINT)) AS n_spans_out,
           coalesce(o.n_bad, CAST(0 AS BIGINT)) AS n_errors,
           coalesce(o.bad_csv, '') AS error_pages_csv,
           CASE WHEN coalesce(o.n_good, 0) > 0 THEN o.good_text END AS final_text
    FROM flags f LEFT JOIN ocr_stats o USING (doc_id)
    WHERE NOT f.has_native
  )
SELECT * FROM native_out
UNION ALL
SELECT * FROM ocr_out
"""


def classify_branch_sql() -> str:
    """Oracle: doc counts + total media pages per branch."""
    return f"""
WITH {DERIVE_SPANS_SQL.strip()},
{_FLAGS.strip()}
SELECT has_native,
       count(*) AS n_docs,
       CAST(sum(n_media) AS BIGINT) AS total_media
FROM flags
GROUP BY has_native
"""


def span_kind_counts_sql() -> str:
    """Oracle for the derivation itself: span counts per kind."""
    return f"""
WITH {DERIVE_SPANS_SQL.strip()}
SELECT kind, count(*) AS n_spans,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM span_rows
GROUP BY kind
"""


def interleaved_examples_sql() -> str:
    """Oracle for model-ready interleaved assembly: span_rows in
    offset order, media spans replaced by indexed placeholder tokens,
    refs aggregated in the same order."""
    return f"""
WITH {DERIVE_SPANS_SQL.strip()},
ordered AS (
  SELECT doc_id, kind, text, media_ref, "offset",
         coalesce(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) OVER (
           PARTITION BY doc_id ORDER BY "offset"
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS media_before
  FROM span_rows
), pieces AS (
  SELECT doc_id, "offset", kind, media_ref,
         CASE WHEN kind = 'text' THEN coalesce(text, '')
              ELSE '<|media_' || CAST(media_before AS VARCHAR) || '|>'
         END AS piece
  FROM ordered
)
SELECT doc_id,
       string_agg(piece, ' ' ORDER BY "offset") AS example_text,
       coalesce(string_agg(
         CASE WHEN kind = 'media' THEN media_ref END, ','
         ORDER BY "offset"), '') AS media_refs_csv,
       CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_media,
       CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_text
FROM pieces GROUP BY doc_id
"""


def ocr_pages_sql() -> str:
    """Oracle for the page-level OCR operator: every media span of
    every OCR-branch doc with its OCR text (NULL on bad pages)."""
    return f"""
WITH {DERIVE_SPANS_SQL.strip()},
{_FLAGS.strip()}
SELECT s.doc_id, s."offset" AS page_offset, s.media_ref,
       CASE WHEN s.media_ref NOT LIKE '%#bad' THEN {_OCR_TEXT} END AS ocr_text
FROM span_rows s JOIN flags f USING (doc_id)
WHERE NOT f.has_native AND s.kind = 'media'
"""
