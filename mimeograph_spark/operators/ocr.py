"""OCR stage: Arrow-batched pandas UDFs over media spans.

Replaces the reference's per-page `convert` (ImageMagick rasterize,
src/mimeograph.coffee:175-215) + `hocr` (tesseract, :226-261) + hOCR
parse (:297-305) chain — which costs >=5 process spawns and >=6 Redis
blob round-trips PER PAGE — with vectorized in-process compute: one
Arrow batch transfer amortizes the Python boundary over thousands of
pages.

Two UDFs, same per-page semantics:

- `ocr_refs_udf`: one call per document over its offset-ordered array
  of media refs; `extract` (plans/pipeline.py) runs it for every doc,
  whatever its page count.  Zero shuffle: the whole OCR branch is one
  narrow stage, and only flat string arrays cross the Arrow boundary.
- `ocr_page_udf`: one call per page row; it serves the `ocr_pages`
  driver query, which lists every page of the OCR-branch docs.

Page errors never raise: a failed page yields NULL text and is
accounted in `error_pages` downstream (src/mimeograph.coffee:729-759
semantics — page errors don't kill the document).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from .hocr import ocr_page


def _ocr_batch(refs: Iterable[str]) -> list[str | None]:
    """Synthesize + parse hOCR for a batch of page refs (None on page
    error).  The hot loop is pure string compute over one Arrow batch."""
    return [ocr_page(r) if r is not None else None for r in refs]


@F.pandas_udf(StringType())
def ocr_page_udf(refs: pd.Series) -> pd.Series:
    """Per page row: media_ref -> page text (NULL = page error)."""
    return pd.Series(_ocr_batch(refs), index=refs.index, dtype=object)


@F.pandas_udf(ArrayType(StringType()))
def ocr_refs_udf(refs: pd.Series) -> pd.Series:
    """Per doc: array of media refs -> aligned array of page texts
    (NULL element = page error).

    Only flat string arrays cross the Arrow boundary — span structs are
    rebuilt JVM-side with zip_with (pipeline.py), which measured ~5x
    faster end-to-end than shipping array<struct> both ways.
    """
    return pd.Series(
        [None if lst is None else _ocr_batch(lst) for lst in refs],
        index=refs.index,
        dtype=object,
    )


