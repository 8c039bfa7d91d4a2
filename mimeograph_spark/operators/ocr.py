"""OCR stage: the one Arrow-batched pandas UDF over media refs.

Replaces the reference's per-page `convert` (ImageMagick rasterize,
src/mimeograph.coffee:175-215) + `hocr` (tesseract, :226-261) + hOCR
parse (:297-305) chain — which costs >=5 process spawns and >=6 Redis
blob round-trips PER PAGE — with vectorized in-process compute: one
Arrow batch transfer amortizes the Python boundary over thousands of
pages.

`ocr_refs_udf` is the only crossing into Python.  It takes a doc's
offset-ordered array of media refs (plans/pipeline.ocr_pages), so a
doc of any size crosses once and only flat string arrays cross.
`ocr_page_udf` is the same UDF over a one-element array, for callers
that hold one page per row.

Page errors never raise: a failed page yields NULL text and is
accounted in `error_pages` downstream (src/mimeograph.coffee:729-759
semantics — page errors don't kill the document).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from .hocr import ocr_page


@F.pandas_udf(ArrayType(StringType()))
def ocr_refs_udf(refs: pd.Series) -> pd.Series:
    """Per doc: array of media refs -> aligned array of page texts
    (NULL element = page error).

    Only flat string arrays cross the Arrow boundary — span structs are
    rebuilt JVM-side with zip_with (pipeline.py), which measured ~5x
    faster end-to-end than shipping array<struct> both ways.
    """
    return pd.Series(
        [
            None if lst is None
            else [ocr_page(r) if r is not None else None for r in lst]
            for lst in refs
        ],
        index=refs.index,
        dtype=object,
    )


def ocr_page_udf(ref: Column | str) -> Column:
    """Per page row: media_ref -> page text (NULL = page error)."""
    return F.element_at(ocr_refs_udf(F.array(ref)), 1)
