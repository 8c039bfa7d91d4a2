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

The UDF ships by reference (its function is this module's `_ocr_refs`),
so every Python worker that runs it imports this module.  That import
also cuts the boundary's fixed per-task cost: PySpark's worker calls
`importlib.invalidate_caches()` before every task, and before CPython
3.13 each `zipimporter` then re-reads its whole archive directory — a
pandas-UDF worker holds 16 of them, nearly all on the 1,328-entry
`pyspark.zip`, which took 120-250 ms per task.  `_invalidate_if_changed`
backports 3.13's lazy behaviour: an archive is re-read only when its
(mtime, size) differs from this process's last read of it.

Page errors never raise: a failed page yields NULL text and is
accounted in `error_pages` downstream (src/mimeograph.coffee:729-759
semantics — page errors don't kill the document).
"""

from __future__ import annotations

import os
import sys
import zipimport

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from .hocr import ocr_page

if sys.version_info < (3, 13):
    _reread = zipimport.zipimporter.invalidate_caches
    _read_stamps: dict[str, tuple[int, int]] = {}

    def _invalidate_if_changed(self) -> None:
        """Re-read the archive's directory only if the file changed since
        this process last read it; otherwise take the shared cache entry."""
        try:
            st = os.stat(self.archive)
        except OSError:
            _reread(self)
            return
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is None or _read_stamps.get(self.archive) != stamp:
            _reread(self)
            _read_stamps[self.archive] = stamp
        else:
            self._files = files

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def _ocr_refs(refs: pd.Series) -> pd.Series:
    """Per doc: array of media refs -> aligned array of page texts
    (NULL element = page error).

    Only flat string arrays cross the Arrow boundary — span structs are
    rebuilt in the JVM with zip_with (pipeline.py), which measured ~5x
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


ocr_refs_udf = F.pandas_udf(_ocr_refs, ArrayType(StringType()))


def ocr_page_udf(ref: Column | str) -> Column:
    """Per page row: media_ref -> page text (NULL = page error)."""
    return F.element_at(ocr_refs_udf(F.array(ref)), 1)
