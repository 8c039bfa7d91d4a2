"""The OCR UDF's worker does not re-read unchanged zip archives per task.

PySpark's worker calls `importlib.invalidate_caches()` before every
task; before CPython 3.13 that re-reads the directory of every archive
on `sys.path` (pyspark.zip among them).  `operators/ocr.py` installs a
backport of 3.13's behaviour that re-reads only a changed archive, and
ships its UDF by reference so that every worker running it imports the
module.
"""

from __future__ import annotations

import importlib
import pickle
import sys
import zipfile
import zipimport

import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.serializers import CloudPickleSerializer
from pyspark.sql.types import StringType

from mimeograph_spark.operators import ocr
from mimeograph_spark.operators.ocr import ocr_refs_udf

BACKPORTED = sys.version_info < (3, 13)


def test_backport_is_installed_only_before_3_13():
    installed = zipimport.zipimporter.invalidate_caches.__module__ == ocr.__name__
    assert installed == BACKPORTED


@pytest.mark.skipif(not BACKPORTED, reason="CPython 3.13 reads zip directories lazily")
def test_unchanged_archive_is_not_reread_and_changed_one_is(tmp_path):
    archive = str(tmp_path / "mods.zip")

    def write(modules):
        with zipfile.ZipFile(archive, "w") as z:
            for name in modules:
                z.writestr(f"{name}.py", f"NAME = {name!r}\n")

    mod_a, mod_b = "_zip_caches_probe_a", "_zip_caches_probe_b"
    saved_path = list(sys.path)
    saved_importers = dict(sys.path_importer_cache)
    write([mod_a])
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module(mod_a).NAME == mod_a
        # the first call reads the archive once and records its stamp
        importlib.invalidate_caches()
        files = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is files

        write([mod_a, mod_b])
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is not files
        assert importlib.import_module(mod_b).NAME == mod_b
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_importers)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in (mod_a, mod_b):
            sys.modules.pop(name, None)


def test_worker_rereads_no_archive_after_its_first_ocr_task(spark):
    """A probe UDF in the same Arrow eval node as `ocr_refs_udf` counts
    the archive directories that `invalidate_caches()` replaces.  Any
    worker seen again, which has run an OCR task before, replaces none."""
    payload = CloudPickleSerializer().dumps(ocr_refs_udf.func)
    assert b"mimeograph_spark.operators.ocr" in payload
    assert pickle.loads(payload) is ocr_refs_udf.func  # by reference, not by value

    @F.pandas_udf(StringType())
    def rereads(ids: pd.Series) -> pd.Series:
        import importlib
        import os
        import zipimport

        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache
        changed = sum(after.get(k) is not v for k, v in before.items())
        return pd.Series([f"{os.getpid()} {changed}"] * len(ids))

    df = spark.range(0, 8, 1, 1).select(
        ocr_refs_udf(F.array(F.lit("pg:zip-caches:0"))).alias("texts"),
        rereads("id").alias("probe"),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan

    # one task per action; idle workers are reused first-in first-out,
    # so a worker comes back once the idle ones ahead of it have run
    seen, repeats = set(), []
    for _ in range(12):
        rows = df.collect()
        assert all(r.texts is not None for r in rows)
        pid, changed = map(int, rows[0].probe.split())
        if pid in seen:
            repeats.append(changed)
        seen.add(pid)
    assert repeats, "no worker ran a second task"
    assert repeats == [0] * len(repeats)
