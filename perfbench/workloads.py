"""The benchmark's workloads: input set-up, the timed operation, its
output check, and the traced per-layer breakdown.

A workload is driven in a closed loop by `run.py`: `prepare()` once per
set-up, then `run()` (timed) and `verify()` (untimed) per repetition,
and `trace()` once at the end of a traced invocation.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from mimeograph_spark.operators.classify import (
    HAS_NATIVE,
    N_MEDIA,
    sort_spans_by_offset,
    with_doc_class,
)
from mimeograph_spark.operators.hocr import ocr_page
from mimeograph_spark.operators.ocr import ocr_page_udf, ocr_refs_udf
from mimeograph_spark.operators.stitch import stitch_pages
from mimeograph_spark.plans.pipeline import DEFAULT_PAGE_THRESHOLD, extract
from mimeograph_spark.sources.checkpoint import CheckpointTable, resume_filter
from mimeograph_spark.sources.lineage import lineage_rows

from . import check, gen
from .tracing import Tracer


def _native() -> F.Column:
    return F.col(HAS_NATIVE)


def _mega() -> F.Column:
    return ~_native() & (F.col(N_MEDIA) > DEFAULT_PAGE_THRESHOLD)


def _media() -> F.Column:
    return F.filter("spans", lambda s: s["kind"] == "media")


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sum(col: F.Column, name: str) -> F.Column:
    return F.coalesce(F.sum(col.cast("long")), F.lit(0)).alias(name)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Workload:
    """Base: `docs` is the generated documents table the program reads;
    `expected` holds the oracle totals of the documents one run emits."""

    # the traced checkpoint increment works on one document in
    # TRACE_SLICE, of which COMMITTED_PCT percent are committed beforehand
    TRACE_SLICE, COMMITTED_PCT, PRIOR_SNAPSHOTS = 10, 90, 3

    def __init__(self, spark: SparkSession, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.docs: DataFrame | None = None
        self.expected: dict = {}

    def _write_docs(self, df: DataFrame) -> DataFrame:
        path = os.path.join(self.work, "documents")
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def generate(self) -> DataFrame:
        raise NotImplementedError

    @contextmanager
    def _part(self, name: str):
        """Time one step of `prepare` into `prep_parts`."""
        t = time.perf_counter()
        yield
        self.prep_parts[name] = time.perf_counter() - t

    def prepare(self) -> None:
        self.prep_parts = {}
        with self._part("generate"):
            self.docs = self._write_docs(self.generate())
        with self._part("oracle"):
            self.expected = check.totals(check.oracle_rows(self.docs))

    @property
    def docs_out(self) -> int:
        return self.expected["docs"]

    @property
    def pages(self) -> int:
        return check.pages(self.expected)

    def run(self):
        df, obs = check.observed(extract(self.docs))
        _noop(df)
        return obs.get

    def verify(self, got: dict) -> int:
        """Number of documents that differ from the oracle."""
        if got == self.expected:
            return 0
        return max(1, check.count_mismatches(extract(self.docs), self.docs))

    def increment_tables(self):
        """(documents, results table, lineage table, expected totals)
        for the traced checkpoint increment: a slice of the documents,
        COMMITTED_PCT of it already committed to the results table in
        PRIOR_SNAPSHOTS snapshots, so the increment's anti-join runs
        against several snapshots and extracts the rest."""
        docs = self.docs.filter(
            gen.pick(self.seed, 8, self.TRACE_SLICE, F.col("doc_id")) == 0
        )
        root = os.path.join(self.work, "trace_tables")
        shutil.rmtree(root, ignore_errors=True)
        results = CheckpointTable(os.path.join(root, "results"))
        bucket = gen.pick(self.seed, 7, 100, F.col("doc_id"))
        stage = os.path.join(root, "committed")
        extract(docs.filter(bucket < self.COMMITTED_PCT)).write.parquet(stage)
        staged = self.spark.read.parquet(stage)
        step = self.COMMITTED_PCT // self.PRIOR_SNAPSHOTS
        for k in range(self.PRIOR_SNAPSHOTS):
            part = staged.filter((bucket >= k * step) & (bucket < (k + 1) * step))
            results.append(part, meta={"run_id": f"prior-{k}"})
        return (
            docs,
            results,
            CheckpointTable(os.path.join(root, "lineage")),
            check.totals(check.oracle_rows(docs.filter(bucket >= self.COMMITTED_PCT))),
        )

    def trace(self, tr: Tracer) -> tuple[dict, int]:
        """Run every layer once under spans; returns (per-layer metrics,
        mismatched documents seen by the traced calls)."""
        m, bad = _trace_extract(self, tr)
        m2, bad2 = _trace_increment(self, tr)
        m.update(m2)
        m.update(_input_stats(self))
        return m, bad + bad2


class Mixed(Workload):
    N_DOCS = 40_000

    def generate(self) -> DataFrame:
        return gen.mixed_docs(self.spark, self.seed, self.N_DOCS)


class MegapageSkew(Workload):
    N_SMALL, N_MEGA, MEGA_MIN, MEGA_MAX = 10_000, 4, 10_000, 16_000

    def generate(self) -> DataFrame:
        return gen.megapage_docs(
            self.spark, self.seed, self.N_SMALL, self.N_MEGA,
            self.MEGA_MIN, self.MEGA_MAX,
        )


def _trace_extract(wl: Workload, tr: Tracer) -> tuple[dict, int]:
    """Plan prefixes of `extract`, each timed by its own action:
    classify -> ocr_refs_udf (main branch), explode -> ocr_page_udf
    (mega branch), stitch over pre-OCR'd page rows, then the whole
    extract plan.  Self time of extract = its time minus its children."""
    docs = wl.docs
    classified = with_doc_class(docs)
    mega_pages = classified.filter(_mega()).select(
        "doc_id", F.explode(_media()).alias("s")
    ).select("doc_id", "s.offset", "s.media_ref")

    # stitch input: OCR text materialized here, so only the shuffle and
    # ordered merge are timed
    path = os.path.join(wl.work, "page_rows")
    mega_pages.select(
        "doc_id", "offset", "media_ref", F.lit("ocr").alias("kind"),
        ocr_page_udf("media_ref").alias("text"),
    ).write.mode("overwrite").parquet(path)
    page_rows = wl.spark.read.parquet(path)

    ext = tr.span("pipeline.extract")
    refs = tr.span("ocr.refs_prefix", ext)
    cls = tr.span("classify.prefix", refs)
    page = tr.span("ocr.page_prefix", ext)
    st = tr.span("stitch.stitch_pages", ext)

    n_media = F.col(N_MEDIA)
    o_cls = Observation()
    with tr.timed(cls):
        _noop(classified.select("doc_id", HAS_NATIVE, N_MEDIA).observe(
            o_cls,
            _sum(_native(), "native"),
            _sum(~_native() & ~_mega(), "ocr"),
            _sum(_mega(), "mega"),
            _sum(n_media, "media"),
            _sum(F.when(_native(), n_media).otherwise(0), "skipped"),
        ))
    media = F.when(_native(), F.lit([]).cast(gen.SPANS_TYPE)).otherwise(
        sort_spans_by_offset(_media())
    )
    with tr.timed(refs):
        _noop(classified.filter(~_mega()).select(
            ocr_refs_udf(F.transform(media, lambda s: s["media_ref"])).alias("t")
        ))
    with tr.timed(page):
        _noop(mega_pages.select(ocr_page_udf("media_ref").alias("text")))
    o_st = Observation()
    with tr.timed(st):
        _noop(stitch_pages(page_rows, salted=True).observe(
            o_st, F.count(F.lit(1)).alias("docs")
        ))
    with tr.timed(ext):
        df, o_ext = check.observed(extract(docs))
        _noop(df)
    got = o_ext.get
    c = o_cls.get
    return {
        "classify.prefix_s": tr.duration("classify.prefix"),
        "classify.native_docs": c["native"],
        "classify.ocr_docs": c["ocr"],
        "classify.mega_docs": c["mega"],
        "classify.ocr_skipped_frac": c["skipped"] / max(c["media"], 1),
        "ocr.refs_prefix_s": tr.duration("ocr.refs_prefix"),
        "ocr.page_prefix_s": tr.duration("ocr.page_prefix"),
        "ocr.pages": check.pages(got),
        "ocr.error_pages": got["err"],
        "ocr.failed_docs": got["failed"],
        "stitch.stitch_pages_s": tr.duration("stitch.stitch_pages"),
        "stitch.pages_in": page_rows.count(),
        "stitch.docs_out": o_st.get["docs"],
        "pipeline.extract_s": tr.duration("pipeline.extract"),
        "pipeline.self_s": tr.self_s("pipeline.extract"),
    }, int(got != wl.expected)


def _trace_increment(wl: Workload, tr: Tracer) -> tuple[dict, int]:
    """The steps of `run_resumable_with_lineage`, one span each."""
    docs, results, lineage, expected = wl.increment_tables()
    before = {t.path: set(os.listdir(t.path)) for t in (results, lineage)}
    root = tr.span("lineage.run_resumable")
    rf = tr.span("checkpoint.resume_filter", root)
    app = tr.span("checkpoint.append", root)
    rd = tr.span("checkpoint.read", root)
    lin = tr.span("lineage.lineage_rows", root)
    with tr.timed(root):
        started = datetime.now(timezone.utc)
        with tr.timed(rf):
            todo = resume_filter(docs, results)
            todo_docs = todo.count()
        with tr.timed(app):
            snap = results.append(extract(todo), meta={"run_id": "trace"})
        with tr.timed(rd):
            committed = wl.spark.read.parquet(os.path.join(results.path, snap["dir"]))
            committed.count()
        with tr.timed(lin):
            lsnap = lineage.append(
                lineage_rows(committed, "trace", "extract", started),
                meta={"run_id": "trace", "results_snapshot": snap["id"]},
            )
    got = check.totals(committed)
    written = sum(
        _dir_bytes(os.path.join(t.path, name))
        for t in (results, lineage)
        for name in set(os.listdir(t.path)) - before[t.path]
    )
    return {
        "checkpoint.resume_filter_s": tr.duration("checkpoint.resume_filter"),
        "checkpoint.append_s": tr.duration("checkpoint.append"),
        "checkpoint.read_s": tr.duration("checkpoint.read"),
        "checkpoint.snapshots": len(results.snapshots()),
        "checkpoint.todo_docs": todo_docs,
        "checkpoint.bytes_written": written,
        "lineage.lineage_rows_s": tr.duration("lineage.lineage_rows"),
        "lineage.partitions": wl.spark.read.parquet(
            os.path.join(lineage.path, lsnap["dir"])
        ).count(),
    }, int(got != expected)


def _input_stats(wl: Workload) -> dict:
    """Duplicate-ref share of the input, and `ocr_page()` cost per page
    on a sample of the refs this workload OCRs, called in this process."""
    def refs(docs: DataFrame) -> DataFrame:
        return docs.select(F.explode(_media()).alias("s")).select(
            F.col("s.media_ref").alias("r")
        )

    n, distinct = refs(wl.docs).agg(F.count("r"), F.count_distinct("r")).first()
    ocr_docs = with_doc_class(wl.docs).filter(~_native())
    sample = [row.r for row in refs(ocr_docs).limit(4000).collect()]
    per_page = []
    for _ in range(5):
        t = time.perf_counter()
        for r in sample:
            ocr_page(r)
        per_page.append((time.perf_counter() - t) / len(sample) * 1e6)
    return {
        "input.dup_ref_frac": 1 - distinct / n,
        "hocr.ocr_page_us": statistics.median(per_page),
    }


WORKLOADS = {
    "mixed": Mixed,
    "megapage_skew": MegapageSkew,
}
