"""mimeograph_spark — a PySpark-native document text-extraction engine.

A from-scratch reimplementation of the capabilities of
steelThread/mimeograph (reference at /root/reference/): text-layer
extraction, OCR fallback for raster pages, hOCR parse, and ordered
page stitch — recast as a staged DataFrame pipeline of vectorized
Arrow/pandas UDFs over tables of interleaved text+media documents.

Not a port: the reference is a Redis-queue job chain spawning external
binaries (pdftotext/pdftk/convert/tesseract); this engine expresses the
same dataflow semantics with the public PySpark DataFrame API: one
narrow plan per input (classify, per-doc OCR through one Arrow UDF,
ordered stitch), letting Catalyst/Tungsten pick physical strategies,
plus checkpoint resume and lineage for the runs.
"""

__version__ = "0.1.0"
