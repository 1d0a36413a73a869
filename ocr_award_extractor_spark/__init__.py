"""PySpark-native web-document extraction engine.

A from-scratch rebuild of the extraction semantics of
Gloridust/OCR-Award-Extractor (reference at /root/reference, read-only)
as a Spark-first, Common-Crawl-scale pipeline:

    Iceberg/parquet scan (partition-pruned on warc_ts)
      -> salted repartition (host-skew defuse)
      -> mapInPandas batched HTML parse + boilerplate strip + field extraction
      -> structured spans + lineage rows written back (resumable)

Layout:
    functions/   pure-Python kernels (field extraction, HTML->text, text stats)
    operators/   DataFrame-level operators (extract pipeline, dedup, similarity)
    sources/     table loaders + the deterministic web-page fixture generator
    plans/       lineage / resume planning (anti-join against committed splits)
    streaming/   optional Structured Streaming demo of the same extractor
    zipcache.py  per-task zipimport fix, installed on import (see its docstring)
"""

from . import zipcache as _zipcache

__version__ = "0.1.0"

# Every Python worker that unpickles engine code imports this package, so
# installing here reaches every worker without a Spark conf.
_zipcache.install()
