"""The driver queries, one module per family of perfbench/families.py
(training and sketches hold its `other` queries).  Importing the package
registers every query, in this module order, into `registry.REGISTRY`."""

from ocr_pipeline_spark.queries import (  # noqa: F401
    relational, extraction, dedup, ann, crawl, text_quality, retrieval, graph,
    streaming, training, sketches,
)
