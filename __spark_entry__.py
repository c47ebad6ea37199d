"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: the full extraction pipeline over the
                 sf0.001 `documents` corpus wrapped as Common-Crawl
                 style pages (deterministic chrome), returning the
                 extracted table.
queries()      — operators from SURVEY.md §2 + training-data-pipeline
                 ops, each as (spark, sf_dir) -> DataFrame.  They live
                 in ocr_pipeline_spark/queries/, one module per family,
                 each registered with its oracle where it is defined.
oracle_sql()   — DuckDB-equivalent SQL for every SQL-expressible query
                 (same column names/types).  The byte-deterministic
                 extraction family is oracled against single-process
                 golden-witness parquets (scripts/gen_witness.py);
                 remaining kernel-based queries (lang-id, simhash,
                 minhash-LSH, ANN) get the driver's rows-only check
                 plus independent pytest verification.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents -> pages -> salted repartition -> Arrow
    extraction kernel -> extracted(url, markdown, spans, ...)."""
    from ocr_pipeline_spark.fixtures.gen_pages import documents_as_pages_df
    from ocr_pipeline_spark.plans.job import run_extraction

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    pages = documents_as_pages_df(docs)
    out = run_extraction(spark, pages, describe=True)
    return out.select(
        "url", "warc_ts", "lang", "page_num",
        F.col("classification.type").alias("page_type"),
        F.col("classification.confidence").alias("confidence"),
        "method", "markdown", "spans", "n_chars", "n_figures",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query: first the driver window (the first 50
    entries, the only ones the driver's correctness harness evaluates),
    then the other oracled queries, then the rows-only ones; registration
    order within each group.  Every oracled query, in the window or not,
    is verified by the same compare in tests/test_entry_contract.py, and
    test_driver_window_allocation pins the window's membership."""
    from ocr_pipeline_spark.queries.registry import REGISTRY

    ordered = sorted(
        REGISTRY.items(), key=lambda kv: (not kv[1].window, kv[1].oracle is None)
    )
    return {name: q.fn for name, q in ordered}


def oracle_sql() -> dict[str, str]:
    from ocr_pipeline_spark.queries.registry import REGISTRY

    return {
        name: q.oracle() if callable(q.oracle) else q.oracle
        for name, q in REGISTRY.items()
        if q.oracle is not None
    }
