"""Arrow-vectorized extraction operators (mapInPandas kernels).

The graft of the reference's process-boundary dispatch
(/root/reference/src/stage2_ocr.py:51-177): where the reference ships
page batches to a worker process through JSON temp files, Spark ships
Arrow record batches to its Python workers — no files, no per-row
Python on the JVM side.  Each function below is an iterator-of-batches
kernel so per-worker setup happens once, not per row.

Two physical plans produce byte-identical output:

  * fused (default): classify + extract + clean + describe + finalize
    in ONE narrow pass over the scan — one kernel invocation per row,
    no second scan, no join.  This is the scale-correct plan: the
    reference only splits its stages for GPU-residency reasons
    (ocr_pipeline.py:250-307) that do not exist here.
  * staged (flag): stage-1 emits body + classification + diagram
    sources; a filtered describe branch computes descriptions for the
    (small) diagram subset; a broadcast left join + finalize kernel
    reassembles.  Mirrors the reference's stage graph (SURVEY.md §3.4)
    and exists to prove plan-invariance of the output.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from ocr_pipeline_spark.kernel.classify import wants_description
from ocr_pipeline_spark.kernel.describe import describe_diagram_source
from ocr_pipeline_spark.kernel.page import (
    extract_body,
    finalize_page,
    page_num_from_url,
)

# --- output schemas (DDL) -------------------------------------------------
CLASSIFICATION_DDL = (
    "struct<type:string,confidence:double,description:string,"
    "has_text:boolean,has_images:boolean,has_tables:boolean,"
    "has_diagrams:boolean,method:string>"
)
SPANS_DDL = "array<struct<block_type:string,start:bigint,end:bigint>>"

EXTRACTED_DDL = (
    "url string, warc_ts timestamp, lang string, page_num int, "
    f"classification {CLASSIFICATION_DDL}, method string, "
    "markdown string, description string, "
    f"spans {SPANS_DDL}, "
    "n_chars bigint, n_figures int, n_html_bytes bigint"
)

STAGE1_DDL = (
    "url string, warc_ts timestamp, lang string, page_num int, "
    f"classification {CLASSIFICATION_DDL}, body string, "
    "diagram_sources array<string>, n_figures int, n_html_bytes bigint"
)

DESCRIPTION_DDL = "url string, description string"

_CLS_KEYS = (
    "type", "confidence", "description",
    "has_text", "has_images", "has_tables", "has_diagrams", "method",
)


def _cls_cell(cls: dict) -> dict:
    # Arrow struct columns want dict cells
    return {k: cls.get(k) for k in _CLS_KEYS}


def _describe(sources: list[str]) -> str:
    return "\n\n".join(describe_diagram_source(s) for s in sources)


# --- fused kernel ------------------------------------------------------------
def fused_extract_kernel(describe: bool, counters: dict | None = None):
    """mapInPandas kernel: pages(url, warc_ts, html, lang) -> EXTRACTED_DDL.

    `counters`: optional dict of Spark accumulators
    ({"pages", "empty_pages", "described_pages"}) incremented once per
    Arrow batch — progress observability (P7) with zero extra scan.
    Accumulator semantics: exact for the single planned run of each
    task, over-counted on speculative retries — observability, not
    lineage (the manifest/metrics rows stay authoritative)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar construction: ~2x cheaper than row tuples through
            # pandas object inference at this row width
            n = len(pdf)
            cols: dict[str, list] = {
                "page_num": [0] * n, "classification": [None] * n,
                "method": [""] * n, "markdown": [""] * n,
                "description": [""] * n, "spans": [None] * n,
                "n_chars": [0] * n, "n_figures": [0] * n,
                "n_html_bytes": [0] * n,
            }
            for i, (url, html) in enumerate(zip(pdf["url"], pdf["html"])):
                body, cls, diagram_sources, n_figures = extract_body(html)
                description = ""
                if describe and wants_description(cls) and diagram_sources:
                    description = _describe(diagram_sources)
                page_num = page_num_from_url(url)
                markdown, method, spans = finalize_page(
                    body, cls, description, page_num
                )
                cols["page_num"][i] = page_num
                cols["classification"][i] = _cls_cell(cls)
                cols["method"][i] = method
                cols["markdown"][i] = markdown
                cols["description"][i] = description
                cols["spans"][i] = spans
                cols["n_chars"][i] = len(markdown)
                cols["n_figures"][i] = n_figures
                cols["n_html_bytes"][i] = len(html) if html is not None else 0
            if counters is not None:
                counters["pages"].add(n)
                counters["empty_pages"].add(
                    sum(1 for c in cols["n_chars"] if c == 0)
                )
                counters["described_pages"].add(
                    sum(1 for d in cols["description"] if d)
                )
            out = pd.DataFrame(
                {
                    "url": pdf["url"].reset_index(drop=True),
                    "warc_ts": pdf["warc_ts"].reset_index(drop=True),
                    "lang": pdf["lang"].reset_index(drop=True),
                    **cols,
                }
            )
            yield out

    return kernel


# --- staged kernels ------------------------------------------------------------
def stage1_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Classify + extract + clean (no describe, no finalize)."""
    for pdf in batches:
        n = len(pdf)
        cols: dict[str, list] = {
            "page_num": [0] * n, "classification": [None] * n,
            "body": [""] * n, "diagram_sources": [None] * n,
            "n_figures": [0] * n, "n_html_bytes": [0] * n,
        }
        for i, (url, html) in enumerate(zip(pdf["url"], pdf["html"])):
            body, cls, diagram_sources, n_figures = extract_body(html)
            cols["page_num"][i] = page_num_from_url(url)
            cols["classification"][i] = _cls_cell(cls)
            cols["body"][i] = body
            cols["diagram_sources"][i] = (
                diagram_sources if wants_description(cls) else []
            )
            cols["n_figures"][i] = n_figures
            cols["n_html_bytes"][i] = len(html) if html is not None else 0
        yield pd.DataFrame(
            {
                "url": pdf["url"].reset_index(drop=True),
                "warc_ts": pdf["warc_ts"].reset_index(drop=True),
                "lang": pdf["lang"].reset_index(drop=True),
                **cols,
            }
        )


def describe_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """T7 graft: diagram subset -> (url, description)."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "url": pdf["url"],
                "description": [
                    _describe(list(sources)) for sources in pdf["diagram_sources"]
                ],
            }
        )


def finalize_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """A1 merge + A2 header + spans over joined (stage1 ⟕ descriptions)."""
    for pdf in batches:
        n = len(pdf)
        cols: dict[str, list] = {
            "classification": [None] * n, "method": [""] * n,
            "markdown": [""] * n, "description": [""] * n,
            "spans": [None] * n, "n_chars": [0] * n,
        }
        for i, (page_num, cls_row, body, desc) in enumerate(zip(
            pdf["page_num"], pdf["classification"], pdf["body"],
            pdf["description"],
        )):
            cls = dict(zip(_CLS_KEYS, cls_row)) if not isinstance(cls_row, dict) else cls_row
            description = desc if isinstance(desc, str) and desc else ""
            markdown, method, spans = finalize_page(
                body, cls, description, int(page_num)
            )
            cols["classification"][i] = _cls_cell(cls)
            cols["method"][i] = method
            cols["markdown"][i] = markdown
            cols["description"][i] = description
            cols["spans"][i] = spans
            cols["n_chars"][i] = len(markdown)
        yield pd.DataFrame(
            {
                "url": pdf["url"].reset_index(drop=True),
                "warc_ts": pdf["warc_ts"].reset_index(drop=True),
                "lang": pdf["lang"].reset_index(drop=True),
                "page_num": pdf["page_num"].reset_index(drop=True),
                "classification": cols["classification"],
                "method": cols["method"],
                "markdown": cols["markdown"],
                "description": cols["description"],
                "spans": cols["spans"],
                "n_chars": cols["n_chars"],
                "n_figures": pdf["n_figures"].reset_index(drop=True),
                "n_html_bytes": pdf["n_html_bytes"].reset_index(drop=True),
            }
        )
