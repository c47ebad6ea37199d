"""Per-layer instruments for the traced run, all applied from outside the
package: the kernel's public functions timed in-process on a fixed
sample, the catalog's public methods wrapped with timers, and Spark's own
event log read back after the session stops.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import defaultdict

KERNEL_STAGES = ("decode", "parse", "render", "classify", "clean", "describe", "finalize")


# --- kernel ---------------------------------------------------------------------
def sample_kernel(pdf, batch_rows: int) -> dict:
    """Time the kernel on `pdf` (pages: url, warc_ts, html, lang) in this
    process.  Sub-stages are timed through the kernel's public functions,
    one pass per stage over the whole sample:

      decode    dom.decode_html on the raw bytes
      parse     dom.parse_html on the decoded text
      render    blocks.render_blocks minus parse (main root + renderer)
      classify  classify.classify_stats + dispatch_strategy
      clean     cleaning.clean_text on the joined rendered blocks
      describe  describe.describe_diagram_source where the page wants it
      finalize  page.finalize_page

    The fused Arrow operator then runs on pandas batches of `batch_rows`
    rows; its per-page time minus the stage sum is the batch overhead
    (pandas in and out, page_num, bookkeeping).  Returns µs per page
    after one untimed warm pass."""
    from ocr_pipeline_spark.kernel.blocks import render_blocks
    from ocr_pipeline_spark.kernel.classify import (
        classify_stats,
        dispatch_strategy,
        wants_description,
    )
    from ocr_pipeline_spark.kernel.cleaning import clean_text
    from ocr_pipeline_spark.kernel.describe import describe_diagram_source
    from ocr_pipeline_spark.kernel.dom import decode_html, parse_html
    from ocr_pipeline_spark.kernel.page import extract_body, finalize_page, page_num_from_url
    from ocr_pipeline_spark.operators.extract_op import fused_extract_kernel

    pc = time.perf_counter
    n = len(pdf)
    urls = list(pdf["url"])
    raws = [bytes(h) for h in pdf["html"]]
    sec: dict[str, float] = {}

    # untimed pass first: the parser's memo tables fill up as they do in
    # a long-lived worker, so every timed pass sees the same warm state
    bodies = [extract_body(h) for h in raws]

    t0 = pc()
    texts = [decode_html(h) for h in raws]
    sec["decode"] = pc() - t0

    t0 = pc()
    for s in texts:
        parse_html(s)
    sec["parse"] = pc() - t0

    t0 = pc()
    rendered = [render_blocks(s) for s in texts]
    sec["render"] = max(0.0, pc() - t0 - sec["parse"])

    t0 = pc()
    for _, stats in rendered:
        dispatch_strategy(classify_stats(stats))
    sec["classify"] = pc() - t0

    joined = ["\n\n".join(b.text for b in blocks) for blocks, _ in rendered]
    t0 = pc()
    for text in joined:
        clean_text(text)
    sec["clean"] = pc() - t0

    t0 = pc()
    descriptions = [
        "\n\n".join(describe_diagram_source(s) for s in sources)
        if wants_description(cls) and sources else ""
        for _, cls, sources, _ in bodies
    ]
    sec["describe"] = pc() - t0

    t0 = pc()
    for url, (body, cls, _, _), desc in zip(urls, bodies, descriptions):
        finalize_page(body, cls, desc, page_num_from_url(url))
    sec["finalize"] = pc() - t0

    kernel = fused_extract_kernel(True)
    batches = [pdf.iloc[i : i + batch_rows] for i in range(0, n, batch_rows)]
    t0 = pc()
    for _ in kernel(iter(batches)):
        pass
    fused = pc() - t0

    us = {k: v / n * 1e6 for k, v in sec.items()}
    fused_us = fused / n * 1e6
    return {
        "pages": n,
        "stage_us": us,
        "fused_us": fused_us,
        "batch_overhead_us": fused_us - sum(us.values()),
    }


# --- catalog ----------------------------------------------------------------------
CATALOG_METHODS = (
    "completed_buckets", "overwrite_buckets", "read", "write_metrics",
    "bucket_row_counts", "commit_bucket",
)


class CatalogTimer:
    """While entered, every public ParquetCatalog method is timed and its
    Spark jobs carry the job group `catalog.<method>`."""

    def __init__(self, spark, outer_group: str):
        self.sc = spark.sparkContext
        self.outer_group = outer_group
        self.seconds: dict[str, float] = defaultdict(float)
        self._saved: dict[str, object] = {}

    def __enter__(self) -> "CatalogTimer":
        from ocr_pipeline_spark.sources.catalog import ParquetCatalog

        for name in CATALOG_METHODS:
            orig = getattr(ParquetCatalog, name)
            self._saved[name] = orig
            setattr(ParquetCatalog, name, self._wrap(name, orig))
        return self

    def __exit__(self, *exc) -> None:
        from ocr_pipeline_spark.sources.catalog import ParquetCatalog

        for name, orig in self._saved.items():
            setattr(ParquetCatalog, name, orig)

    def _wrap(self, name: str, fn):
        timer = self

        @functools.wraps(fn)
        def timed(catalog, *args, **kwargs):
            timer.sc.setJobGroup(f"catalog.{name}", name)
            t0 = time.perf_counter()
            try:
                return fn(catalog, *args, **kwargs)
            finally:
                timer.seconds[name] += time.perf_counter() - t0
                timer.sc.setJobGroup(timer.outer_group, timer.outer_group)

        return timed


# --- event log --------------------------------------------------------------------
class EventLog:
    """Task and stage records of the event logs in a directory, with the
    job group of the job that ran each stage.  Stages are keyed by
    (log file, stage id)."""

    def __init__(self, events_dir: str):
        self.stage_group: dict[tuple, str] = {}
        self.stage_span: dict[tuple, tuple[int, int]] = {}
        self.tasks: dict[tuple, list[dict]] = defaultdict(list)
        for app, name in enumerate(sorted(os.listdir(events_dir))):
            with open(os.path.join(events_dir, name)) as fh:
                for line in fh:
                    self._add(app, json.loads(line))

    def _add(self, app: int, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                self.stage_group.setdefault((app, sid), group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                self.stage_span[(app, info["Stage ID"])] = (
                    info["Submission Time"], info["Completion Time"]
                )
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            self.tasks[(app, ev["Stage ID"])].append({
                "map": ev.get("Task Type") == "ShuffleMapTask",
                "ms": info["Finish Time"] - info["Launch Time"],
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                "write": wr.get("Shuffle Bytes Written", 0),
            })

    def stages(self, match) -> list[tuple]:
        """Stages that ran tasks under a job group accepted by `match`."""
        return sorted(s for s, g in self.stage_group.items() if s in self.tasks and match(g))

    def summary(self, match, wall_s: float, cores: int, action=None) -> dict:
        """Metrics over the stages run under job groups accepted by
        `match`.  Exchanges, skew and the write stage are taken over the
        groups accepted by `action` (default: `match`): shuffle map
        stages run, max/median task time in the stage with the most task
        time (the kernel stage of an extraction job), and the duration of
        the action's last result stage."""
        stages = self.stages(match)
        act = self.stages(action or match)
        tasks = [t for s in stages for t in self.tasks[s]]
        out = {
            "stages": len(stages),
            "tasks": len(tasks),
            "exchanges": sum(1 for s in act if any(t["map"] for t in self.tasks[s])),
            "shuffle_write_bytes": sum(t["write"] for t in tasks),
            "shuffle_read_bytes": sum(t["read"] for t in tasks),
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
            "spill_bytes": sum(t["spill"] for t in tasks),
            "executor_cpu_frac": (
                sum(t["cpu_ns"] for t in tasks) / 1e9 / (cores * wall_s) if wall_s else 0.0
            ),
            "task_skew": 0.0,
            "write_stage_s": 0.0,
        }
        if act:
            heavy = max(act, key=lambda s: sum(t["ms"] for t in self.tasks[s]))
            ms = [t["ms"] for t in self.tasks[heavy]]
            out["task_skew"] = max(ms) / max(1.0, statistics.median(ms))
            result = [s for s in act if not any(t["map"] for t in self.tasks[s])]
            if result and result[-1] in self.stage_span:
                t0, t1 = self.stage_span[result[-1]]
                out["write_stage_s"] = (t1 - t0) / 1000
        return out
