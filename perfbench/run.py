#!/usr/bin/env python3
"""The repository benchmark: the compute cost of page->markdown extraction
on the CLI-default write path, of the query suite, and a traced layer
table that also times the map-only extraction path.

    python3 perfbench/run.py --workload pipeline_cli --seed 1 --seconds 15 --trace 0

One closed-loop client on local[nproc]: one Spark job at a time, each
waited for, repeated until --seconds have passed (pipeline jobs: at
least MIN_JOBS times).

Workloads (inputs are generated from --seed and cached in .cache/):
  pipeline_cli  plans.job.run_pipeline with the values scripts/extract_job.py
                passes by default, into a fresh warehouse per job, over
                N_PAGES default-mix pages (Zipf-1.2 hosts, ~1.6 KB html)
  query_suite   a fixed tenth of __spark_entry__.queries() (families.py)
                over seeded tables (tables.py), each query's first run in
                the session (a pass takes longer than --seconds, so there
                is one); the traced run runs every query once

End-to-end metrics (--trace 0):
  ref_cpu_ms_per_item
                   CPU ms (user + system) the whole process tree (driver,
                   JVM, Python workers) spends per page over all timed
                   pipeline jobs, or per query over the query_suite
                   pass, in ms of a core of reference speed: each job's
                   CPU seconds divided by how much slower than reference
                   the speed probe (speed.py) ran during that job.  On a
                   few cores of a shared host, wall time and plain CPU
                   time per item both drift by up to 2x over minutes with
                   what other guests run; this drifts far less.  Wall throughput
                   (items_per_s) and plain CPU are in the artifact, and
                   the traced run's throughput is trace.items_per_s
  setup_s          session start + warm-up action, median of N_SETUPS, in
                   seconds at reference core speed as above (wall seconds
                   divided by the probe's slowdown; the wall seconds are
                   in the artifact)
  peak_rss_mb      peak summed RSS of the process tree during the timed
                   jobs (the JVM heap is fully committed at start)
--trace 1 runs the traced run and prints the per-layer metrics instead
(names and units in BENCHMARK.json; a metric that does not apply to the
workload reads 0).  On pipeline_cli it times nested legs (scan, Arrow
round trip, map-only extraction, salted exchange, the pipeline) to build
the layer table; see `traced_pipeline`.

Every timed action ends in a hash over every output column, checked
against a reference computed outside the timed window; see `reference`
and `check_warehouse`.  A job that raises or whose check fails counts in
`failed`.  --smoke shrinks the inputs; --corrupt changes one markdown
cell in every timed job, which the checks must catch.

The last stdout line is {"correct", "attempted", "failed", "metrics"}.
Per-job and per-query seconds, digests, the layer table, the event-log
summary and the weather stamp go to out/<workload>-seed<seed>-trace<t>.json.
"""

from __future__ import annotations

import argparse
import functools
import importlib.util
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import families  # noqa: E402
import harness  # noqa: E402
import layers  # noqa: E402
import tables  # noqa: E402

N_PAGES = 8_000
SMOKE_PAGES = 800
PAGE_FILES = 16        # the pages fixture is written as several files, as a crawl dump is
CHECK_URLS = 200       # urls per run compared with the in-process kernel
KERNEL_SAMPLE = 1_500  # pages the traced run times in-process
SMOKE_QUERIES = 4
WARM_JOBS = 4          # untimed pipeline jobs before the timed ones
MIN_JOBS = 3           # timed pipeline jobs per run, also when --seconds is short
# the traced query_suite run starts no query after this many seconds, so
# that it ends within its time limit on a slow box
TRACE_QUERY_BUDGET_S = 150


@functools.cache
def cli_defaults() -> dict:
    """The run_pipeline arguments scripts/extract_job.py passes when it is
    given only its required flags (64 buckets, fused, salt 8, salted
    co-location after the kernel, committed metrics, describe on)."""
    path = os.path.join(harness.ROOT, "scripts", "extract_job.py")
    spec = importlib.util.spec_from_file_location("extract_job", path)
    script = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(script)
    a = script.parse_args(["--input", "pages", "--warehouse", "warehouse"])
    return dict(
        table=a.table, describe=not a.no_describe_diagrams, mode=a.mode,
        n_buckets=a.buckets, chunk_size=a.chunk_size, salt=a.salt,
        co_locate_hosts=not a.no_co_locate, co_locate_stage=a.co_locate_stage,
        metrics_mode=a.metrics_mode,
    )


class Run:
    """State of one benchmark run: arguments, checks, metrics, artifact."""

    def __init__(self, args, stamp: dict, run_dir: str):
        self.args = args
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.cores = harness.nproc()
        self.run_dir = run_dir
        self.n_pages = SMOKE_PAGES if args.smoke else N_PAGES
        self.victim = ""  # the url --corrupt changes, set by `reference`
        self.ledger = harness.Ledger()
        self.digests = harness.DigestCache()
        self.rss = harness.TreeRss()
        self.probe = harness.SpeedProbe(run_dir)
        # metric name -> unit, as BENCHMARK.json lists them; a metric that
        # does not apply to the workload reads 0
        spec = harness.benchmark_spec()["per_layer" if self.trace else "end_to_end"]
        self.units = {m["name"]: m["unit"] for m in spec}
        self.metrics = dict.fromkeys(self.units, 0)
        if self.trace:
            self.metrics["host.idle_frac_pre"] = stamp["idle_frac_pre"]
        self.t0 = time.monotonic()
        self.record: dict = {
            "phases": {},
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "smoke": args.smoke, "corrupt": args.corrupt,
            "weather": stamp, "n_pages": self.n_pages,
        }

    def mark(self, phase: str) -> None:
        """Seconds since the run started at which `phase` ended."""
        self.record["phases"][phase] = time.monotonic() - self.t0

    def conf(self, trace: bool = False) -> dict:
        return harness.session_conf(self.run_dir, trace)

    def setup(self, traced: bool = False):
        """The session: set up N_SETUPS times in a timed run, once (with
        the event log if `traced`) in a traced run."""
        if self.trace:
            spark = harness.start_session(self.conf(trace=traced))
            harness.warm_up(spark)
        else:
            spark, windows = harness.setup(self.conf())
            self.record["setup_wall_s"] = [t1 - t0 for t0, t1 in windows]
            self.record["setup_s"] = [(t1 - t0) / self.probe.slowdown(t0, t1) for t0, t1 in windows]
            self.metrics["setup_s"] = harness.median(self.record["setup_s"])
        self.mark("setup")
        return spark

    def traced_session(self, spark):
        """Swap the untraced session for one that writes the event log."""
        spark.stop()
        spark = harness.start_session(self.conf(trace=True))
        harness.warm_up(spark)
        return spark

    def op(self, name: str, fn):
        """Run one operation; an exception is recorded as its failure.
        `fn` returns (result, problems)."""
        try:
            result, problems = fn()
        except Exception as exc:  # a failing job must not stop the run
            traceback.print_exc(file=sys.stderr)
            result, problems = None, [f"raised {type(exc).__name__}: {exc}"[:500]]
        self.ledger.record(name, problems)
        return result

    def measured(self, fn):
        """fn() and what it cost: (result, wall seconds, CPU seconds of the
        process tree less the memory sampler's own, the same in seconds of
        a reference-speed core).  The CPU by command goes to the artifact."""
        c0, s0, t0 = harness.tree_cpu_s(), self.rss.cpu_s, time.monotonic()
        result = fn()
        t1 = time.monotonic()
        c1, s1 = harness.tree_cpu_s(), self.rss.cpu_s
        by_comm = {k: v - c0.get(k, 0.0) for k, v in c1.items()}
        self.record.setdefault("cpu_by_command", []).append(by_comm)
        cpu = sum(by_comm.values()) - (s1 - s0)
        return result, t1 - t0, cpu, cpu / self.probe.slowdown(t0, t1)

    def loop(self, one_job, min_jobs: int = 1) -> list:
        """Closed loop: run one_job(i) until --seconds have passed and at
        least `min_jobs` have run."""
        results = []
        deadline = time.monotonic() + self.args.seconds
        while True:
            results.append(one_job(len(results)))
            if time.monotonic() >= deadline and len(results) >= min_jobs:
                return results


# --- pipeline_cli -----------------------------------------------------------------
def sampled(n_rows: int, n_sample: int):
    """Deterministic ~n_sample-row predicate on url."""
    from pyspark.sql import functions as F

    modulus = max(1, n_rows // n_sample)
    return F.pmod(F.xxhash64(F.col("url")), F.lit(modulus)) == 0


def pages_fixture(run: Run, spark):
    def build(tmp: str) -> None:
        from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df

        generate_pages_df(spark, run.n_pages, run.seed, partitions=PAGE_FILES).write.parquet(tmp)

    path, gen_s = harness.cached_fixture(f"pages-n{run.n_pages}-s{run.seed}", build)
    if "fixtures.gen_s" in run.metrics:
        run.metrics["fixtures.gen_s"] = gen_s
    run.record["fixtures_gen_s"] = gen_s
    return path


def expected_markdown(pages, picked) -> dict:
    """url -> markdown of the picked pages from kernel.extract_page, run
    single-process in this interpreter."""
    from ocr_pipeline_spark.kernel import extract_page
    from ocr_pipeline_spark.kernel.page import page_num_from_url

    return {
        r["url"]: extract_page(
            bytes(r["html"]), page_num_from_url(r["url"]), describe=cli_defaults()["describe"]
        ).markdown
        for r in pages.filter(picked).select("url", "html").collect()
    }


def sample_problems(expected: dict, rows) -> list[str]:
    got = {r["url"]: r["markdown"] for r in rows}
    if not expected:
        return ["no url in the check sample"]
    bad = sorted(u for u in expected if got.get(u) != expected[u])
    return [f"{len(bad)}/{len(expected)} sampled urls differ from extract_page, e.g. {bad[0]}"] if bad else []


def reference(run: Run, spark, pages) -> dict | None:
    """The map-only extraction once, outside the timed window.  Its
    full-row digest and its (url, markdown) digest are what the timed
    jobs must reproduce; its markdown for the CHECK_URLS sampled urls must
    equal kernel.extract_page, and its digests must equal those of earlier
    runs on the same input."""
    from pyspark.sql import functions as F

    from ocr_pipeline_spark.plans import job

    picked = sampled(run.n_pages, CHECK_URLS)

    def go():
        out = job.run_extraction(
            spark, pages, describe=cli_defaults()["describe"], mode=cli_defaults()["mode"],
            co_locate_hosts=False,
        )
        aggs = harness.digest_aggs(out) + harness.digest_aggs(out, ["url", "markdown"], "um_") + [
            F.collect_list(F.when(picked, F.struct("url", "markdown"))).alias("sample"),
            F.sum(F.when(F.col("n_chars") == 0, 1).otherwise(0)).alias("empty_pages"),
            F.sum(F.when(F.col("description") != "", 1).otherwise(0)).alias("described_pages"),
            F.sum("n_chars").alias("chars_out"),
        ]
        t0 = time.perf_counter()
        row = harness.run_sink(out, aggs, "reference")
        ref = {
            "wall_s": time.perf_counter() - t0,
            "digest": harness.digest_of(row),
            "um": harness.digest_of(row, "um_"),
            "counts": {k: int(row[k]) for k in ("empty_pages", "described_pages", "chars_out")},
            "expected": expected_markdown(pages, picked),
        }
        problems = sample_problems(ref["expected"], row["sample"])
        if ref["digest"][0] != run.n_pages:
            problems.append(f"{ref['digest'][0]} rows out of {run.n_pages} pages")
        problems += run.digests.check(f"pages-n{run.n_pages}-s{run.seed}", ref["digest"] + ref["um"])
        return ref, problems

    ref = run.op("reference", go)
    if ref is not None:
        run.record["reference"] = {k: v for k, v in ref.items() if k != "expected"}
        run.victim = min(ref["expected"]) if ref["expected"] else ""
    return ref


@contextmanager
def corrupted(run: Run):
    """With --corrupt, every run_extraction call (also the one inside
    run_pipeline) appends a space to the markdown of one sampled url."""
    from pyspark.sql import functions as F

    from ocr_pipeline_spark.plans import job

    if not run.args.corrupt:
        yield
        return
    original = job.run_extraction

    def run_extraction(*args, **kwargs):
        out = original(*args, **kwargs)
        victim = F.col("url") == F.lit(run.victim)
        return out.withColumn(
            "markdown", F.when(victim, F.concat("markdown", F.lit(" "))).otherwise(F.col("markdown"))
        )

    job.run_extraction = run_extraction
    try:
        yield
    finally:
        job.run_extraction = original


def extraction_leg(run: Run, spark, pages, ref: dict, name: str, salted: bool = False):
    """run_extraction map-only (or with the CLI's salted post-kernel
    exchange) ending in the full-row digest, which must equal the
    reference either way: the rows are the same, only their placement
    differs.  Returns the wall seconds."""
    from ocr_pipeline_spark.plans import job

    def go():
        cli = cli_defaults()
        out = job.run_extraction(
            spark, pages, describe=cli["describe"], mode=cli["mode"], co_locate_hosts=salted,
            salt=cli["salt"], co_locate_stage=cli["co_locate_stage"],
        )
        t0 = time.perf_counter()
        row = harness.run_sink(out, harness.digest_aggs(out), name)
        wall = time.perf_counter() - t0
        digest = harness.digest_of(row)
        return wall, ([] if digest == ref["digest"] else [f"digest {digest} != reference {ref['digest']}"])

    spark.sparkContext.setJobGroup(name, name)
    return run.op(name, go)


def check_warehouse(run: Run, spark, warehouse: str, run_id: str, ref: dict, summary: dict):
    """Checks on a committed pipeline run: every bucket manifest committed
    with row counts summing to the input pages, the committed (url,
    markdown) pairs equal to the map-only reference, the sampled urls
    equal to extract_page.  Returns (problems, warehouse stats)."""
    from pyspark.sql import functions as F

    spark.sparkContext.setJobGroup("check", "check")
    table = os.path.join(warehouse, cli_defaults()["table"])
    problems = []
    mdir = os.path.join(table, "_manifest", run_id)
    entries = []
    for name in sorted(os.listdir(mdir)) if os.path.isdir(mdir) else []:
        with open(os.path.join(mdir, name)) as fh:
            entries.append(json.load(fh))
    committed = [e for e in entries if e.get("status") == "committed"]
    if len(committed) != cli_defaults()["n_buckets"]:
        problems.append(f"{len(committed)} of {cli_defaults()['n_buckets']} bucket manifests committed")
    if sum(int(e["n_docs"]) for e in committed) != run.n_pages:
        problems.append(f"manifest row counts sum to {sum(int(e['n_docs']) for e in committed)}")
    if summary.get("n_docs") != run.n_pages:
        problems.append(f"run_pipeline reported {summary.get('n_docs')} docs")

    data = spark.read.parquet(os.path.join(table, "data")).select("url", "markdown")
    row = harness.run_sink(data, harness.digest_aggs(data) + [
        F.collect_list(F.when(sampled(run.n_pages, CHECK_URLS), F.struct("url", "markdown"))).alias("sample")
    ], "committed")
    if harness.digest_of(row) != ref["um"]:
        problems.append(f"committed url->markdown digest {harness.digest_of(row)} != map-only {ref['um']}")
    problems += sample_problems(ref["expected"], row["sample"])

    files = n_bytes = 0
    for root, _, names in os.walk(table):
        for name in names:
            files += root.startswith(os.path.join(table, "data")) and name.endswith(".parquet")
            n_bytes += os.path.getsize(os.path.join(root, name))
    return problems, {"files_written": files, "bytes_written": n_bytes}


def pipeline_job(run: Run, spark, pages, ref: dict, name: str):
    """One timed run_pipeline with the CLI defaults into a fresh warehouse;
    returns (wall seconds, CPU seconds, reference CPU seconds, warehouse
    stats); see `Run.measured`."""
    from ocr_pipeline_spark.plans import job

    def go():
        warehouse = os.path.join(run.run_dir, f"warehouse-{name}")
        try:
            with corrupted(run), run.rss.active():
                summary, *cost = run.measured(lambda: job.run_pipeline(
                    spark, pages, warehouse, run_id=name, **cli_defaults()))
            problems, stats = check_warehouse(run, spark, warehouse, name, ref, summary)
        finally:
            shutil.rmtree(warehouse, ignore_errors=True)
        return (*cost, stats), problems

    return run.op(name, go)


def pipeline_cli(run: Run) -> None:
    spark = run.setup()
    pages_path = pages_fixture(run, spark)
    pages = spark.read.parquet(pages_path)
    run.mark("fixture")
    ref = reference(run, spark, pages)
    if ref is None:
        return
    # the JVM compiles the write path over its first runs, and the CPU a
    # job takes falls over about four of them: untimed (but checked) runs
    # let the timed ones start warm
    pipeline_job(run, spark, pages, ref, "warm-up0")
    run.mark("reference")
    if run.trace:
        traced_pipeline(run, spark, pages_path, ref)
        return
    for i in range(1, WARM_JOBS):
        pipeline_job(run, spark, pages, ref, f"warm-up{i}")
    run.mark("warm-up")
    with run.rss:
        results = [r for r in run.loop(
            lambda i: pipeline_job(run, spark, pages, ref, f"job{i}"), MIN_JOBS) if r]
    run.mark("jobs")
    run.record["job_s"] = [r[0] for r in results]
    run.record["job_cpu_s"] = [r[1] for r in results]
    run.record["job_ref_cpu_s"] = [r[2] for r in results]
    run.record["items_per_s"] = harness.median([run.n_pages / r[0] for r in results])
    # over the whole timed window, as one long job: steadier than the
    # median of a few jobs' values
    run.metrics["ref_cpu_ms_per_item"] = 1e3 * sum(r[2] for r in results) / (run.n_pages * len(results))
    run.metrics["peak_rss_mb"] = run.rss.peak_mb
    run.record["peak_rss_by_process"] = run.rss.peak_procs


def traced_pipeline(run: Run, spark, pages_path: str, ref: dict) -> None:
    """Nested legs and the traced pipeline in an event-logged session,
    then the in-process kernel sample.  Each leg adds one layer to the
    previous one, so a layer's part is the difference of two legs:
      scan          JVM-only scan of the four input columns
      arrow         identity mapInPandas over them, minus scan
      kernel        run_extraction map-only, minus arrow
      exchange      run_extraction with the salted post-kernel exchange,
                    minus map-only
      write         catalog.overwrite_buckets (the action: includes the
                    upstream DAG), minus the salted leg: the pkey
                    exchange and the bucketed zstd write
      metrics       catalog.read + write_metrics: the committed re-read
      commit        completed_buckets + bucket_row_counts + commit_bucket
    The traced wall is the traced run_pipeline; `unattributed` is its
    driver time outside the catalog calls plus the legs' disagreement
    with it.  kernel.useful_frac is the in-process kernel time of the
    pages spread over the cores, over the kernel part.  The tracing
    overhead compares the map-only leg with the same job run untraced
    just before."""
    from ocr_pipeline_spark.plans import job

    untraced = extraction_leg(run, spark, spark.read.parquet(pages_path), ref, "untraced")
    spark = run.traced_session(spark)
    sc = spark.sparkContext
    pc = time.perf_counter
    pages = spark.read.parquet(pages_path)
    pruned = pages.select(*job.INPUT_COLUMNS)
    legs: dict[str, float] = {}

    sc.setJobGroup("scan", "scan")
    t0 = pc()
    pruned.write.format("noop").mode("overwrite").save()
    legs["scan"] = pc() - t0

    def identity(batches):
        yield from batches

    sc.setJobGroup("arrow", "arrow")
    t0 = pc()
    pruned.mapInPandas(identity, pruned.schema).write.format("noop").mode("overwrite").save()
    legs["arrow_roundtrip"] = pc() - t0

    legs["maponly"] = extraction_leg(run, spark, pages, ref, "maponly") or 0.0
    legs["salted"] = extraction_leg(run, spark, pages, ref, "salted", salted=True) or 0.0
    sc.setJobGroup("pipeline", "pipeline")
    with layers.CatalogTimer(spark, "pipeline") as timer:
        result = pipeline_job(run, spark, pages, ref, "traced-pipeline")
    catalog = dict(timer.seconds)
    legs["pipeline"], _, _, stats = result if result else (0.0, 0.0, 0.0, {})
    sc.setJobGroup("kernel-sample", "kernel-sample")
    pdf = pages.filter(sampled(run.n_pages, KERNEL_SAMPLE)).select(*job.INPUT_COLUMNS).toPandas()
    spark.stop()  # flushes the event log
    run.mark("legs")
    kern = layers.sample_kernel(pdf, int(job.ARROW_BATCH_ROWS))
    run.mark("kernel_sample")

    wall = legs["pipeline"]
    parts = {
        "sources.scan": legs["scan"],
        "operators.arrow_handoff": legs["arrow_roundtrip"] - legs["scan"],
        "kernel": legs["maponly"] - legs["arrow_roundtrip"],
        "plans.salted_exchange": legs["salted"] - legs["maponly"],
        "sources.catalog.write": catalog.get("overwrite_buckets", 0.0) - legs["salted"],
        "sources.catalog.write_metrics": catalog.get("read", 0.0) + catalog.get("write_metrics", 0.0),
        "sources.catalog.commit": sum(
            catalog.get(k, 0.0) for k in ("completed_buckets", "bucket_row_counts", "commit_bucket")
        ),
    }
    parts["unattributed"] = wall - sum(parts.values())

    events = layers.EventLog(os.path.join(run.run_dir, "events"))
    spark_sum = events.summary(
        lambda g: g == "pipeline" or g.startswith("catalog."), wall, run.cores,
        action=lambda g: g == "catalog.overwrite_buckets",
    )
    maponly_sum = events.summary(lambda g: g == "maponly", legs["maponly"], run.cores)
    run.mark("event_log")
    run.record.update(legs=legs, catalog_s=catalog, layer_table=parts, kernel_sample=kern,
                      event_log=spark_sum, event_log_maponly=maponly_sum, warehouse=stats)

    m = run.metrics
    m["sources.scan_s"] = legs["scan"]
    m["operators.arrow_roundtrip_s"] = legs["arrow_roundtrip"]
    m["plans.maponly_s"] = legs["maponly"]
    m["plans.maponly_items_per_s"] = run.n_pages / legs["maponly"] if legs["maponly"] else 0.0
    m["plans.salted_exchange_s"] = parts["plans.salted_exchange"]
    m["plans.unattributed_s"] = parts["unattributed"]
    m["sources.catalog.overwrite_buckets_s"] = catalog.get("overwrite_buckets", 0.0)
    m["sources.catalog.write_metrics_s"] = parts["sources.catalog.write_metrics"]
    m["sources.catalog.commit_s"] = parts["sources.catalog.commit"]
    m["sources.catalog.files_written"] = stats.get("files_written", 0)
    m["sources.catalog.bytes_written_per_doc"] = stats.get("bytes_written", 0) / run.n_pages
    kernel_metrics(run, kern, ref["counts"], run.n_pages)
    if parts["kernel"] > 0:
        m["kernel.useful_frac"] = run.n_pages * kern["fused_us"] / 1e6 / run.cores / parts["kernel"]
    event_metrics(run, spark_sum)
    m["spark.maponly_exchanges"] = maponly_sum["exchanges"]
    m["trace.wall_s"] = wall
    m["trace.items_per_s"] = run.n_pages / wall if wall else 0.0
    m["trace.layer_sum_frac"] = (wall - parts["unattributed"]) / wall if wall else 0.0
    if untraced and legs["maponly"]:
        m["trace.overhead_frac"] = legs["maponly"] / untraced - 1


def kernel_metrics(run: Run, kern: dict, counts: dict, n_pages: int) -> None:
    m = run.metrics
    m["kernel.pages_per_s_core"] = 1e6 / kern["fused_us"]
    for stage, us in kern["stage_us"].items():
        m[f"kernel.{stage}_us"] = us
    m["operators.batch_overhead_us_per_page"] = kern["batch_overhead_us"]
    m["kernel.empty_pages"] = counts["empty_pages"]
    m["kernel.described_pages"] = counts["described_pages"]
    m["kernel.chars_out"] = counts["chars_out"]
    m["kernel.nonempty_frac"] = 1 - counts["empty_pages"] / n_pages if n_pages else 0.0


def event_metrics(run: Run, summary: dict) -> None:
    for key in ("exchanges", "shuffle_write_bytes", "shuffle_read_bytes", "task_skew",
                "executor_cpu_frac", "gc_s", "spill_bytes", "write_stage_s"):
        run.metrics[f"spark.{key}"] = summary[key]


# --- query suite -------------------------------------------------------------------
def query_suite(run: Run) -> None:
    fixture, gen_s = harness.cached_fixture(
        f"tables-s{run.seed}", lambda tmp: tables.write_tables(run.seed, tmp)
    )
    tables_dir = os.path.join(fixture, tables.SF_DIR)
    run.record["fixtures_gen_s"] = gen_s
    spark = run.setup(traced=True)
    sys.path.insert(0, harness.ROOT)
    import __spark_entry__ as entry

    registry = entry.queries()
    if run.trace:
        names = list(registry)
    else:
        names = [q for q in registry if families.in_timed_sample(q)]
    if run.args.smoke:
        names = names[:SMOKE_QUERIES]
    sc = spark.sparkContext

    def one_query(name: str):
        def go():
            def query():  # some queries run jobs while building
                df = registry[name](spark, tables_dir)
                return harness.run_sink(df, harness.digest_aggs(df), name)

            row, *cost = run.measured(query)
            digest = harness.digest_of(row)
            return (*cost, digest), run.digests.check(f"query-{name}-s{run.seed}", digest)

        sc.setJobGroup(f"query:{name}", name)
        return run.op(f"query:{name}", go)

    pass_walls = []

    def one_pass(i: int) -> dict:
        results = {}
        t0 = time.perf_counter()
        for name in names:
            if run.trace and time.monotonic() - run.t0 > TRACE_QUERY_BUDGET_S:
                run.record.setdefault("not_run", []).append(name)
                continue
            results[name] = one_query(name)
        pass_walls.append(time.perf_counter() - t0)
        return results

    if run.trace:
        passes = [one_pass(0)]
    else:
        with run.rss, run.rss.active():
            passes = run.loop(one_pass)
    run.mark("queries")
    run.record["queries"] = [
        {q: {"s": r[0], "cpu_s": r[1], "ref_cpu_s": r[2], "digest": r[3]} if r else None
         for q, r in p.items()}
        for p in passes
    ]
    sums = [sum(r[0] for r in p.values() if r) for p in passes]
    run.record["suite_s"] = sums
    run.record["pass_wall_s"] = pass_walls
    n_done = sum(1 for p in passes for r in p.values() if r)
    if not run.trace:
        run.record["items_per_s"] = n_done / sum(sums) if sum(sums) else 0.0
        ref_cpu = sum(r[2] for p in passes for r in p.values() if r)
        run.metrics["ref_cpu_ms_per_item"] = 1e3 * ref_cpu / n_done if n_done else 0.0
        run.metrics["peak_rss_mb"] = run.rss.peak_mb
        run.record["peak_rss_by_process"] = run.rss.peak_procs
        return

    spark.stop()  # flushes the event log
    run.mark("stop")
    secs = {q: r[0] for q, r in passes[0].items() if r}
    m = run.metrics
    m["entry.n_queries"] = len(registry)
    for q, s in secs.items():
        m[f"entry.{families.family(q)}_s"] += s
    m["entry.max_query_s"] = max(secs.values(), default=0.0)
    m["fixtures.gen_s"] = gen_s
    wall = pass_walls[0]
    summary = layers.EventLog(os.path.join(run.run_dir, "events")).summary(
        lambda g: g.startswith("query:"), wall, run.cores
    )
    summary["write_stage_s"] = 0.0
    run.mark("event_log")
    event_metrics(run, summary)
    kern, counts, n_docs = documents_kernel_sample(tables_dir)
    run.mark("kernel_sample")
    kernel_metrics(run, kern, counts, n_docs)
    m["trace.wall_s"] = wall
    m["trace.items_per_s"] = n_done / wall if wall else 0.0
    m["trace.layer_sum_frac"] = sum(secs.values()) / wall if wall else 0.0
    run.record.update(event_log=summary, kernel_sample=kern,
                      layer_table={f: m[f"entry.{f}_s"] for f in families.FAMILY_NAMES})


def documents_kernel_sample(tables_dir: str):
    """The suite's documents wrapped as pages (as its extraction queries
    do), extracted in-process: kernel timings plus output counts."""
    import pandas as pd
    import pyarrow.parquet as pq

    from ocr_pipeline_spark.fixtures.gen_pages import wrap_document_as_page
    from ocr_pipeline_spark.kernel import extract_page
    from ocr_pipeline_spark.plans import job

    docs = pq.read_table(os.path.join(tables_dir, "documents.parquet")).to_pylist()
    pdf = pd.DataFrame([
        wrap_document_as_page(d["doc_id"], d["text"], d["lang"], d["source"]) for d in docs
    ])[list(job.INPUT_COLUMNS)]
    kern = layers.sample_kernel(pdf, int(job.ARROW_BATCH_ROWS))
    results = [extract_page(h, 1, describe=True) for h in pdf["html"]]
    counts = {
        "empty_pages": sum(1 for r in results if not r.markdown),
        "described_pages": sum(1 for r in results if r.description),
        "chars_out": sum(len(r.markdown) for r in results),
    }
    return kern, counts, len(results)


# --- entry point -----------------------------------------------------------------------
WORKLOADS = {"pipeline_cli": pipeline_cli, "query_suite": query_suite}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs")
    p.add_argument("--corrupt", action="store_true",
                   help="corrupt one markdown cell in every timed job")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    stamp = harness.weather()
    sys.path.insert(0, harness.ROOT)
    try:
        import ocr_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {harness.ROOT}: {exc}", file=sys.stderr)
        return 2
    os.makedirs(harness.RUN_ROOT, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=harness.RUN_ROOT)
    run = Run(args, stamp, run_dir)
    try:
        harness.prepare_env(run_dir)
        with run.probe:
            WORKLOADS[args.workload](run)
    finally:
        try:
            harness.shutdown()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    run.mark("shutdown")
    run.record["weather"]["steal_frac_run"] = harness.steal_frac_since(stamp)
    run.digests.save()

    ledger = run.ledger
    if run.trace:
        run.metrics["failed_frac"] = ledger.failed / max(1, ledger.attempted)
    run.record.update(attempted=ledger.attempted, failed=ledger.failed,
                      failures=ledger.failures, metrics=run.metrics)
    os.makedirs(harness.OUT_DIR, exist_ok=True)
    artifact = os.path.join(
        harness.OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(artifact, "w") as fh:
        json.dump(run.record, fh, indent=1, default=str)
    for failure in ledger.failures:
        print(f"perfbench: FAILED {failure}", file=sys.stderr)
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": run.metrics[k], "unit": u} for k, u in run.units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
