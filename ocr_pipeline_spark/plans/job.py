"""The extraction job: scan → Arrow kernel → (describe branch) →
bucketed write with manifest resume + metrics.

Physical plan notes (SURVEY.md §3.4/§4):
  * column pruning: only (url, warc_ts, html, lang) are selected, so
    Catalyst pushes the projection into the scan — the wide `text`
    column is never read;
  * shuffles: `run_pipeline` has exactly one — the output repartition
    by bucket before the write (one file per bucket, shuffling the ~2x
    smaller extracted text, never the html).  `run_extraction` alone
    has at most one: the optional salted host repartition for
    in-memory host-grouped consumers (key (hash(host), hash(url) %
    salt): pages co-locate by host, bounded to `salt` sub-buckets so
    Zipf-skewed hosts cannot pin a task — the north rule's explicit
    skew handling);
  * the kernel is one narrow mapInPandas over Arrow batches (capped
    records/batch for multi-MB html blobs);
  * in staged mode the describe branch is a filtered projection of the
    stage-1 output joined back with a broadcast hash join — the
    diagram subset is small by construction (T7 selectivity,
    qwen_processor.py:310-323).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.extract_op import (
    EXTRACTED_DDL,
    STAGE1_DDL,
    DESCRIPTION_DDL,
    describe_kernel,
    finalize_kernel,
    fused_extract_kernel,
    stage1_kernel,
)
from ocr_pipeline_spark.sources.catalog import (
    DEFAULT_BUCKETS,
    PKEY_COL,
    open_catalog,
    with_bucket,
)

INPUT_COLUMNS = ("url", "warc_ts", "html", "lang")

# Arrow batches carry multi-MB html blobs; keep batches small enough to
# bound executor memory (SURVEY.md §7.3).
ARROW_BATCH_ROWS = "512"


def default_session(
    master: str = "local[*]",
    app_name: str = "ocr-pipeline-spark",
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    import os

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", ARROW_BATCH_ROWS)
        # html shuffle blocks compress ~3x better under zstd than lz4:
        # measured +50% on the salted co-location plan (21.3k -> 32.0k
        # docs/s at local[32]); at cluster scale it cuts shuffle I/O of
        # the one input-sized exchange by the same factor
        .config("spark.io.compression.codec", "zstd")
        # local mode: the driver JVM is the only memory pool; multi-KB
        # binary html cells also need a smaller columnar reader batch
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        )
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        # UI is opt-in (SPARK_GRAFT_UI=1): off by default so bench runs
        # and tests don't pay the UI server; `extra` overrides either way
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI", "0") == "1" else "false",
        )
    )
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def salted_repartition(
    df: DataFrame, num_partitions: int, salt: int = 8
) -> DataFrame:
    """Host-affine, skew-bounded repartition.

    Key = (xxhash64(host(url)), xxhash64(url) % salt): one host's pages
    land in at most `salt` partitions — co-location for cache locality
    and politeness-style grouping, without letting a mega-host (Zipf
    head) pin one task (SURVEY.md §4.4).
    """
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    return df.repartition(
        num_partitions,
        F.xxhash64(host),
        F.pmod(F.xxhash64(F.col("url")), F.lit(salt)),
    )


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    describe: bool = True,
    mode: str = "fused",
    num_partitions: int | None = None,
    salt: int = 8,
    co_locate_hosts: bool = True,
    counters: dict | None = None,
    co_locate_stage: str = "post",
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> extracted DataFrame.

    `mode`: 'fused' (default, one narrow pass) or 'staged' (stage-1 +
    filtered describe branch + broadcast join) — byte-identical output,
    see operators/extract_op.py.

    `co_locate_hosts`: the north rule's salted host shuffle (default),
    for in-memory consumers that group by host.  Extraction itself is
    per-row, so when no downstream operator needs host grouping,
    `co_locate_hosts=False` skips the exchange and runs map-only over
    scan splits (as `run_pipeline` does); output is byte-identical
    either way (tested).

    `co_locate_stage`: where the co-locating exchange sits.
      * 'post' (default): the narrow kernel runs on scan splits and the
        salted shuffle moves the EXTRACTED rows — markdown-sized
        payloads, ~3× fewer bytes than raw html.  Catalyst pushes
        narrow transforms below exchanges for built-in expressions; it
        cannot see through an opaque Python kernel, so this plan does
        the same reordering by hand.  Kernel parallelism rides on scan
        splits (tune spark.sql.files.maxPartitionBytes at scale).
      * 'pre': the exchange moves raw pages before extraction — kept
        for plan-invariance testing and for inputs whose scan exposes
        too few splits to feed the cluster.
    Both produce byte-identical rows; only exchange placement differs.
    """
    pruned = pages.select(*INPUT_COLUMNS)
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 2
    if co_locate_stage not in ("pre", "post"):
        raise ValueError(f"unknown co_locate_stage: {co_locate_stage!r}")
    if co_locate_hosts and co_locate_stage == "pre":
        distributed = salted_repartition(pruned, num_partitions, salt)
    else:
        distributed = pruned

    if mode == "fused":
        out = distributed.mapInPandas(
            fused_extract_kernel(describe, counters),
            schema=EXTRACTED_DDL,
        )
    elif mode == "staged":
        stage1 = distributed.mapInPandas(stage1_kernel, schema=STAGE1_DDL)
        if describe:
            diagram_subset = stage1.filter(F.size("diagram_sources") > 0).select(
                "url", "diagram_sources"
            )
            descriptions = diagram_subset.mapInPandas(
                describe_kernel, schema=DESCRIPTION_DDL
            )
            joined = stage1.join(F.broadcast(descriptions), "url", "left")
        else:
            joined = stage1.withColumn("description", F.lit(None).cast("string"))
        joined = joined.fillna({"description": ""})
        out = joined.mapInPandas(finalize_kernel, schema=EXTRACTED_DDL)
    else:
        raise ValueError(f"unknown mode: {mode!r}")

    if co_locate_hosts and co_locate_stage == "post":
        out = salted_repartition(out, num_partitions, salt)
    return out


# --- metrics (graft of the reference's summary metrics, A5/K3) -----------------
def partition_metrics(extracted_with_pkey: DataFrame, run_id: str) -> DataFrame:
    """Per-bucket lineage/metrics rows (FIXTURES.md §4 `metrics` schema)."""
    return extracted_with_pkey.groupBy(PKEY_COL).agg(
        F.lit(run_id).alias("run_id"),
        F.count("*").alias("n_docs"),
        F.sum("n_html_bytes").alias("n_bytes"),
        F.sum("n_chars").alias("n_chars_out"),
        F.sum(F.when(F.col("n_chars") == 0, 1).otherwise(0)).alias("n_empty"),
        F.sum("n_figures").alias("n_figures"),
        F.sum(
            F.when(F.col("method") == "diagram-describe-v1", 1).otherwise(0)
        ).alias("n_described"),
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    warehouse: str,
    run_id: str,
    table: str = "extracted",
    describe: bool = True,
    mode: str = "fused",
    n_buckets: int = DEFAULT_BUCKETS,
    chunk_size: int | None = None,
    salt: int = 8,
    co_locate_hosts: bool = True,
    co_locate_stage: str = "post",
    max_chunks: int | None = None,
    metrics_mode: str = "committed",
) -> dict:
    """The resumable end-to-end job (SURVEY.md §3.4).

    Buckets pending for `run_id` are processed in chunks; each chunk is
    written with dynamic partition overwrite and only then manifest-
    committed, so a kill between chunks (or mid-chunk) resumes with no
    duplicates and no missing urls.  `max_chunks` exists for the
    kill/resume tests.

    One plan: the kernel runs map-only over scan splits and the chunk's
    only exchange is the repartition by bucket that gives one file per
    bucket.  Nothing reads host order inside a bucket file, so a host
    exchange before it would be thrown away.  Lineage metrics come
    from a column-pruned re-read of the files just committed, so they
    describe exactly the bytes on disk under task retries and kills
    (observing them during the write with CollectMetrics was measured
    40% slower than the re-read).

    `salt`, `co_locate_hosts` and `co_locate_stage` do not change the
    plan, and `metrics_mode` must be "committed"; all four stay only
    because scripts/extract_job.py and perfbench/run.py still pass them.
    """
    if metrics_mode != "committed":
        raise ValueError(f"unknown metrics_mode: {metrics_mode!r}")
    catalog = open_catalog(spark, warehouse)
    t_start = time.time()
    # kernel-side progress counters (P7): filled by the extraction kernel
    # itself during the write action — no extra scan (fused mode only)
    counters = {
        name: spark.sparkContext.accumulator(0)
        for name in ("pages", "empty_pages", "described_pages")
    }

    done = catalog.completed_buckets(table, run_id)
    pending = [k for k in range(n_buckets) if k not in done]
    if not pending:
        return {
            "run_id": run_id, "n_buckets": n_buckets, "skipped": n_buckets,
            "processed_buckets": [], "n_docs": 0, "seconds": 0.0,
            "counters": {name: 0 for name in counters},
        }

    # pkey is a pure function of warc_ts, so chunk selection happens on
    # the INPUT: on a bucket(warc_ts)-partitioned table this is partition
    # pruning at the scan — a resumed run never re-extracts completed
    # buckets (SURVEY.md §4.4).
    bucketed_pages = with_bucket(pages, n_buckets)

    chunk = chunk_size or len(pending)
    chunks = [pending[i : i + chunk] for i in range(0, len(pending), chunk)]
    if max_chunks is not None:
        chunks = chunks[:max_chunks]

    processed: list[int] = []
    total_docs = 0
    for keys in chunks:
        in_chunk = F.col(PKEY_COL).isin([int(k) for k in keys])
        extracted = with_bucket(
            run_extraction(
                spark, bucketed_pages.filter(in_chunk), describe=describe,
                mode=mode, co_locate_hosts=False,
                counters=counters if mode == "fused" else None,
            ),
            n_buckets,
        )
        # the one exchange: one output file per bucket per chunk
        # (bounded small-file count)
        subset = extracted.repartition(len(keys), F.col(PKEY_COL))
        catalog.overwrite_buckets(table, subset)
        # lineage metrics from the committed files (column-pruned scan)
        metrics = partition_metrics(
            catalog.read(table).filter(in_chunk), run_id
        ).withColumn(
            "t_end", F.lit(time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
        )
        catalog.write_metrics(table, metrics)
        counts = catalog.bucket_row_counts(table, keys)
        for k in keys:
            catalog.commit_bucket(table, run_id, k, counts.get(k, 0))
        processed.extend(int(k) for k in keys)
        total_docs += sum(counts.values())

    return {
        "run_id": run_id,
        "n_buckets": n_buckets,
        "skipped": len(done),
        "processed_buckets": processed,
        "n_docs": total_docs,
        "seconds": round(time.time() - t_start, 3),
        "counters": {name: acc.value for name, acc in counters.items()},
    }
