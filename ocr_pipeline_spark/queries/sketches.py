"""Sketch queries: HyperLogLog and count-min sketch summaries."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_pipeline_spark.queries.registry import _t, query


@query(window=True, oracle="""
    WITH caps AS (
        SELECT source || '.example.com' AS host,
               'https://' || source || '.example.com/docs/'
                   || CAST(doc_id % 200 AS VARCHAR) AS url
        FROM documents
    ), h AS (
        SELECT host, url,
               ('0x' || substr(md5(url), 1, 15))::BIGINT AS hv
        FROM caps
    ), r AS (
        SELECT host, CAST(hv % 64 AS INT) AS reg,
               CAST(CASE WHEN (hv >> 6) > 0
                         THEN 55 - length(bin(hv >> 6))
                         ELSE 55 END AS INT) AS rho
        FROM h
    ), regs AS (
        SELECT host, reg, max(rho) AS mreg
        FROM r GROUP BY host, reg
    ), ph AS (
        SELECT host,
               sum(1::BIGINT << (55 - mreg)) AS ssum,
               count(*) AS nhit
        FROM regs GROUP BY host
    ), ex AS (
        SELECT host, count(DISTINCT url) AS exact_distinct
        FROM caps GROUP BY host
    )
    SELECT ph.host, ex.exact_distinct,
           (CAST(0.709 AS DOUBLE) * 64 * 64
            * CAST(1::BIGINT << 55 AS DOUBLE))
           / CAST(ssum + (64 - nhit) * (1::BIGINT << 55)
                  AS DOUBLE) AS hll_estimate,
           abs((CAST(0.709 AS DOUBLE) * 64 * 64
                * CAST(1::BIGINT << 55 AS DOUBLE))
               / CAST(ssum + (64 - nhit) * (1::BIGINT << 55)
                      AS DOUBLE)
               - CAST(exact_distinct AS DOUBLE))
           / CAST(exact_distinct AS DOUBLE) AS rel_err
    FROM ph JOIN ex ON ph.host = ex.host
    ORDER BY ph.host
""")
def _q_host_url_hll(spark, sf_dir):
    """X64: HyperLogLog distinct-URL estimation per host — the
    cardinality sketch every crawl-scale system uses where an exact
    countDistinct would shuffle the full key stream (public analog:
    Flajolet et al. 2007; Spark's own approx_count_distinct is HLL++).
    This is a DETERMINISTIC from-scratch HLL (m=64 registers, md5-based
    hash) so an unrelated engine can replay it bit-for-bit: DuckDB
    computes the identical registers from the identical hash and must
    agree on the estimate to the compare's 6-sig-fig normalization.
    The floating-point path is rounding-proof by construction: register
    terms are summed as EXACT integers (2^(55-rho) as bigint, order
    independent), the alpha*m^2*2^55 numerator is a double scaled only
    by powers of two (exact), and the one division is a single IEEE op
    both engines perform identically.  Exact countDistinct rides along
    as the verification column (rel_err is the observable).

    Scale shape: the sketch path is two partial-aggregated shuffles of
    TINY rows — (host, reg) max(rho) is at most 64 rows per host after
    the map-side combine, then one row per host — while the url strings
    never shuffle at all.  At 10^12 captures this is the whole point:
    the exact-count column used here for verification is the expensive
    plan (a full distinct shuffle) the sketch replaces in production."""
    d = _t(spark, sf_dir, "documents")
    caps = d.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("https://"), "source", F.lit(".example.com/docs/"),
            (F.col("doc_id") % 200).cast("string"),
        ).alias("url"),
    )
    # 60-bit hash: 15 md5 hex digits (sign-safe in a bigint); low 6
    # bits pick the register, the top 54 feed the rank (leading-zero
    # count via bin() length — exact integer ops only, no log2)
    h = F.expr("cast(conv(substring(md5(url), 1, 15), 16, 10) as bigint)")
    w = F.shiftright(h, 6)
    regs = (
        caps.select(
            "host",
            (h % 64).cast("int").alias("reg"),
            F.when(w > 0, F.lit(55) - F.length(F.bin(w)))
            .otherwise(F.lit(55))
            .cast("int")
            .alias("rho"),
        )
        .groupBy("host", "reg")
        .agg(F.max("rho").alias("mreg"))
    )
    per_host = regs.groupBy("host").agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 55 - mreg)")).alias(
            "ssum"
        ),
        F.count("*").alias("nhit"),
    )
    exact = caps.groupBy("host").agg(
        F.countDistinct("url").alias("exact_distinct")
    )
    denom = (
        F.col("ssum")
        + (F.lit(64) - F.col("nhit")) * F.lit(1 << 55)
    ).cast("double")
    est = F.lit(0.709 * 64.0 * 64.0 * float(1 << 55)) / denom
    return (
        per_host.join(exact, "host")
        .select(
            "host",
            "exact_distinct",
            est.alias("hll_estimate"),
            (
                F.abs(est - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double")
            ).alias("rel_err"),
        )
        .orderBy("host")
    )


@query(window=True, oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS term
        FROM documents
    ), t AS (
        SELECT term FROM toks WHERE term <> ''
    ), counts AS (
        SELECT term, count(*) AS true_count FROM t GROUP BY term
    ), tb AS (
        SELECT term, true_count, j,
               ('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                                   || term), 1, 2))::BIGINT
                   AS bucket
        FROM counts,
             (SELECT unnest(generate_series(0, 3)) AS j)
    ), sketch AS (
        SELECT j, bucket,
               CAST(sum(true_count) AS BIGINT) AS cell
        FROM tb GROUP BY j, bucket
    ), est AS (
        SELECT term, true_count, min(cell) AS est_count
        FROM tb JOIN sketch USING (j, bucket)
        GROUP BY term, true_count
    ), total AS (
        SELECT CAST(sum(true_count) AS BIGINT) AS total
        FROM counts
    )
    SELECT term, true_count, est_count,
           est_count - true_count AS overcount
    FROM est, total
    WHERE est_count * 200 >= total
    ORDER BY term
""")
def _q_heavy_hitters_cms(spark, sf_dir):
    """X65: Count-Min-sketch heavy hitters over the token stream — the
    fixed-memory frequent-items structure (Cormode & Muthukrishnan
    2005) crawl pipelines use to spot boilerplate tokens / hot n-grams
    without materializing a full term dictionary.  Deterministic
    from-scratch CMS: depth 4, width 256, row hashes md5(j || ':' ||
    term) so the DuckDB twin rebuilds the identical 1024 cells and the
    identical min-over-rows estimates; all arithmetic is exact integer
    sums.  Emits every term whose CMS estimate clears 1/200 of the
    token mass, with the true count and the (provably >= 0) sketch
    overcount beside it — the one-sided-error invariant IS the output.

    Scale shape: the ONLY corpus-sized shuffle is the token groupBy
    (partial count collapses per-term map-side — the same aggregate a
    vocab build already pays); the sketch is built from that term table
    (equivalent by sum-additivity to streaming raw tokens) and is 1024
    rows, the estimate join broadcasts it, and the token-mass threshold
    is a 1-row broadcast cross join.  No window, no all-pairs, nothing
    driver-side."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("term")).filter(
        F.col("term") != ""
    )
    counts = toks.groupBy("term").agg(F.count("*").alias("true_count"))
    rows = spark.range(4).select(F.col("id").cast("int").alias("j"))
    tb = counts.crossJoin(F.broadcast(rows)).select(
        "term",
        "true_count",
        "j",
        F.expr(
            "cast(conv(substring(md5(concat(cast(j as string), ':', term)),"
            " 1, 2), 16, 10) as int)"
        ).alias("bucket"),
    )
    sketch = tb.groupBy("j", "bucket").agg(F.sum("true_count").alias("cell"))
    est = (
        tb.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("term", "true_count")
        .agg(F.min("cell").alias("est_count"))
    )
    total = counts.agg(F.sum("true_count").alias("total"))
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est_count") * 200 >= F.col("total"))
        .select(
            "term",
            "true_count",
            "est_count",
            (F.col("est_count") - F.col("true_count")).alias("overcount"),
        )
        .orderBy("term")
    )
