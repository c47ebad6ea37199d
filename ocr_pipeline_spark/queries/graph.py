"""Link-graph queries: host graph, anchor texts, PageRank, HITS and
link-spam detection."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_pipeline_spark.queries.registry import _WITNESS_DIR, query, sf_of, witness


@query(oracle=witness(
    "host_link_graph", "src_host, dst_host, n_links", "src_host, dst_host"
))
def _q_host_link_graph(spark, sf_dir):
    """X31: page outlinks -> (src_host, dst_host, n_links) edge list
    over the cross-linked deterministic corpus (gen_pages
    cross_links=True).  DOM-semantic href extraction (anchors inside
    comments/script are invisible) + URL canonicalization (tracking
    params, fragments, default ports stripped) in one narrow
    mapInPandas kernel, then a single partial-aggregated groupBy.
    Oracle: golden witness from the single-process kernel loop
    (scripts/gen_witness.py); distributed == local pinned by
    tests/test_links_pagerank.py."""
    from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
    from ocr_pipeline_spark.operators.links_op import host_link_graph

    n = min(max(500, int(sf_of(sf_dir) * 200_000)), 4000)
    pages = generate_pages_df(spark, n, seed=42, cross_links=True)
    return host_link_graph(pages).orderBy("src_host", "dst_host")


@query(window=True, oracle=witness(
    "anchor_texts", "dst_url, n_refs, n_src_hosts, top_anchor, top_anchor_n", "dst_url"
))
def _q_anchor_texts(spark, sf_dir):
    """X50: anchor-text aggregation per target url — the classic
    web-corpus enrichment (anchor text is an external description of
    the TARGET page, used for retrieval signals and quality/relevance
    labels).  DOM-semantic anchors (comments/script invisible) with
    whitespace-normalized text, canonicalized targets; per target:
    total references, distinct referring hosts, and the dominant
    anchor text under the total order (count DESC, text ASC).

    Scale shape: one narrow mapInPandas over the (url, html) scan ->
    partial-aggregated (dst_url, anchor) group-by (the shuffled payload
    is two short strings + a count, never html) -> the top-text window
    runs over the ALREADY-AGGREGATED frame partitioned by dst_url ->
    one more partial-agg for per-target totals.  Oracle: golden witness
    from the single-process kernel loop (scripts/gen_witness.py)."""
    from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
    from ocr_pipeline_spark.operators.links_op import anchor_texts_df

    n = min(max(500, int(sf_of(sf_dir) * 200_000)), 4000)
    pages = generate_pages_df(spark, n, seed=42, cross_links=True)
    # eager localCheckpoint: BOTH aggregation branches consume the
    # anchor frame, and without the lineage cut Spark duplicates the
    # whole generate+parse kernel subtree into each branch (the
    # host_pagerank lesson) — checkpoint once, parse once
    a = anchor_texts_df(pages).localCheckpoint()
    pa = a.groupBy("dst_url", "anchor").agg(F.count("*").alias("n"))
    w = Window.partitionBy("dst_url").orderBy(F.desc("n"), "anchor")
    top = (
        pa.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "dst_url",
            F.col("anchor").alias("top_anchor"),
            F.col("n").alias("top_anchor_n"),
        )
    )
    tot = a.groupBy("dst_url").agg(
        F.count("*").alias("n_refs"),
        F.countDistinct("src_host").alias("n_src_hosts"),
    )
    return tot.join(top, "dst_url").orderBy("dst_url")


@query()
def _q_host_pagerank(spark, sf_dir):
    """X32: damped PageRank (10 power steps) over the X31 host graph —
    iterative DataFrame joins, edge frame shuffled once, ranks frame
    O(|hosts|), scalars on broadcast cross joins, per-iteration
    localCheckpoint lineage cuts.  Iterative -> no SQL oracle; pinned
    against an independent dense numpy power iteration at 1e-9
    (tests/test_links_pagerank.py); the one-step integer-quantized
    twin `pagerank_step` carries the hard DuckDB oracle for the same
    graph + transition/dangling semantics.

    The operator supports L1 convergence early-stop (`tol=`, twin-
    parity-tested), but it is OFF here deliberately: this graph's
    deltas decay ~0.7x/step (4.5e-2 after 5 steps, 6.6e-3 after 10),
    so any tol tight enough to preserve ranking precision cannot fire
    inside the 10-step cap — passing it would buy 10 delta-probe jobs
    of pure scheduling overhead.  Use tol on graphs expected to
    converge before the cap."""
    from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
    from ocr_pipeline_spark.operators.links_op import host_link_graph
    from ocr_pipeline_spark.operators.pagerank import host_pagerank

    n = min(max(500, int(sf_of(sf_dir) * 200_000)), 4000)
    pages = generate_pages_df(spark, n, seed=42, cross_links=True)
    edges = host_link_graph(pages)
    return host_pagerank(edges, iterations=10).orderBy(
        F.desc("rank"), "host"
    )


# The host_link_graph witness is pinned at sf0.01: compare at sf0.01 only.
@query(window=True, oracle=f"""
    WITH e AS (
        SELECT src_host AS src, dst_host AS dst,
               CAST(n_links AS BIGINT) AS w
        FROM read_parquet('{_WITNESS_DIR}/host_link_graph.parquet')
    ), nodes AS (
        SELECT src AS host FROM e UNION SELECT dst FROM e
    ), outw AS (
        SELECT src, sum(w) AS ow FROM e GROUP BY src
    ), scal AS (
        SELECT (SELECT count(*) FROM nodes) AS n,
               (SELECT count(*) FROM nodes
                WHERE host NOT IN (SELECT src FROM e)) AS nd
    ), inflow AS (
        SELECT e.dst AS host,
               sum((e.w * 1000000000000) // outw.ow) AS qq
        FROM e JOIN outw USING (src) GROUP BY e.dst
    )
    SELECT nodes.host,
           CAST(150000000000 + (85 * (coalesce(inflow.qq, 0)
                + (scal.nd * 1000000000000) // scal.n)) // 100
                AS BIGINT) AS rank_q
    FROM nodes LEFT JOIN inflow USING (host), scal
    ORDER BY nodes.host
""")
def _q_pagerank_step(spark, sf_dir):
    """Hard DuckDB oracle for the PageRank path: ONE damped power step
    from the uniform vector over the X31 host graph, INTEGER-QUANTIZED
    so every cross-row sum is order-independent and engine-portable.
    Per-edge contribution is (w * S) div out_w(src) with S = 10^12
    (integer division in both engines); the step output is
    rank_q = 0.15*S + (85 * (inflow_q + (n_dangling * S) div n)) div 100,
    i.e. the standard (1-d)/n + d*(inflow + dangling/n) step scaled by
    S*n — exercising the same graph build, transition normalization,
    dangling redistribution, and teleport arithmetic as host_pagerank,
    but hash-provable against SQL on the witnessed edge list.  The
    iterative query (host_pagerank) stays numpy-parity-pinned; this
    pins the semantics per engine.

    Scale shape: edges checkpointed once (kernel subtree), one keyed
    agg for out-weights, one partial-aggregated inflow group-by;
    scalars (n, n_dangling) ride broadcast cross joins — no collect."""
    from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
    from ocr_pipeline_spark.operators.links_op import host_link_graph

    n_pages = min(max(500, int(sf_of(sf_dir) * 200_000)), 4000)
    pages = generate_pages_df(spark, n_pages, seed=42, cross_links=True)
    S = 1_000_000_000_000
    e = (
        host_link_graph(pages)
        .select(
            F.col("src_host").alias("src"),
            F.col("dst_host").alias("dst"),
            F.col("n_links").cast("long").alias("w"),
        )
        # kernel-derived subtree with multiple consumers below: pin it
        # (the anchor_texts/host_pagerank materialization policy)
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    n_df = nodes.agg(F.count("*").alias("n"))
    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    ndang_df = nodes.join(
        outw.select(F.col("src").alias("host")), "host", "left_anti"
    ).agg(F.count("*").alias("nd"))
    inflow = (
        e.join(outw, "src")
        .select("dst", F.expr(f"(w * {S}L) div ow").alias("c"))
        .groupBy(F.col("dst").alias("host"))
        .agg(F.sum("c").alias("qq"))
    )
    return (
        nodes.join(inflow, "host", "left")
        .crossJoin(F.broadcast(n_df))
        .crossJoin(F.broadcast(ndang_df))
        .select(
            "host",
            (
                F.lit(int(0.15 * S))
                + F.expr(f"(85 * (coalesce(qq, 0L) + (nd * {S}L) div n)) div 100")
            ).cast("long").alias("rank_q"),
        )
        .orderBy("host")
    )


# The host_link_graph witness is pinned at sf0.01: compare at sf0.01 only.
@query(window=True, oracle=f"""
    WITH e AS (
        SELECT src_host, dst_host, n_links
        FROM read_parquet('{_WITNESS_DIR}/host_link_graph.parquet')
    ), agg AS (
        SELECT src_host,
               CAST(sum(n_links) AS BIGINT) AS out_total,
               CAST(count(*) AS INT) AS n_dst
        FROM e GROUP BY src_host
    ), top AS (
        SELECT src_host, dst_host AS top_dst,
               CAST(n_links AS BIGINT) AS top_links
        FROM (SELECT *,
                     row_number() OVER (
                         PARTITION BY src_host
                         ORDER BY n_links DESC, dst_host ASC
                     ) AS rk
              FROM e)
        WHERE rk = 1
    )
    SELECT agg.src_host, out_total, n_dst, top_dst, top_links,
           (2 * top_links >= out_total AND out_total >= 10)
               AS is_spam
    FROM agg JOIN top USING (src_host)
    ORDER BY agg.src_host
""")
def _q_link_spam(spark, sf_dir):
    """X70: nepotistic-link / link-farm detection over the X31 host
    graph — the link-spam screen (Davison 2000's 'recognizing
    nepotistic links'; the TrustRank-era precursor every crawl ranks
    with) that flags hosts whose out-links concentrate on one target.
    A host is flagged when its single top target receives >= half of
    all its out-links (integer cross-multiply: 2*top >= total) and it
    emits enough links for the signal to mean anything (total >= 10).
    Tie-break for the top target is (n_links DESC, dst_host ASC) so
    the row is engine-deterministic.

    Scale shape: the edge list is already host-aggregated (O(hosts^2)
    worst case, O(hosts * avg-fanout) real) — the window and both aggs
    run on that reduced frame, never on page-level links; at 10^12
    pages the page->host reduction happened once in host_link_graph's
    partial agg."""
    from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
    from ocr_pipeline_spark.operators.links_op import host_link_graph

    n_pages = min(max(500, int(sf_of(sf_dir) * 200_000)), 4000)
    pages = generate_pages_df(spark, n_pages, seed=42, cross_links=True)
    e = host_link_graph(pages)
    w = Window.partitionBy("src_host").orderBy(
        F.desc("n_links"), F.asc("dst_host")
    )
    ranked = e.select(
        "src_host",
        "dst_host",
        "n_links",
        F.row_number().over(w).alias("rk"),
        F.sum("n_links").over(Window.partitionBy("src_host")).alias(
            "out_total"
        ),
        F.count("*").over(Window.partitionBy("src_host")).alias("n_dst"),
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .select(
            "src_host",
            F.col("out_total").cast("long").alias("out_total"),
            F.col("n_dst").cast("int").alias("n_dst"),
            F.col("dst_host").alias("top_dst"),
            F.col("n_links").cast("long").alias("top_links"),
            (
                (2 * F.col("n_links") >= F.col("out_total"))
                & (F.col("out_total") >= 10)
            ).alias("is_spam"),
        )
        .orderBy("src_host")
    )


# The host_link_graph witness is pinned at sf0.01: compare at sf0.01 only.
@query(window=True, oracle=f"""
    WITH e AS (
        SELECT src_host AS src, dst_host AS dst,
               CAST(n_links AS BIGINT) AS w
        FROM read_parquet('{_WITNESS_DIR}/host_link_graph.parquet')
    ), nodes AS (
        SELECT DISTINCT host FROM (
            SELECT src AS host FROM e
            UNION ALL
            SELECT dst AS host FROM e
        )
    ), auth AS (
        SELECT dst AS host, CAST(sum(w) AS BIGINT) AS auth_q
        FROM e GROUP BY dst
    ), hub AS (
        SELECT e.src AS host,
               CAST(sum(e.w * a.auth_q) AS BIGINT) AS hub_q
        FROM e JOIN auth a ON e.dst = a.host
        GROUP BY e.src
    )
    SELECT n.host,
           coalesce(auth.auth_q, 0) AS auth_q,
           coalesce(hub.hub_q, 0) AS hub_q
    FROM nodes n
    LEFT JOIN auth ON n.host = auth.host
    LEFT JOIN hub ON n.host = hub.host
    ORDER BY n.host
""")
def _q_hits_step(spark, sf_dir):
    """X71: one HITS update (Kleinberg 1999) over the X31 host graph —
    hubs-and-authorities, the second classic link-analysis ranking
    beside PageRank.  From the uniform hub vector h0 = 1, one full
    round: auth_q(v) = sum of edge weights into v (= weighted
    in-degree under h0), then hub_q(u) = sum over u's out-edges of
    w * auth_q(dst).  Both sums are exact integers (edge weights are
    link counts), so — like pagerank_step — the un-normalized step is
    hash-provable against SQL on the witnessed edge list, pinning the
    graph build, the transpose-multiply, and the multiply semantics
    per engine.  (Iterative HITS inserts an L2 normalization between
    rounds, which only rescales each vector — the step ordering this
    oracle pins is the invariant part.)

    Scale shape: edges checkpointed once (kernel subtree, multiple
    consumers); auth is ONE partial-aggregated group-by on dst; hub is
    one keyed join of edges to the O(hosts) auth frame plus a group-by
    on src — no window, no collect, rank state is O(hosts)."""
    from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
    from ocr_pipeline_spark.operators.links_op import host_link_graph

    n_pages = min(max(500, int(sf_of(sf_dir) * 200_000)), 4000)
    pages = generate_pages_df(spark, n_pages, seed=42, cross_links=True)
    e = (
        host_link_graph(pages)
        .select(
            F.col("src_host").alias("src"),
            F.col("dst_host").alias("dst"),
            F.col("n_links").cast("long").alias("w"),
        )
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    auth = e.groupBy(F.col("dst").alias("host")).agg(
        F.sum("w").alias("auth_q")
    )
    hub = (
        e.join(auth.select(F.col("host").alias("dst"), "auth_q"), "dst")
        .groupBy(F.col("src").alias("host"))
        .agg(F.sum(F.col("w") * F.col("auth_q")).alias("hub_q"))
    )
    return (
        nodes.join(auth, "host", "left")
        .join(hub, "host", "left")
        .select(
            "host",
            F.coalesce("auth_q", F.lit(0)).cast("long").alias("auth_q"),
            F.coalesce("hub_q", F.lit(0)).cast("long").alias("hub_q"),
        )
        .orderBy("host")
    )
