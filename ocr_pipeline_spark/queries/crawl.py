"""Crawl queries: robots rules, sitemaps, WARC and WET records, the CDX
index, the crawl frontier and snapshot diffs."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_pipeline_spark.queries.registry import _synth_urls, _t, query, witness


@query(window=True, oracle="""
    WITH urls AS (
        SELECT 'https://' || source || '.example.com/docs/'
               || doc_id AS url,
               source || '.example.com' AS host,
               '/docs/' || doc_id AS path
        FROM documents
    ), hosts AS (
        SELECT DISTINCT host,
               CAST(regexp_extract(host, 'src(\\d+)', 1) AS INTEGER)
                   AS hn
        FROM urls
    ), rules AS (
        SELECT host, '/' AS prefix, TRUE AS allow FROM hosts
        UNION ALL
        SELECT host, '/docs/', FALSE FROM hosts WHERE hn % 3 = 0
        UNION ALL
        SELECT host, '/docs/1', TRUE FROM hosts WHERE hn % 6 = 0
    ), matched AS (
        SELECT urls.url, urls.host, rules.prefix, rules.allow,
               row_number() OVER (
                   PARTITION BY urls.url
                   ORDER BY length(rules.prefix) DESC,
                            rules.allow DESC
               ) AS rk
        FROM urls JOIN rules ON urls.host = rules.host
        WHERE substr(urls.path, 1, length(rules.prefix))
              = rules.prefix
    )
    SELECT url, host, prefix AS rule_prefix, allow AS allowed
    FROM matched WHERE rk = 1
    ORDER BY url
""")
def _q_robots_filter(spark, sf_dir):
    """X51: robots-style URL policy filter with longest-prefix-match
    semantics (Google REP: the longest matching rule prefix wins; on a
    length tie, allow beats disallow) — the standard crawl/corpus URL
    hygiene pass.  Per-host rules are synthesized deterministically
    from the host id so the DuckDB twin can rebuild the identical rule
    table: every host allows "/", hosts with n%3==0 disallow "/docs/",
    and hosts with n%6==0 re-allow the longer "/docs/1" prefix — so all
    three precedence behaviors (default, block, longest-match
    override) are exercised.

    Scale shape: the rule table is O(hosts x rules) and BROADCAST; the
    corpus joins it once on host, prefix-match is a JVM startswith, and
    the winning rule is a row_number window partitioned by url over the
    few matched rules per url — no shuffle of the corpus beyond the
    host-keyed broadcast probe, exactly how a 10^12-url frontier is
    policy-filtered."""
    urls = _synth_urls(_t(spark, sf_dir, "documents")).select(
        "url", "host", "path"
    )
    hosts = urls.select("host").distinct().withColumn(
        "hn", F.regexp_extract("host", r"src(\d+)", 1).cast("int")
    )
    rules = (
        hosts.select(
            "host",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("/").alias("prefix"), F.lit(True).alias("allow")
                    ),
                    F.when(
                        F.col("hn") % 3 == 0,
                        F.struct(
                            F.lit("/docs/").alias("prefix"),
                            F.lit(False).alias("allow"),
                        ),
                    ),
                    F.when(
                        F.col("hn") % 6 == 0,
                        F.struct(
                            F.lit("/docs/1").alias("prefix"),
                            F.lit(True).alias("allow"),
                        ),
                    ),
                )
            ).alias("r"),
        )
        .filter(F.col("r").isNotNull())
        .select("host", "r.prefix", "r.allow")
    )
    matched = urls.join(F.broadcast(rules), "host").filter(
        F.col("path").startswith(F.col("prefix"))
    )
    w = Window.partitionBy("url").orderBy(
        F.length("prefix").desc(), F.col("allow").desc()
    )
    return (
        matched.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "url",
            "host",
            F.col("prefix").alias("rule_prefix"),
            F.col("allow").alias("allowed"),
        )
        .orderBy("url")
    )


@query(window=True, oracle=witness(
    "wet_export", "shard, n_records, n_bytes, wet_md5", "shard"
))
def _q_wet_export(spark, sf_dir):
    """X61: WET export — the extracted text re-packed as WARC
    'conversion' records (Common Crawl's WET layout: per-record gzip
    members, text/plain payloads), sharded content-addressed
    (md5(url) -> shard, so shard membership never depends on
    partitioning or parallelism), records url-sorted within a shard and
    gzip mtime pinned, so every shard's container bytes — and md5 — are
    deterministic.  Together with the WARC reader (X44) this closes the
    crawl container loop: WARC in, extraction, WET out.

    Scale shape: extraction is the usual map-only kernel; the only
    shuffle is the shard groupBy (a shard is one WET *file* — n_shards
    grows with the corpus, each group stays file-sized); the blob never
    leaves the executor, only (md5, sizes) do.  Oracle: golden witness
    from the single-process twin (scripts/gen_witness.py), which
    re-derives the container bytes from the kernel loop with no Spark
    and no shared shard state."""
    from ocr_pipeline_spark.fixtures.gen_pages import documents_as_pages_df
    from ocr_pipeline_spark.plans.job import run_extraction
    from ocr_pipeline_spark.sources.warc import wet_export_df

    pages = documents_as_pages_df(_t(spark, sf_dir, "documents"))
    out = run_extraction(spark, pages, describe=True, co_locate_hosts=False)

    # WARC-Date from the SAME naive-datetime arithmetic the witness
    # uses (page_ts + strftime): a Spark-timestamp round trip through
    # date_format would render in the session timezone, and a DST-gap
    # wall time (reachable at doc_id ≳ 113k under a DST zone) would
    # shift — splitting the shard md5s from the witness.  Pure Python
    # on the url-embedded doc_id is timezone-free by construction.
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _wet_date(urls):
        from ocr_pipeline_spark.fixtures.gen_pages import page_ts

        return urls.map(
            lambda u: page_ts(int(u.rsplit("/", 1)[1])).strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            )
        )

    extracted = out.select(
        "url",
        _wet_date(F.col("url")).alias("wet_date"),
        F.col("markdown").alias("text"),
    )
    return wet_export_df(extracted, n_shards=8).orderBy("shard")


@query(oracle=witness(
    "warc_records",
    "url, warc_date, rec_type, http_status, html_md5, n_html_bytes, n_rec_bytes",
    "url",
))
def _q_warc_records(spark, sf_dir):
    """X44: WARC source round-trip — pack the documents corpus into
    Common-Crawl-layout WARC files (per-record gzip members, 50 pages
    per file), then split them back into page records distributed and
    peel the HTTP envelope.  Oracle: golden witness computed WITHOUT
    the WARC writer or parser (url/date/md5/lengths derived directly
    from the wrapped pages), so a hash match proves the full
    build -> gzip -> member-split -> Content-Length walk -> HTTP-split
    pipeline recovers every record byte-exactly.

    Scale shape: blob packing is the fixture side; the product path is
    `warc_pages_df` — a narrow mapInPandas over a binaryFile scan of
    crawl objects, no shuffle, bomb-guarded per record."""
    from ocr_pipeline_spark.sources.warc import (
        documents_as_warc_df,
        warc_pages_df,
    )

    blobs = documents_as_warc_df(
        _t(spark, sf_dir, "documents"), group_size=50, per_record_gzip=True
    )
    recs = warc_pages_df(blobs, "warc")
    return recs.select(
        "url",
        "warc_date",
        "rec_type",
        "http_status",
        F.md5("html").alias("html_md5"),
        F.length("html").alias("n_html_bytes"),
        "n_rec_bytes",
    ).orderBy("url")


@query(oracle="""
    WITH d AS (
        SELECT 'https://' || source || '.example.com/docs/'
               || doc_id AS url,
               doc_id, text
        FROM documents
    ), snap_a AS (
        SELECT url, md5(text) AS h_a FROM d
        WHERE doc_id % 10 <> 9
    ), snap_b AS (
        SELECT url,
               md5(CASE WHEN doc_id % 7 = 3
                        THEN text || ' [recrawled]'
                        ELSE text END) AS h_b
        FROM d WHERE doc_id % 10 <> 0
    )
    SELECT coalesce(snap_a.url, snap_b.url) AS url,
           CASE WHEN snap_a.url IS NULL THEN 'new'
                WHEN snap_b.url IS NULL THEN 'gone'
                WHEN h_a <> h_b THEN 'changed'
                ELSE 'same' END AS status
    FROM snap_a FULL OUTER JOIN snap_b
         ON snap_a.url = snap_b.url
    ORDER BY url
""")
def _q_snapshot_diff(spark, sf_dir):
    """X48: crawl snapshot diff — classify every url across two crawl
    snapshots as new / gone / changed / same (the recrawl-economics
    primitive: what to refetch, what to tombstone, what to dedup
    against the previous snapshot).  Snapshots are synthesized
    deterministically from `documents`: snapshot A omits doc_id%10==9,
    snapshot B omits doc_id%10==0 and rewrites content for
    doc_id%7==3; content identity is md5 so the comparison never ships
    the body.

    Scale shape: ONE url-keyed full outer join (sort-merge, bucketable
    by url; on Iceberg the two sides are time-travel reads of the same
    table so they share partitioning and the join co-locates); status
    is a null/hash case expression; per-status totals are a partial
    agg.  Nothing collects, no pair expansion, bodies reduced to
    hashes at the scan."""
    d = _synth_urls(_t(spark, sf_dir, "documents")).select(
        "url", "doc_id", "text"
    )
    snap_a = d.filter(F.col("doc_id") % 10 != 9).select(
        "url", F.md5(F.encode("text", "UTF-8")).alias("h_a")
    )
    snap_b = d.filter(F.col("doc_id") % 10 != 0).select(
        "url",
        F.md5(
            F.encode(
                F.when(
                    F.col("doc_id") % 7 == 3,
                    F.concat(F.col("text"), F.lit(" [recrawled]")),
                ).otherwise(F.col("text")),
                "UTF-8",
            )
        ).alias("h_b"),
    )
    return (
        snap_a.join(snap_b, "url", "full_outer")
        .select(
            "url",
            F.when(F.col("h_a").isNull(), "new")
            .when(F.col("h_b").isNull(), "gone")
            .when(F.col("h_a") != F.col("h_b"), "changed")
            .otherwise("same")
            .alias("status"),
        )
        .orderBy("url")
    )


@query(window=True, oracle="""
    WITH d AS (
        SELECT doc_id, text,
               source || '.example.com' AS host,
               '/docs/' || doc_id AS path,
               CASE WHEN doc_id % 3 = 0 THEN 'b=2&a=1'
                    WHEN doc_id % 3 = 1 THEN 'z=9'
                    ELSE NULL END AS rawq
        FROM documents
    )
    SELECT array_to_string(
               list_reverse(string_split(host, '.')), ',')
           || ')' || path
           || coalesce('?' || array_to_string(
                  list_sort(string_split(rawq, '&')), '&'), '')
               AS surt_key,
           20260200000000 + doc_id AS ts,
           'https://' || host || path
           || coalesce('?' || rawq, '') AS url,
           md5(text) AS digest
    FROM d
    ORDER BY surt_key, ts
""")
def _q_cdx_index(spark, sf_dir):
    """X54: CDX-style URL index (the Common Crawl index-server shape):
    every capture keyed by its SURT — host reversed on dots, then
    path, then the query string with parameters in sorted order — so
    one lexicographic sort clusters every capture of a host/prefix
    and a frontier lookup is a range scan, not a full scan.  Urls are
    synthesized deterministically from (source, doc_id) with three
    query-string variants (multi-param unsorted, single-param, none)
    so the param canonicalization is actually exercised; digest is
    md5 of the body, and the capture key is a deterministic monotonic
    integer in the CDX timestamp's 14-digit position (base + doc_id —
    NOT a parseable yyyyMMddHHmmss datetime; a real crawl supplies
    real capture times, and only ordering matters to the index).

    Scale shape: pure narrow JVM string expressions (split / reverse /
    array_join / array_sort) — zero Python, zero joins; the global
    (surt_key, ts) order is the index contract, at 10^12 rows a
    repartitionByRange + sortWithinPartitions producing range-sharded
    CDX files (the orderBy here IS that range sort at toy scale)."""
    from ocr_pipeline_spark.operators.text_ops import exact_dup_key

    d = _synth_urls(_t(spark, sf_dir, "documents"))
    rawq = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("b=2&a=1"))
        .when(F.col("doc_id") % 3 == 1, F.lit("z=9"))
        .otherwise(F.lit(None).cast("string"))
    )
    canonq = F.array_join(F.array_sort(F.split(rawq, "&")), "&")
    surt = F.concat(
        F.array_join(F.reverse(F.split("host", r"\.")), ","),
        F.lit(")"),
        F.col("path"),
        F.coalesce(F.concat(F.lit("?"), canonq), F.lit("")),
    )
    return (
        d.select(
            surt.alias("surt_key"),
            (F.lit(20260200000000) + F.col("doc_id")).alias("ts"),
            F.concat(
                "url", F.coalesce(F.concat(F.lit("?"), rawq), F.lit("")),
            ).alias("url"),
            exact_dup_key(F.col("text")).alias("digest"),
        )
        .orderBy("surt_key", "ts")
    )


@query(window=True, oracle="""
    WITH u AS (
        SELECT 'https://' || source || '.example.com/docs/'
               || doc_id AS url,
               source || '.example.com' AS host,
               CAST(regexp_extract(source, 'src(\\d+)', 1)
                    AS INT) AS hn
        FROM documents
    )
    SELECT url, host,
           CAST(((strpos('0123456789abcdef',
                         substr(md5(host), 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef',
                         substr(md5(host), 2, 1)) - 1)) % 8
                AS INT) AS fetch_shard,
           CAST((row_number() OVER (
                    PARTITION BY host
                    ORDER BY md5(url), url
                ) - 1)
                * (CASE WHEN hn % 2 = 0 THEN 5 ELSE 2 END)
                AS BIGINT) AS dispatch_at_s
    FROM u
    ORDER BY host, dispatch_at_s, url
""")
def _q_frontier_schedule(spark, sf_dir):
    """X56: politeness-aware crawl-frontier scheduling — the step
    between the robots filter (X51) and the fetch: assign every
    frontier url a fetch shard (so one host never spans two fetchers
    and per-host state stays local) and a dispatch slot that enforces
    the host's crawl delay (slot k fetches at k*delay seconds; hosts
    with more pending urls stretch further into the future, which is
    exactly the budget signal a recrawl scheduler consumes).  Shard
    count 8, per-host delay synthesized deterministically (2s, hosts
    with n%2==0 get 5s) so the SQL twin rebuilds it; priority order
    inside a host is content-addressed (md5 of the url — stable
    across runs and engines, never rand()).

    Scale shape: ONE host-keyed window (the same key the fetcher
    partitions by, so the shuffle that computes the schedule is the
    shuffle that ships urls to fetchers — it is free at plan level);
    shard assignment is a narrow hash expression; no joins, nothing
    collects.  At 10^12 urls the window is bounded per host, and the
    WindowGroupLimit-style pruning a real frontier applies (top-K
    urls per host per cycle) drops straight into the same plan."""
    urls = _synth_urls(_t(spark, sf_dir, "documents"))
    delay = F.when(F.col("hn") % 2 == 0, F.lit(5)).otherwise(F.lit(2))
    w = Window.partitionBy("host").orderBy(F.md5(F.col("url")), "url")
    return (
        urls.select(
            "url",
            "host",
            F.pmod(
                F.conv(F.substring(F.md5(F.col("host")), 1, 2), 16, 10)
                .cast("int"),
                F.lit(8),
            ).alias("fetch_shard"),
            ((F.row_number().over(w) - F.lit(1)) * delay)
            .cast("bigint").alias("dispatch_at_s"),
        )
        .orderBy("host", "dispatch_at_s", "url")
    )


@query(window=True, oracle="""
    WITH hosts AS (
        SELECT DISTINCT source || '.example.com' AS host,
               CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT)
                   AS hn
        FROM documents
    ), bodies AS (
        SELECT host,
               '# robots.txt for ' || host || chr(10) || chr(10)
               || 'User-Agent: *' || chr(10)
               || 'Disallow: /private/' || chr(10)
               || 'allow: /private/public/' || chr(10)
               || 'Crawl-delay: ' || CAST(1 + hn % 7 AS VARCHAR)
               || chr(10)
               || CASE WHEN hn % 2 = 0 THEN
                      chr(10) || '# crawler-specific group'
                      || chr(10)
                      || 'User-agent: ccbot' || chr(10)
                      || 'User-agent: testbot' || chr(10)
                      || 'Disallow: /docs/' || chr(10)
                      || CASE WHEN hn % 4 = 0
                              THEN 'Allow: /docs/public/' || chr(10)
                              ELSE '' END
                  ELSE '' END AS body
        FROM hosts
    ), rawlines AS (
        SELECT host, i - 1 AS pos, trim(ls[i]) AS line
        FROM (SELECT host, string_split(body, chr(10)) AS ls
              FROM bodies),
             LATERAL unnest(generate_series(1, len(ls))) AS t(i)
    ), lines AS (
        SELECT host, pos,
               lower(trim(split_part(line, ':', 1))) AS directive,
               trim(substr(line, strpos(line, ':') + 1)) AS value
        FROM rawlines
        WHERE line <> '' AND NOT starts_with(line, '#')
              AND contains(line, ':')
    ), grouped AS (
        SELECT *, CASE WHEN directive = 'user-agent'
                       THEN 1 ELSE 0 END AS is_ua
        FROM lines
    ), g2 AS (
        SELECT *,
               CASE WHEN is_ua = 1
                         AND coalesce(lag(is_ua) OVER (
                             PARTITION BY host ORDER BY pos), 0) = 0
                    THEN 1 ELSE 0 END AS new_group
        FROM grouped
    ), g3 AS (
        SELECT *, sum(new_group) OVER (
            PARTITION BY host ORDER BY pos
            ROWS UNBOUNDED PRECEDING) AS group_id
        FROM g2
    ), agents AS (
        SELECT host, group_id,
               max(CASE WHEN value = 'ccbot' THEN 1 ELSE 0 END)
                   AS has_ccbot,
               max(CASE WHEN value = '*' THEN 1 ELSE 0 END)
                   AS has_star
        FROM g3 WHERE is_ua = 1 GROUP BY host, group_id
    ), hf AS (
        SELECT host, max(has_ccbot) AS any_ccbot
        FROM agents GROUP BY host
    ), chosen AS (
        SELECT a.host, a.group_id,
               CASE WHEN hf.any_ccbot = 1 THEN 'ccbot'
                    ELSE '*' END AS used_agent
        FROM agents a JOIN hf ON a.host = hf.host
        WHERE (hf.any_ccbot = 1 AND a.has_ccbot = 1)
           OR (hf.any_ccbot = 0 AND a.has_star = 1)
    )
    SELECT g3.host, chosen.used_agent, g3.directive, g3.value
    FROM g3 JOIN chosen
         ON g3.host = chosen.host AND g3.group_id = chosen.group_id
    WHERE g3.is_ua = 0
    ORDER BY g3.host, g3.directive, g3.value
""")
def _q_robots_parse(spark, sf_dir):
    """X72: robots.txt FORMAT parser — the raw-text half of the REP
    story (robots_filter consumes an already-structured rule table;
    this builds that table from robots.txt bodies, the way a crawler
    actually ingests them).  Implements the REP grouping rules
    (RFC 9309 §2.1): consecutive User-agent lines form one group head
    and share the group's rules; comments (#) and blank lines are
    invisible to grouping; directive names are case-insensitive; the
    most specific matching agent group wins (here: a 'ccbot' group
    beats the '*' group; hosts without a ccbot group fall back to *).
    Bodies are synthesized deterministically per host so the DuckDB
    twin parses the identical text.

    Scale shape: the stateful group assignment is a per-HOST window
    over robots.txt LINES — the file is the natural unit and the spec
    caps it at 500 KiB, so the window frame is bounded by file size,
    never corpus size; group metadata and the per-host agent-choice
    flag are partial-aggregated frames of O(hosts) rows."""
    hosts = (
        _synth_urls(_t(spark, sf_dir, "documents"))
        .select("host", "hn")
        .distinct()
    )
    body = F.concat(
        F.lit("# robots.txt for "), F.col("host"), F.lit("\n"),
        F.lit("\n"),
        F.lit("User-Agent: *\n"),
        F.lit("Disallow: /private/\n"),
        F.lit("allow: /private/public/\n"),
        F.concat(F.lit("Crawl-delay: "),
                 (F.lit(1) + F.col("hn") % 7).cast("string"), F.lit("\n")),
        F.when(
            F.col("hn") % 2 == 0,
            F.concat(
                F.lit("\n# crawler-specific group\n"),
                F.lit("User-agent: ccbot\n"),
                F.lit("User-agent: testbot\n"),
                F.lit("Disallow: /docs/\n"),
                F.when(F.col("hn") % 4 == 0,
                       F.lit("Allow: /docs/public/\n")).otherwise(F.lit("")),
            ),
        ).otherwise(F.lit("")),
    )
    lines = hosts.select(
        "host", F.posexplode(F.split(body, "\n")).alias("pos", "raw")
    ).select(
        "host", "pos", F.trim("raw").alias("line")
    ).filter(
        (F.col("line") != "") & ~F.col("line").startswith("#")
        & F.col("line").contains(":")
    ).select(
        "host",
        "pos",
        F.lower(F.trim(F.substring_index("line", ":", 1))).alias("directive"),
        F.trim(F.expr("substring(line, instr(line, ':') + 1)")).alias("value"),
    )
    w_host = Window.partitionBy("host").orderBy("pos")
    grouped = lines.withColumn(
        "is_ua", (F.col("directive") == "user-agent").cast("int")
    ).withColumn(
        "new_group",
        (
            (F.col("is_ua") == 1)
            & (F.coalesce(F.lag("is_ua").over(w_host), F.lit(0)) == 0)
        ).cast("int"),
    ).withColumn("group_id", F.sum("new_group").over(w_host))
    agents = grouped.filter(F.col("is_ua") == 1).groupBy(
        "host", "group_id"
    ).agg(
        F.max((F.col("value") == "ccbot").cast("int")).alias("has_ccbot"),
        F.max((F.col("value") == "*").cast("int")).alias("has_star"),
    )
    host_flag = agents.groupBy("host").agg(
        F.max("has_ccbot").alias("any_ccbot")
    )
    chosen = (
        agents.join(host_flag, "host")
        .filter(
            ((F.col("any_ccbot") == 1) & (F.col("has_ccbot") == 1))
            | ((F.col("any_ccbot") == 0) & (F.col("has_star") == 1))
        )
        .select(
            "host",
            "group_id",
            F.when(F.col("any_ccbot") == 1, "ccbot").otherwise("*").alias(
                "used_agent"
            ),
        )
    )
    return (
        grouped.filter(F.col("is_ua") == 0)
        .join(chosen, ["host", "group_id"])
        .select("host", "used_agent", "directive", "value")
        .orderBy("host", "directive", "value")
    )


@query(window=True, oracle="""
    WITH hosts AS (
        SELECT DISTINCT source || '.example.com' AS host,
               CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT)
                   AS hn
        FROM documents
    ), bodies AS (
        SELECT host,
               '<urlset>' || list_aggregate(list_transform(
                   generate_series(1, 1 + hn % 5),
                   i -> '<url><loc>https://' || host || '/page/'
                        || CAST(i AS VARCHAR) || '</loc>'
                        || CASE WHEN i % 2 = 0 THEN
                               '<lastmod>2024-01-'
                               || lpad(CAST(10 + (hn + i) % 19
                                       AS VARCHAR), 2, '0')
                               || '</lastmod>'
                           ELSE '' END
                        || CASE WHEN i % 3 <> 0 THEN
                               '<priority>0.'
                               || CAST(i % 10 AS VARCHAR)
                               || '</priority>'
                           ELSE '' END
                        || '<changefreq>'
                        || (['daily', 'weekly', 'monthly'])[
                               1 + (hn + i) % 3]
                        || '</changefreq></url>'),
                   'string_agg', '') || '</urlset>' AS body
        FROM hosts
    ), fields AS (
        SELECT host,
               regexp_extract(b, '<lastmod>([^<]*)</lastmod>', 1)
                   AS lastmod,
               regexp_extract(b, '<priority>0\\.(\\d)</priority>', 1)
                   AS prio,
               regexp_extract(b,
                   '<changefreq>([^<]*)</changefreq>', 1) AS cf
        FROM (SELECT host,
                     unnest(regexp_extract_all(
                         body, '<url>(.*?)</url>', 1)) AS b
              FROM bodies)
    )
    SELECT host,
           count(*) AS n_urls,
           sum(CASE WHEN lastmod <> '' THEN 1 ELSE 0 END)
               AS n_lastmod,
           max(nullif(lastmod, '')) AS last_mod,
           sum(CASE WHEN prio <> '' THEN CAST(prio AS BIGINT)
                    ELSE 0 END) AS sum_prio10,
           sum(CASE WHEN cf = 'daily' THEN 1 ELSE 0 END) AS n_daily
    FROM fields
    GROUP BY host
    ORDER BY host
""")
def _q_sitemap_parse(spark, sf_dir):
    """X77: XML sitemap parser — the discovery-side sibling of
    robots_parse (RFC-adjacent sitemaps.org protocol): a crawler learns
    a host's URL inventory from /sitemap.xml before it fetches anything.
    Parses <url> entries (loc, optional lastmod, optional priority,
    changefreq) out of per-host urlset bodies and rolls them up to the
    per-host facts a frontier scheduler consumes: URL count, how many
    carry lastmod, the freshest lastmod, the priority mass, and the
    count of daily-changefreq entries.  Bodies are synthesized
    deterministically per host (entry count, dates, priorities all
    derived from the numeric host id) so the DuckDB twin parses the
    identical text; priorities are single-digit decimals aggregated as
    integer tenths (sum_prio10) to keep the compare float-free.

    Scale shape: synthesis/parse is a narrow per-host map (the protocol
    caps one sitemap file at 50k URLs / 50 MB, so the regexp walk is
    bounded by FILE size, never corpus size); the entry explode is
    followed by one partial-aggregated groupBy(host) — hot hosts
    collapse map-side, O(hosts) rows cross the exchange."""
    hosts = (
        _synth_urls(_t(spark, sf_dir, "documents"))
        .select("host", "hn")
        .distinct()
    )
    entry = (
        "concat('<url><loc>https://', host, '/page/', CAST(i AS STRING),"
        " '</loc>',"
        " IF(i % 2 = 0, concat('<lastmod>2024-01-',"
        "   lpad(CAST(10 + (hn + i) % 19 AS STRING), 2, '0'),"
        "   '</lastmod>'), ''),"
        " IF(i % 3 != 0, concat('<priority>0.', CAST(i % 10 AS STRING),"
        "   '</priority>'), ''),"
        " '<changefreq>',"
        " element_at(array('daily', 'weekly', 'monthly'), 1 + (hn + i) % 3),"
        " '</changefreq></url>')"
    )
    bodies = hosts.withColumn(
        "body",
        F.expr(
            "concat('<urlset>', "
            f"array_join(transform(sequence(1, 1 + hn % 5), i -> {entry}),"
            " ''), '</urlset>')"
        ),
    )
    fields = bodies.select(
        "host",
        F.explode(
            F.expr("regexp_extract_all(body, '<url>(.*?)</url>', 1)")
        ).alias("b"),
    ).select(
        "host",
        F.regexp_extract("b", "<lastmod>([^<]*)</lastmod>", 1).alias(
            "lastmod"
        ),
        F.regexp_extract("b", r"<priority>0\.(\d)</priority>", 1).alias(
            "prio"
        ),
        F.regexp_extract("b", "<changefreq>([^<]*)</changefreq>", 1).alias(
            "cf"
        ),
    )
    return (
        fields.groupBy("host")
        .agg(
            F.count("*").alias("n_urls"),
            F.sum((F.col("lastmod") != "").cast("bigint")).alias(
                "n_lastmod"
            ),
            F.max(F.when(F.col("lastmod") != "", F.col("lastmod"))).alias(
                "last_mod"
            ),
            F.sum(
                F.when(F.col("prio") != "", F.col("prio").cast("bigint"))
                .otherwise(F.lit(0))
            ).alias("sum_prio10"),
            F.sum((F.col("cf") == "daily").cast("bigint")).alias("n_daily"),
        )
        .orderBy("host")
    )
