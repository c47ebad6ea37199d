"""Deduplication queries: exact, fingerprint, simhash, minhash, n-gram span
and embedding-cluster dedup."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_pipeline_spark.queries.registry import _t, query, witness


def _dup_gram_hits(d, k: int = 8):
    """Shared mark phase of the Lee et al. span dedup: (doc_id, pos)
    of every word k-gram occurrence whose gram occurs >= 2 times
    corpus-wide.

    Scale shape: TWO-PHASE counting — `groupBy(g).count()` (map-side
    partial agg collapses a boilerplate gram that occurs millions of
    times into one row per map task) followed by a LEFT SEMI join of
    the occurrence stream against the duplicated gram keys.  The
    previous shape (`count().over(Window.partitionBy("g"))`) had no
    partial aggregation: every occurrence row of a hot gram shuffled
    to a single reducer's sort buffer — the straggler at 100 TB.  The
    semi join still shuffles gram groups by g, but a sort-merge/hash
    join partition is AQE-skew-splittable (OptimizeSkewedJoin),
    while a Window partition never is.  No pair expansion anywhere.

    The explode+md5 map stage runs ONCE: the occurrence stream is
    first collapsed to (g, doc_id, positions[]) — keyed by BOTH g and
    doc_id, so even a boilerplate gram in millions of documents
    spreads across that exchange instead of piling on one reducer —
    and both consumers (the per-g total and the semi-join probe) hang
    off that same aggregate, sharing its Exchange (ReusedExchange,
    verified by plan test).  Positions per (g, doc_id) are bounded by
    document length.  Gram key is md5 (engine-portable for the
    oracle; swap for xxhash64 when DuckDB parity is not needed).
    Integer-exact."""
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    grams = ws.filter(F.size("ws") >= k).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(ws) - {k - 1}), "
                f"i -> struct(i AS pos, md5(array_join(slice(ws, i, {k}), ' ')) AS g))"
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.pos").alias("pos"), F.col("e.g").alias("g"))
    # exactly ONE aggregate expression (ps) so both consumers keep an
    # identical column set — column pruning would otherwise specialize
    # the two exchange subtrees and break ReusedExchange
    per_gd = grams.groupBy("g", "doc_id").agg(
        F.collect_list("pos").alias("ps")
    )
    dup_keys = (
        per_gd.groupBy("g").agg(F.sum(F.size("ps")).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("g")
    )
    # INNER join, not left_semi: dup_keys.g is an aggregate key (unique),
    # so the result is identical — but PushDownLeftSemiAntiJoin would
    # rewrite a semi join to below the probe-side aggregate, splitting
    # the shared exchange back into two full explode+md5 scans
    return (
        per_gd.join(dup_keys, "g")
        .select("doc_id", F.explode("ps").alias("pos"))
    )


# DuckDB replica of text_ops.winnow_fingerprints (Karp-Rabin polynomial
# k-gram hashes mod 2^64 over HUGEINT + window-min winnowing, k=8 w=16):
# ends in a `fps(doc_id, fp)` CTE — the per-doc winnowed fingerprint set,
# bit-identical to the Arrow kernel (verified exhaustively at sf0.01 plus
# empty/short-text edge cases).  Shared by the doc_fingerprints and
# fingerprint_overlap oracles.
_WINNOW_FPS_SQL = r"""
    WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        FROM documents
    ), pows(e, v) AS (
        VALUES (0, 1::HUGEINT), (1, 257::HUGEINT), (2, 66049::HUGEINT),
               (3, 16974593::HUGEINT), (4, 4362470401::HUGEINT),
               (5, 1121154893057::HUGEINT), (6, 288136807515649::HUGEINT),
               (7, 74051159531521793::HUGEINT)
    ), codes AS (
        SELECT doc_id, i,
               unicode(substring(t, CAST(i AS INT), 1))::HUGEINT AS c,
               length(t) AS n
        FROM norm,
             LATERAL unnest(generate_series(1::BIGINT, length(t)::BIGINT)) AS u(i)
        WHERE length(t) > 0
    ), khash AS (
        -- poly hash of every char 8-gram: cross each char with the 8
        -- weights, group by window start (uint64 wraparound via one
        -- final mod — mod is a ring hom, so it equals numpy's per-step
        -- wraparound)
        SELECT doc_id, i - (7 - e) AS start,
               sum(c * v) % 18446744073709551616::HUGEINT AS h
        FROM codes JOIN pows ON true
        GROUP BY doc_id, i - (7 - e)
        HAVING count(*) = 8 AND (i - (7 - e)) >= 1
    ), shorthash AS (
        -- docs shorter than k: one poly hash over all chars
        SELECT doc_id, 1 AS start,
               sum(c * v) % 18446744073709551616::HUGEINT AS h
        FROM codes JOIN pows ON pows.e = codes.n - codes.i
        WHERE n < 8
        GROUP BY doc_id
    ), allhash AS (
        SELECT doc_id, start, h FROM khash
        UNION ALL SELECT doc_id, start, h FROM shorthash
    ), sized AS (
        SELECT doc_id, h,
               count(*) OVER (PARTITION BY doc_id) AS m,
               row_number() OVER (PARTITION BY doc_id ORDER BY start) AS rn,
               min(h) OVER (PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS winmin
        FROM allhash
    ), fps AS (
        SELECT DISTINCT doc_id, CAST(winmin // 2 AS BIGINT) AS fp
        FROM sized WHERE m > 16 AND rn >= 16
        UNION
        SELECT doc_id, CAST(min(h) // 2 AS BIGINT) AS fp
        FROM sized WHERE m <= 16 GROUP BY doc_id
    )
"""


@query(oracle="""
    SELECT source, count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique,
           count(*) - count(DISTINCT md5(text)) AS n_dups
    FROM documents
    GROUP BY source
    ORDER BY source
""")
def _q_dedup_exact(spark, sf_dir):
    from ocr_pipeline_spark.operators.text_ops import exact_dup_key

    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("text_hash", exact_dup_key(F.col("text")))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("text_hash").alias("n_unique"),
            (F.count("*") - F.countDistinct("text_hash")).alias("n_dups"),
        )
        .orderBy("source")
    )


@query(oracle=_WINNOW_FPS_SQL + """
    SELECT d.doc_id,
           coalesce(count(f.fp), 0) AS n_fps,
           coalesce(min(f.fp), 0) AS fp_min
    FROM documents d LEFT JOIN fps f ON d.doc_id = f.doc_id
    GROUP BY d.doc_id
    ORDER BY d.doc_id
""")
def _q_doc_fingerprints(spark, sf_dir):
    from ocr_pipeline_spark.operators.text_ops import fingerprint_kernel

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("_id"), "text"
    )
    fps = d.mapInPandas(
        fingerprint_kernel(),
        schema="_id long, fingerprints array<bigint>, n_fps long, fp_min bigint",
    )
    return fps.select(
        F.col("_id").alias("doc_id"), "n_fps", "fp_min"
    ).orderBy("doc_id")


@query(oracle=_WINNOW_FPS_SQL + """
    , buckets AS (
        SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 64
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        WHERE a.fp IN (SELECT fp FROM buckets)
    )
    SELECT id_a, id_b, count(*) AS n_shared
    FROM pairs GROUP BY id_a, id_b HAVING count(*) >= 3
    ORDER BY id_a, id_b
""")
def _q_fingerprint_overlap(spark, sf_dir):
    from ocr_pipeline_spark.operators.text_ops import fingerprint_overlap_pairs

    d = _t(spark, sf_dir, "documents")
    return fingerprint_overlap_pairs(d, "doc_id", "text", min_shared=3).orderBy(
        "id_a", "id_b"
    )


@query(oracle=witness("lang_simhash", "doc_id, lang_pred, simhash", "doc_id"))
def _q_lang_simhash(spark, sf_dir):
    from ocr_pipeline_spark.operators.text_ops import lang_id_kernel, simhash_kernel

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    with_lang = d.mapInPandas(
        lang_id_kernel(), schema="doc_id long, text string, lang_pred string"
    )
    with_hash = with_lang.mapInPandas(
        simhash_kernel(),
        schema="doc_id long, text string, lang_pred string, simhash long",
    )
    return with_hash.select("doc_id", "lang_pred", "simhash").orderBy("doc_id")


# simhash witness = BRUTE-FORCE all-pairs popcount over
# single-process signatures (rep-compression contract) —
# independent of the banding machinery entirely
@query(oracle=witness("simhash_dup_pairs", "id_a, id_b, hamming", "id_a, id_b"))
def _q_simhash_dup_pairs(spark, sf_dir):
    """SimHash near-dup pairs (X4's scale path): pigeonhole banding of
    the 64-bit signature + inline popcount verify — EXACT recall at the
    hamming threshold (unlike LSH), single banded shuffle, no
    hydration join.  Kernel-based signatures (blake2b) -> rows-only
    driver check; hamming values recomputed independently in pytest."""
    from ocr_pipeline_spark.operators.text_ops import (
        simhash_kernel,
        simhash_near_dup_pairs,
    )

    from pyspark.sql import Observation

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = d.mapInPandas(
        simhash_kernel(), schema="doc_id long, text string, simhash long"
    )
    from ocr_pipeline_spark.operators.text_ops import log_overflow_metrics

    obs = Observation()
    out = simhash_near_dup_pairs(
        sigs, "doc_id", "simhash", max_hamming=3, observation=obs
    ).orderBy("id_a", "id_b")
    log_overflow_metrics(obs, "simhash_dup_pairs bucket audit")
    return out


@query(window=True, oracle=witness("minhash_dup_pairs", "id_a, id_b", "id_a, id_b"))
def _q_minhash_dup_pairs(spark, sf_dir):
    from pyspark.sql import Observation

    from ocr_pipeline_spark.operators.text_ops import (
        log_overflow_metrics,
        lsh_candidate_pairs,
        minhash_kernel,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = d.mapInPandas(
        minhash_kernel(),
        schema="doc_id long, text string, minhash array<bigint>",
    )
    obs = Observation()
    out = lsh_candidate_pairs(sigs, "doc_id", observation=obs).orderBy(
        "id_a", "id_b"
    )
    log_overflow_metrics(obs, "minhash_dup_pairs bucket audit")
    return out


@query(window=True, oracle=witness(
    "doc_embed_semdedup", "doc_id, cell, cent_sim, keep", "doc_id"
))
def _q_doc_embed_semdedup(spark, sf_dir):
    """X53×X43: the corpus → embedding → SemDeDup chain in one query —
    documents feed the hashing-trick embed kernel, its vectors train
    the bounded md5-ordered centroid sample and flow through the
    cell-shuffled per-cell drop rule (tau=0.95, calibrated on the
    char-3gram profile similarity of the synthetic corpus: 24/500
    drops at the compare sf, non-vacuous both ways).  Oracle: golden
    witness from the single-process twin that chains the SAME pure
    functions (embed_text → Lloyd → assign → per-cell GEMM), so the
    end-to-end chain is proven bit-exact, not just per stage.

    Scale shape: embed is a narrow Arrow map; its output is
    localCheckpoint-materialized because the chain consumes it twice
    (the O(sample) centroid collect + the dedup pass — the repo's
    policy for multi-consumer Python-kernel subtrees); then ONE cell
    shuffle.  At 10^12 docs the materialization is the embedding
    table you'd persist anyway."""
    from ocr_pipeline_spark.operators.embed import EMBED_DDL, embed_kernel
    from ocr_pipeline_spark.operators.semdedup import (
        semdedup,
        train_centroids_sample,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = (
        d.mapInPandas(embed_kernel(), schema=EMBED_DDL)
        .select("doc_id", "embedding")
        .localCheckpoint(eager=True)
    )
    cents = train_centroids_sample(
        emb, "embedding", "doc_id", n_cells=8, sample_n=256, iters=8
    )
    return (
        semdedup(emb, "embedding", "doc_id", cents, tau=0.95)
        .select(
            F.col("vec_id").alias("doc_id"), "cell", "cent_sim", "keep"
        )
        .orderBy("doc_id")
    )


@query(window=True, oracle=witness(
    "near_dup_verified", "id_a, id_b, jaccard", "id_a, id_b"
))
def _q_near_dup_verified(spark, sf_dir):
    from ocr_pipeline_spark.operators.text_ops import verified_near_dups

    d = _t(spark, sf_dir, "documents")
    return verified_near_dups(d, "doc_id", "text", threshold=0.3).orderBy(
        "id_a", "id_b"
    )


@query(oracle="""
    WITH grams AS (
        SELECT doc_id, source,
               list(DISTINCT substring(text, i, 3)) AS gs
        FROM (SELECT doc_id, source, text,
                     unnest(generate_series(
                         1, greatest(length(text) - 2, 1))) AS i
              FROM documents)
        GROUP BY doc_id, source
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.gs, b.gs)) AS n_inter,
           len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))
               AS n_union
    FROM grams a JOIN grams b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE 5 * len(list_intersect(a.gs, b.gs))
          >= 3 * (len(a.gs) + len(b.gs)
                  - len(list_intersect(a.gs, b.gs)))
    ORDER BY id_a, id_b
""")
def _q_jaccard_pairs_host(spark, sf_dir):
    """Exact within-host char-3-gram Jaccard pairs (blocked dedup),
    integer-exact output so the DuckDB oracle hash-matches."""
    from ocr_pipeline_spark.operators.text_ops import blocked_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return blocked_jaccard_pairs(
        d, "doc_id", "text", "source", threshold_num=3, threshold_den=5
    ).orderBy("id_a", "id_b")


@query(oracle="""
    WITH RECURSIVE grams AS (
        SELECT doc_id, source,
               list(DISTINCT substring(text, i, 3)) AS gs
        FROM (SELECT doc_id, source, text,
                     unnest(generate_series(
                         1, greatest(length(text) - 2, 1))) AS i
              FROM documents)
        GROUP BY doc_id, source
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM grams a JOIN grams b
          ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE 5 * len(list_intersect(a.gs, b.gs))
              >= 3 * (len(a.gs) + len(b.gs)
                      - len(list_intersect(a.gs, b.gs)))
    ), e AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(id, r) AS (
        SELECT src, src FROM e
        UNION
        SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
    ), losers AS (
        SELECT id FROM reach GROUP BY id HAVING id != min(r)
    )
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE doc_id NOT IN (SELECT id FROM losers)
    ORDER BY doc_id
""")
def _q_dedup_canonical_docs(spark, sf_dir):
    """The keep-side of component dedup: one canonical doc per
    within-host near-dup cluster (min id) plus all unimplicated docs."""
    from ocr_pipeline_spark.operators.components import dedup_canonical
    from ocr_pipeline_spark.operators.text_ops import blocked_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = blocked_jaccard_pairs(
        d, "doc_id", "text", "source", threshold_num=3, threshold_den=5
    )
    return (
        dedup_canonical(d, "doc_id", pairs)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


@query(window=True, oracle=r"""
    WITH raw AS (
        SELECT doc_id, 20260300000000 + doc_id AS ts,
               CASE CAST(doc_id % 6 AS INT)
                 WHEN 0 THEN 'https://' || source
                      || '.example.com/page/'
                      || CAST(doc_id % 50 AS VARCHAR)
                 WHEN 1 THEN 'HTTPS://' || upper(source)
                      || '.EXAMPLE.COM:443/page/'
                      || CAST(doc_id % 50 AS VARCHAR)
                 WHEN 2 THEN 'https://' || source
                      || '.example.com/page/'
                      || CAST(doc_id % 50 AS VARCHAR)
                      || '?utm_source=x&utm_campaign=y'
                 WHEN 3 THEN 'https://' || source
                      || '.example.com/page/'
                      || CAST(doc_id % 50 AS VARCHAR)
                      || '#section-2'
                 WHEN 4 THEN 'https://' || source
                      || '.example.com/page/'
                      || CAST(doc_id % 50 AS VARCHAR)
                      || '?b=2&a=1'
                 ELSE 'https://' || source
                      || '.example.com/page/'
                      || CAST(doc_id % 50 AS VARCHAR)
                      || '?a=1&fbclid=zzz&b=2'
               END AS url
        FROM documents
    ), comp AS (
        SELECT doc_id, ts,
               lower(regexp_extract(split_part(url, '#', 1),
                                    '^([^:]+)://', 1)) AS scheme,
               regexp_replace(split_part(url, '#', 1),
                              '^[^:]+://', '') AS rest
        FROM raw
    ), hp AS (
        SELECT *,
               regexp_extract(rest, '^([^/]+)', 1) AS hostport,
               substr(rest,
                      length(regexp_extract(rest, '^([^/]+)', 1))
                      + 1) AS pathquery
        FROM comp
    ), pq AS (
        SELECT *,
               regexp_replace(lower(hostport), ':(443|80)$', '')
                   AS host,
               CASE WHEN contains(pathquery, '?')
                    THEN regexp_replace(pathquery, '^[^?]*\?', '')
                    ELSE NULL END AS query
        FROM hp
    ), canon AS (
        SELECT doc_id, ts,
               scheme || '://' || host
               || (CASE WHEN pathquery = '' THEN '/'
                        ELSE split_part(pathquery, '?', 1) END)
               || (CASE WHEN cq IS NULL OR cq = '' THEN ''
                        ELSE '?' || cq END) AS canon_url
        FROM (SELECT *,
                     array_to_string(list_sort(list_filter(
                         str_split(query, '&'),
                         x -> NOT regexp_matches(x,
                             '^(utm_[^=]*|fbclid|gclid)='))),
                         '&') AS cq
              FROM pq)
    )
    SELECT canon_url, count(*) AS n_captures,
           max(ts) AS latest_ts,
           arg_max(doc_id, ts) AS latest_doc_id
    FROM canon
    GROUP BY canon_url
    ORDER BY canon_url
""")
def _q_url_canonical_dedup(spark, sf_dir):
    """X63: URL canonicalization + latest-capture retention — the
    url-level dedup every recrawl pipeline runs BEFORE content dedup
    (public analog: the crawler-commons / CC-index canonicalization
    rules): lowercase scheme+host, strip the fragment and default
    ports (:80/:443), drop tracking parameters (utm_*, fbclid,
    gclid), sort the surviving query parameters — then keep only the
    NEWEST capture of each canonical url.  The canonicalizer operates
    on the raw url STRING (the operator's contract), not on the parts
    the fixture happened to synthesize; captures are synthesized with
    six deterministic noise variants (case/port/tracking/fragment/
    param-order) so every rule is exercised and provably collapses.

    Scale shape: pure narrow JVM string/array expressions (split /
    filter-HOF / array_sort / substring_index) — zero Python, zero
    joins, whole-stage codegen end to end — then ONE hash exchange
    (the canon-url groupBy, near-unique keys, partial max(struct)
    collapses same-url captures map-side).  At 10^12 captures this is
    the cheapest possible retention pass: one shuffle of (url, ts)
    pairs, text never moves."""
    d = _t(spark, sf_dir, "documents")
    gid = (F.col("doc_id") % 50).cast("string")
    base = F.concat(
        F.lit("https://"), "source", F.lit(".example.com/page/"), gid
    )
    v = (F.col("doc_id") % 6).cast("int")
    raw = (
        F.when(v == 0, base)
        .when(
            v == 1,
            F.concat(
                F.lit("HTTPS://"),
                F.upper("source"),
                F.lit(".EXAMPLE.COM:443/page/"),
                gid,
            ),
        )
        .when(v == 2, F.concat(base, F.lit("?utm_source=x&utm_campaign=y")))
        .when(v == 3, F.concat(base, F.lit("#section-2")))
        .when(v == 4, F.concat(base, F.lit("?b=2&a=1")))
        .otherwise(F.concat(base, F.lit("?a=1&fbclid=zzz&b=2")))
    )
    caps = d.select(
        "doc_id",
        (F.lit(20260300000000) + F.col("doc_id")).alias("ts"),
        raw.alias("url"),
    )
    nofrag = F.substring_index("url", "#", 1)
    caps = caps.select(
        "doc_id",
        "ts",
        F.lower(F.regexp_extract(nofrag, r"^([^:]+)://", 1)).alias("scheme"),
        F.regexp_replace(nofrag, r"^[^:]+://", "").alias("rest"),
    )
    hostport = F.regexp_extract("rest", r"^([^/]+)", 1)
    caps = caps.select(
        "doc_id",
        "ts",
        "scheme",
        F.regexp_replace(F.lower(hostport), r":(443|80)$", "").alias("host"),
        F.col("rest").substr(F.length(hostport) + 1, F.lit(1 << 20)).alias(
            "pathquery"
        ),
    )
    query = F.when(
        F.col("pathquery").contains("?"),
        F.regexp_replace("pathquery", r"^[^?]*\?", ""),
    )
    cq = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda x: ~x.rlike("^(utm_[^=]*|fbclid|gclid)="),
            )
        ),
        "&",
    )
    canon = F.concat(
        "scheme",
        F.lit("://"),
        "host",
        F.when(F.col("pathquery") == "", F.lit("/")).otherwise(
            F.substring_index("pathquery", "?", 1)
        ),
        F.when(cq.isNull() | (cq == ""), F.lit("")).otherwise(
            F.concat(F.lit("?"), cq)
        ),
    )
    return (
        caps.select("doc_id", "ts", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("n_captures"),
            F.max(F.struct("ts", "doc_id")).alias("latest"),
        )
        .select(
            "canon_url",
            "n_captures",
            F.col("latest.ts").alias("latest_ts"),
            F.col("latest.doc_id").alias("latest_doc_id"),
        )
        .orderBy("canon_url")
    )


@query(window=True, oracle="""
    WITH corpus AS (
        SELECT doc_id, source, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, source,
               substring(text, 1, 200) AS text
        FROM documents
        WHERE n_chars >= 400 AND doc_id % 5 = 0
    ), grams AS (
        SELECT doc_id, source,
               list(DISTINCT substring(text, i, 3)) AS gs
        FROM (SELECT doc_id, source, text,
                     unnest(generate_series(
                         1, greatest(length(text) - 2, 1))) AS i
              FROM corpus)
        GROUP BY doc_id, source
    ), pairs AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb,
               len(list_intersect(a.gs, b.gs)) AS n_inter,
               len(a.gs) AS sa, len(b.gs) AS sb
        FROM grams a JOIN grams b
          ON a.source = b.source AND a.doc_id < b.doc_id
    ), roles AS (
        SELECT CASE WHEN sa <= sb THEN ida ELSE idb END
                   AS id_contained,
               CASE WHEN sa <= sb THEN idb ELSE ida END
                   AS id_container,
               n_inter,
               CASE WHEN sa <= sb THEN sa ELSE sb END AS n_small,
               CASE WHEN sa <= sb THEN sb ELSE sa END AS n_big
        FROM pairs
    )
    SELECT id_contained, id_container, n_inter, n_small, n_big
    FROM roles
    WHERE 10 * n_inter >= 9 * n_small
    ORDER BY id_contained, id_container
""")
def _q_containment_pairs(spark, sf_dir):
    """X66: asymmetric containment detection — C(A,B) = |S(A)∩S(B)| /
    |S(A)| over char-3-gram shingles (Broder 1997's containment, the
    companion measure to resemblance/Jaccard).  Catches the
    quote/excerpt/syndication relationships symmetric dedup misses: a
    200-char snippet verbatim inside a 5000-char page has containment
    ~1 but Jaccard ~0.04, so a resemblance-only pipeline keeps every
    excerpt as 'unique'.  Excerpt rows are synthesized deterministically
    (prefix-200 of every 5th long doc, id offset 1e7) so the operator
    provably finds planted containments the near-dup family does not.

    Scale shape: identical to the blocked Jaccard operator — ONE
    shuffle on the host block key, then a single boolean gram-matrix
    GEMM per block whose diagonal already holds the containment
    denominators (the asymmetric measure is free); integer-exact
    output, blocks above max_block skipped (mega-hosts go through the
    MinHash candidate path first at corpus scale)."""
    from ocr_pipeline_spark.operators.text_ops import (
        blocked_containment_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    snippets = d.filter(
        (F.col("n_chars") >= 400) & (F.col("doc_id") % 5 == 0)
    ).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        "source",
        F.substring("text", 1, 200).alias("text"),
    )
    corpus = d.select("doc_id", "source", "text").unionByName(snippets)
    return blocked_containment_pairs(
        corpus, "doc_id", "text", "source", threshold_num=9,
        threshold_den=10,
    ).orderBy("id_contained", "id_container")


@query(oracle="""
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS ws
        FROM documents
    ), lines AS (
        SELECT doc_id, i AS pos,
               array_to_string(ws[i * 40 + 1 : i * 40 + 40], ' ')
                   AS line
        FROM ws, LATERAL unnest(generate_series(
                 0, CAST(floor((len(ws) - 1) / 40) AS BIGINT)))
             AS t(i)
    ), freq AS (
        SELECT md5(line) AS h,
               count(DISTINCT doc_id) AS df
        FROM lines GROUP BY md5(line)
    ), kept AS (
        SELECT lines.* FROM lines
        JOIN freq ON md5(lines.line) = freq.h
        WHERE freq.df <= 1
    ), rebuilt AS (
        SELECT doc_id, count(*) AS n_kept,
               md5(string_agg(line, chr(10) ORDER BY pos))
                   AS kept_md5
        FROM kept GROUP BY doc_id
    ), n_lines AS (
        SELECT doc_id, count(*) AS n_lines FROM lines
        GROUP BY doc_id
    )
    SELECT n_lines.doc_id, n_lines.n_lines,
           coalesce(rebuilt.n_kept, 0) AS n_kept,
           coalesce(rebuilt.kept_md5,
                    'd41d8cd98f00b204e9800998ecf8427e') AS kept_md5
    FROM n_lines LEFT JOIN rebuilt
         ON n_lines.doc_id = rebuilt.doc_id
    ORDER BY n_lines.doc_id
""")
def _q_line_dedup(spark, sf_dir):
    """X47: CCNet/RefinedWeb-style paragraph-level dedup — drop every
    paragraph whose content appears in MORE THAN ONE distinct document
    (document frequency across the corpus; repeats *within* one doc are
    kept), then re-assemble each document from its surviving paragraphs
    in original order.  Paragraphs are the fixture's 40-word chunks
    (matching gen_pages.wrap_document_as_page), keyed by md5 so the
    frequency join is engine-portable.  The re-assembled text is
    witnessed by md5, so the oracle proves byte-equal reassembly, not
    just matching counts.

    Scale shape: posexplode -> ONE partial-aggregated group-by on the
    paragraph hash (countDistinct doc_id is a two-phase partial agg) ->
    hash-keyed join back (bucketable; AQE broadcasts the duplicated-
    lines side when small, as it is in real crawls where dup lines are
    a tail) -> per-doc sort_array(collect_list) bounded by document
    size.  No pair expansion anywhere — this is the linear-cost
    alternative to pairwise near-dup for boilerplate/banner removal."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    lines = ws.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, cast(floor((size(ws) - 1) / 40) "
                "as int)), i -> array_join(slice(ws, i * 40 + 1, 40), ' '))"
            )
        ).alias("pos", "line"),
    ).withColumn("h", F.md5(F.encode("line", "UTF-8")))
    freq = lines.groupBy("h").agg(
        F.countDistinct("doc_id").alias("df")
    )
    kept = lines.join(freq, "h").filter(F.col("df") <= 1)
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.encode(
                F.concat_ws(
                    "\n",
                    F.expr(
                        "transform(sort_array(collect_list("
                        "struct(pos, line))), x -> x.line)"
                    ),
                ),
                "UTF-8",
            )
        ).alias("kept_md5"),
    )
    n_lines = lines.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    empty_md5 = "d41d8cd98f00b204e9800998ecf8427e"
    return (
        n_lines.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_md5", F.lit(empty_md5)).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


@query(oracle=witness("semdedup", "vec_id, cell, cent_sim, keep", "vec_id"))
def _q_semdedup(spark, sf_dir):
    """X43: SemDeDup (Abbas et al. 2023) — semantic dedup in embedding
    space: spherical k-means cells, then within each cell drop any
    member with an earlier-ranked (farther-from-centroid) member within
    cosine 0.35.  Centroids train on a bounded md5-ordered sample
    (O(sample) driver transfer, partition-independent); assignment is a
    broadcast-centroids Arrow kernel; the dedup is ONE shuffle on the
    cell id + a per-cell GEMM.  Oracle: golden witness from the
    single-process twin (scripts/gen_witness.py) — the numpy kernels
    use fixed-order reductions so equality is bit-exact, including the
    float64 cent_sim column."""
    from ocr_pipeline_spark.operators.semdedup import (
        semdedup,
        train_centroids_sample,
    )

    e = _t(spark, sf_dir, "embeddings")
    cents = train_centroids_sample(
        e, "embedding", "vec_id", n_cells=8, sample_n=256, iters=8
    )
    return semdedup(e, "embedding", "vec_id", cents, tau=0.35).orderBy(
        "vec_id"
    )


@query(oracle="""
    WITH new_drop AS (
        SELECT doc_id, md5(text) AS h FROM documents
        WHERE doc_id % 5 = 0
    ), idx AS (
        SELECT DISTINCT md5(text) AS h FROM documents
        WHERE doc_id % 5 <> 0
    ), survivors AS (
        SELECT n.doc_id, n.h,
               row_number() OVER (
                   PARTITION BY n.h ORDER BY n.doc_id
               ) AS rk
        FROM new_drop n
        -- NOT EXISTS, not NOT IN: matches the Spark anti-join's
        -- NULL-key semantics (an unmatched NULL hash survives;
        -- NOT IN would nuke the whole result on any NULL)
        WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.h = n.h)
    )
    SELECT doc_id, h FROM survivors WHERE rk = 1
    ORDER BY doc_id
""")
def _q_incremental_dedup(spark, sf_dir):
    """Rolling-crawl incremental dedup (the operational shape of X1 at
    100 TB: each new crawl drop dedups against the already-indexed
    corpus, not against itself alone).  The fixture split is
    deterministic: doc_id % 5 == 0 is the 'new drop', the rest is the
    corpus index.  A new doc survives iff its exact content hash is
    absent from the index (left_anti join on the hash) AND it is the
    min-doc_id representative of its hash within the drop (window).

    Scale shape: the index side ships only distinct (hash) — at scale
    that is a bucketed table on the hash column, so the anti-join is
    co-located (sources/catalog.py:write_bucketed) and only the NEW
    drop shuffles; the within-drop window shuffles drop-sized data
    once.  Never a broadcast of the corpus, never a pair expansion."""
    d = _t(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.md5(F.encode("text", "UTF-8")).alias("h")
    )
    index = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select(F.md5(F.encode("text", "UTF-8")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    return (
        new.join(index, "h", "left_anti")
        .select("doc_id", "h", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") == 1)
        .select("doc_id", "h")
        .orderBy("doc_id")
    )


@query(window=True, oracle="""
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), grams AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(ws[i:i+7], ' ')) AS g
        FROM ws, LATERAL unnest(generate_series(1, len(ws) - 7)) AS t(i)
        WHERE len(ws) >= 8
    ), counted AS (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY g) AS cnt
        FROM grams
    ), hits AS (
        SELECT doc_id, pos FROM counted WHERE cnt >= 2
    ), islands AS (
        SELECT doc_id, pos,
               CASE WHEN pos <= coalesce(max(pos + 7) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), -1) + 1
                    THEN 0 ELSE 1 END AS new_island
        FROM hits
    ), numbered AS (
        SELECT doc_id, pos,
               sum(new_island) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM islands
    )
    SELECT doc_id,
           CAST(min(pos) AS INT) AS span_start,
           CAST(max(pos) + 7 AS INT) AS span_end,
           CAST(count(*) AS INT) AS n_grams
    FROM numbered GROUP BY doc_id, island
    ORDER BY doc_id, span_start
""")
def _q_dup_spans(spark, sf_dir):
    """Exact duplicated-substring SPAN MARKING (the Lee et al.
    'Deduplicating Training Data' primitive): every maximal run of
    word 8-grams that occurs >= 2 times corpus-wide is emitted as a
    removable (doc_id, span_start, span_end) interval.

    Scale shape: two-phase gram counting (partial agg + semi join,
    see _dup_gram_hits — hot grams collapse map-side, the join is
    AQE-skew-splittable); island-merging is a per-document window
    (partitioned by doc).  Integer-exact."""
    d = _t(spark, sf_dir, "documents")
    k = 8
    hits = _dup_gram_hits(d, k)
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "new_island",
        F.when(F.col("pos") <= F.coalesce(prev_end, F.lit(-1)) + 1, 0).otherwise(1),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("int").alias("span_end"),
            F.count("*").cast("int").alias("n_grams"),
        )
        .drop("island")
        .orderBy("doc_id", "span_start")
    )


@query(window=True, oracle="""
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), grams AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(ws[i:i+7], ' ')) AS g
        FROM ws, LATERAL unnest(generate_series(1, len(ws) - 7)) AS t(i)
        WHERE len(ws) >= 8
    ), counted AS (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY g) AS cnt
        FROM grams
    ), hits AS (
        SELECT doc_id, pos FROM counted WHERE cnt >= 2
    ), islands AS (
        SELECT doc_id, pos,
               CASE WHEN pos <= coalesce(max(pos + 7) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), -1) + 1
                    THEN 0 ELSE 1 END AS new_island
        FROM hits
    ), numbered AS (
        SELECT doc_id, pos,
               sum(new_island) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM islands
    ), spans AS (
        SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
        FROM numbered GROUP BY doc_id, island
    ), words AS (
        SELECT doc_id, i AS pos, ws[i] AS word, len(ws) AS n_words
        FROM ws, LATERAL unnest(generate_series(1, len(ws))) AS t(i)
    ), flagged AS (
        SELECT wd.*,
               NOT EXISTS (SELECT 1 FROM spans s
                           WHERE s.doc_id = wd.doc_id
                             AND wd.pos BETWEEN s.s AND s.e) AS keep
        FROM words wd
    )
    SELECT doc_id,
           CAST(max(n_words) AS INT) AS n_words,
           CAST(max(n_words)
                - count(CASE WHEN keep THEN 1 END) AS INT) AS n_removed,
           md5(coalesce(string_agg(CASE WHEN keep THEN word END,
                                   ' ' ORDER BY pos), '')) AS new_md5
    FROM flagged GROUP BY doc_id ORDER BY doc_id
""")
def _q_dedup_apply_spans(spark, sf_dir):
    """Exact duplicated-substring REMOVAL (completes the Lee et al.
    mark -> cut loop of dup_spans): every word covered by a marked span
    is dropped and the document re-joined; output is md5-witnessed so
    the oracle proves the exact same post-cut text.

    Scale shape: the span marking reuses dup_spans' two-phase plan
    (_dup_gram_hits: partial-agg gram counting + AQE-skew-splittable
    semi join, no pair expansion); spans per document are bounded by
    document length, so the per-doc collect_list is small; the cut is
    one JVM higher-order filter — narrow, no extra shuffle beyond the
    doc-key group."""
    d = _t(spark, sf_dir, "documents")
    k = 8
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    hits = _dup_gram_hits(d, k)
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        hits.withColumn(
            "new_island",
            F.when(F.col("pos") <= F.coalesce(prev_end, F.lit(-1)) + 1, 0)
            .otherwise(1),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + (k - 1)).alias("e"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("spans"))
    )
    cut = ws.join(spans, "doc_id", "left").select(
        "doc_id",
        F.size("ws").alias("n_words"),
        F.expr(
            "transform(filter(transform(ws, (w, i) -> struct(w AS w, i + 1 AS p)),"
            " p -> spans IS NULL OR NOT exists(spans,"
            " s -> p.p >= s.s AND p.p <= s.e)), x -> x.w)"
        ).alias("kept"),
    )
    return cut.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        (F.col("n_words") - F.size("kept")).cast("int").alias("n_removed"),
        F.md5(F.array_join("kept", " ")).alias("new_md5"),
    ).orderBy("doc_id")


@query(oracle="""
    WITH RECURSIVE grams AS (
        SELECT doc_id, source,
               list(DISTINCT substring(text, i, 3)) AS gs
        FROM (SELECT doc_id, source, text,
                     unnest(generate_series(
                         1, greatest(length(text) - 2, 1))) AS i
              FROM documents)
        GROUP BY doc_id, source
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM grams a JOIN grams b
          ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE 5 * len(list_intersect(a.gs, b.gs))
              >= 3 * (len(a.gs) + len(b.gs)
                      - len(list_intersect(a.gs, b.gs)))
    ), e AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(id, r) AS (
        SELECT src, src FROM e
        UNION
        SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
    )
    SELECT id AS doc_id, min(r) AS component
    FROM reach GROUP BY id ORDER BY doc_id
""")
def _q_dup_components_host(spark, sf_dir):
    """Near-dup clusters: the oracled within-host Jaccard pairs form the
    edge set; min-label propagation finds components (the canonical-doc
    grouping every dedup pipeline needs after pair generation).  Oracle:
    DuckDB recursive CTE over the same pair SQL."""
    from ocr_pipeline_spark.operators.components import connected_components
    from ocr_pipeline_spark.operators.text_ops import blocked_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = blocked_jaccard_pairs(
        d, "doc_id", "text", "source", threshold_num=3, threshold_den=5
    )
    return (
        connected_components(pairs)
        .select(F.col("id").alias("doc_id"), F.col("comp").alias("component"))
        .orderBy("doc_id")
    )


@query(window=True, oracle="""
    WITH RECURSIVE grams AS (
        SELECT doc_id, source,
               list(DISTINCT substring(text, i, 3)) AS gs
        FROM (SELECT doc_id, source, text,
                     unnest(generate_series(
                         1, greatest(length(text) - 2, 1))) AS i
              FROM documents)
        GROUP BY doc_id, source
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM grams a JOIN grams b
          ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE 5 * len(list_intersect(a.gs, b.gs))
              >= 3 * (len(a.gs) + len(b.gs)
                      - len(list_intersect(a.gs, b.gs)))
    ), e AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(id, r) AS (
        SELECT src, src FROM e
        UNION
        SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
    ), comp AS (
        SELECT id, min(r) AS comp FROM reach GROUP BY id
    ), sizes AS (
        SELECT comp, count(*) AS cluster_size
        FROM comp GROUP BY comp
    )
    SELECT d.doc_id,
           CAST(coalesce(s.cluster_size, 1) AS BIGINT)
               AS cluster_size,
           CAST(1 AS DOUBLE)
               / CAST(coalesce(s.cluster_size, 1) AS DOUBLE)
               AS weight
    FROM documents d
    LEFT JOIN comp c ON c.id = d.doc_id
    LEFT JOIN sizes s ON s.comp = c.comp
    ORDER BY d.doc_id
""")
def _q_dedup_soft_weights(spark, sf_dir):
    """Soft deduplication (X62): instead of DROPPING near-duplicates,
    every document keeps a training weight 1/|cluster| so each near-dup
    cluster contributes exactly one document's worth of sampling mass —
    the duplicate-reweighting retention policy modern curation pipelines
    use when hard dedup would discard rare in-cluster variation (public
    analog: DataComp-LM's soft dedup option; Nemotron-CC keeps
    duplicates with scaled counts).  Edges are the oracled within-host
    Jaccard pairs, clusters are min-label components, and unimplicated
    docs weigh 1.0.  The weight is one IEEE division of two exact
    integers, so the DuckDB twin agrees to the compare's 6-sig-fig
    normalization with no rounding games.

    Scale shape: cluster sizing is a partial-aggregated count over the
    (id, component) labels — O(docs-in-clusters) rows, never text —
    joined back to the label table and LEFT-joined to the corpus on its
    id; the documents themselves never reshuffle.  At 10^12 docs the
    added cost over component-finding is two keyed exchanges of long
    pairs."""
    from ocr_pipeline_spark.operators.components import connected_components
    from ocr_pipeline_spark.operators.text_ops import blocked_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = blocked_jaccard_pairs(
        d, "doc_id", "text", "source", threshold_num=3, threshold_den=5
    )
    comp = connected_components(pairs)
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    labeled = comp.join(sizes, "comp").select(
        F.col("id").alias("doc_id"), "cluster_size"
    )
    return (
        d.select("doc_id")
        .join(labeled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_size"), F.lit(1))
            .cast("long")
            .alias("cluster_size"),
            (
                F.lit(1.0)
                / F.coalesce(F.col("cluster_size"), F.lit(1)).cast("double")
            ).alias("weight"),
        )
        .orderBy("doc_id")
    )


@query(window=True, oracle="""
    WITH keyed AS (
        SELECT doc_id, md5(text) AS key FROM documents
    ), build AS (
        SELECT DISTINCT key FROM keyed WHERE doc_id % 10 != 9
    ), probe AS (
        SELECT doc_id, key FROM keyed
        WHERE doc_id % 10 IN (4, 9)
    ), js AS (
        SELECT unnest(generate_series(0, 3)) AS j
    ), bits AS (
        SELECT DISTINCT j,
               ('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                                   || key), 1, 4))::BIGINT AS pos,
               1 AS hit
        FROM build, js
    ), probed AS (
        SELECT p.doc_id, p.key, js.j,
               ('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':'
                                   || p.key), 1, 4))::BIGINT AS pos
        FROM probe p, js
    ), hits AS (
        SELECT doc_id, key,
               sum(CASE WHEN bits.hit IS NOT NULL
                        THEN 1 ELSE 0 END) AS n_hits
        FROM probed
        LEFT JOIN bits ON probed.j = bits.j
                     AND probed.pos = bits.pos
        GROUP BY doc_id, key
    )
    SELECT h.doc_id,
           (n_hits = 4) AS bloom_maybe,
           (b.key IS NOT NULL) AS present,
           (n_hits = 4 AND b.key IS NULL) AS false_positive
    FROM hits h LEFT JOIN build b ON h.key = b.key
    ORDER BY h.doc_id
""")
def _q_bloom_dedup_probe(spark, sf_dir):
    """X69: Bloom-filter membership probe for incremental dedup — the
    third fixed-memory sketch beside HLL (host_url_hll) and Count-Min
    (heavy_hitters_cms), and the structure crawl pipelines actually
    ship to frontier nodes so a new batch can be screened against a
    10^12-key seen-set without a join against the corpus.  Built from
    scratch and deterministic: m = 2^16 bits, k = 4 hashes, bit
    positions are the first 4 hex chars of md5(j ':' key) — the DuckDB
    twin rebuilds the identical bit set, so the per-document verdicts
    hash-match exactly.  Probe batch = docs with doc_id%10 in (4, 9):
    the %10==4 slice is ALSO in the build set (guaranteed true
    positives, proving no-false-negatives), the %10==9 slice is novel
    (any 'maybe' there is a measured false positive — the sketch's
    one-sided error, reported per row).

    Scale shape: the build side collapses to DISTINCT (j, pos) bit
    rows — at most m*k = 262144 regardless of corpus size — which
    broadcasts to the probe side; the probe is one broadcast-join +
    per-key count.  The corpus-sized work is exactly two scans and one
    partial-agg distinct; nothing pairwise, nothing driver-side."""
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", F.md5(F.encode("text", "UTF-8")).alias("key")
    )
    build_keys = (
        keyed.filter(F.col("doc_id") % 10 != 9).select("key").distinct()
    )
    probe = keyed.filter(
        (F.col("doc_id") % 10 == 9) | (F.col("doc_id") % 10 == 4)
    )
    js = spark.range(4).select(F.col("id").cast("int").alias("j"))

    def _positions(df):
        return df.crossJoin(F.broadcast(js)).withColumn(
            "pos",
            F.expr(
                "cast(conv(substring(md5(concat(cast(j as string), ':', key)),"
                " 1, 4), 16, 10) as long)"
            ),
        )

    bits = _positions(build_keys).select("j", "pos").distinct()
    hits = (
        _positions(probe)
        .join(F.broadcast(bits.withColumn("hit", F.lit(1))), ["j", "pos"],
              "left")
        .groupBy("doc_id", "key")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"))
    )
    truth = build_keys.withColumn("present", F.lit(True))
    return (
        hits.join(truth, "key", "left")
        .select(
            "doc_id",
            (F.col("n_hits") == 4).alias("bloom_maybe"),
            F.coalesce(F.col("present"), F.lit(False)).alias("present"),
            (
                (F.col("n_hits") == 4)
                & ~F.coalesce(F.col("present"), F.lit(False))
            ).alias("false_positive"),
        )
        .orderBy("doc_id")
    )
