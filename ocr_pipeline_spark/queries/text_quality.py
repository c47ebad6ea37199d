"""Text-quality queries: heuristic filters, language id, PII scrubbing,
classifier and LM scores, decontamination and data mixing."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_pipeline_spark.queries.registry import _WITNESS_DIR, _t, query, witness


_GOPHER_STOPS = ("and", "be", "have", "of", "that", "the", "to", "with")


def _lang_pred_oracle_sql() -> str:
    """DuckDB replica of text_ops.identify_language: per-token stopword
    vote per language, best = max by (score, lang) — i.e. ties go to the
    lexicographically GREATEST language code, 0 votes (or no words) ->
    'und'.  Profiles are imported from the kernel so oracle and Spark
    can't drift."""
    from ocr_pipeline_spark.operators.text_ops import _LANG_PROFILES, _WORD_RE

    pattern = _WORD_RE.pattern
    score_cols = ", ".join(
        "sum(CASE WHEN w IN ({lst}) THEN 1 ELSE 0 END) AS s_{lang}".format(
            lst=", ".join(f"'{word}'" for word in sorted(profile)), lang=lang
        )
        for lang, profile in sorted(_LANG_PROFILES.items())
    )
    unpivot = " UNION ALL ".join(
        f"SELECT doc_id, '{lang}' AS lang, s_{lang} AS s FROM scores"
        for lang in sorted(_LANG_PROFILES)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{pattern}')) AS w
            FROM documents
        ), scores AS (
            SELECT doc_id, {score_cols} FROM toks GROUP BY doc_id
        ), unp AS ({unpivot}),
        best AS (
            SELECT doc_id, lang, s,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY s DESC, lang DESC) AS rn
            FROM unp
        )
        SELECT d.doc_id,
               CASE WHEN b.s IS NULL OR b.s = 0 THEN 'und' ELSE b.lang END
                   AS lang_pred
        FROM documents d
        LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
        ORDER BY d.doc_id
    """


@query(oracle="""
    WITH tok AS (
        SELECT lang,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+'))
               END AS n_tokens
        FROM documents
    )
    SELECT lang,
           round(avg(n_tokens), 2) AS avg_tokens,
           max(n_tokens) AS max_tokens,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM tok
    GROUP BY lang
    ORDER BY lang
""")
def _q_token_stats(spark, sf_dir):
    from ocr_pipeline_spark.operators.text_ops import token_count

    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("n_tokens", token_count(F.col("text")))
        .groupBy("lang")
        .agg(
            F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("lang")
    )


@query(oracle="""
    WITH feat AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+'))
               END AS n_tokens,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text)
               END AS araw,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0 / length(text)
               END AS praw,
               length(text) AS n_len
        FROM documents
    )
    SELECT doc_id, n_tokens,
           round(araw, 4) AS alpha_ratio,
           round(praw, 4) AS punct_ratio,
           (n_len >= 200 AND n_tokens >= 30 AND araw > 0.6 AND praw < 0.1)
               AS is_quality
    FROM feat
    ORDER BY doc_id
""")
def _q_quality_scores(spark, sf_dir):
    from ocr_pipeline_spark.operators.text_ops import (
        alpha_ratio,
        punct_ratio,
        quality_flag,
        token_count,
    )

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.round(alpha_ratio(F.col("text")), 4).alias("alpha_ratio"),
        F.round(punct_ratio(F.col("text")), 4).alias("punct_ratio"),
        quality_flag(F.col("text")).alias("is_quality"),
    ).orderBy("doc_id")


@query(window=True, oracle=witness(
    "fuzzy_decontamination", "doc_id, ref_id, jaccard", "doc_id, ref_id"
))
def _q_fuzzy_decontamination(spark, sf_dir):
    """X60: fuzzy benchmark decontamination — corpus documents that are
    NEAR-duplicates of a held-out eval set (doc_id % 97 == 0, the same
    stand-in contamination_check uses) under MinHash-LSH banding with
    exact char-3-gram Jaccard verification at 0.5.  Paraphrased or
    lightly-edited eval leaks survive the exact-gram check; this is the
    pass that catches them.  Deterministic leaks are injected first:
    corpus docs with doc_id % 89 == 0 (and not themselves eval) take
    the text of eval doc 97*(doc_id % 6) plus eight of their own words
    — near-dup but not exact.

    Scale shape: the eval side is SMALL by definition (benchmarks), so
    its band table and texts are BROADCAST; the corpus is banded by the
    same narrow kernel and probes the broadcast buckets — bipartite,
    never a self-join, no intra-bucket pair explosion, no hot-bucket
    policy needed (operators/text_ops.cross_corpus_near_dups).  Oracle:
    golden witness from the single-process twin
    (scripts/gen_witness.py)."""
    from ocr_pipeline_spark.operators.text_ops import cross_corpus_near_dups

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("ref_id"), F.col("text").alias("ref_text")
    )
    first8 = F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))
    injected = (
        d.withColumn("_pick", ((F.col("doc_id") % 6) * 97).cast("long"))
        .join(F.broadcast(ev), F.col("_pick") == F.col("ref_id"), "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 89 == 0)
                & (F.col("doc_id") % 97 != 0)
                & F.col("ref_text").isNotNull(),
                F.concat(F.col("ref_text"), F.lit(" "), first8),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    corpus = injected.filter(F.col("doc_id") % 97 != 0)
    return cross_corpus_near_dups(
        corpus, ev.select("ref_id", F.col("ref_text").alias("text")),
        corpus_id="doc_id", ref_id="ref_id", threshold=0.5,
    ).orderBy("doc_id", "ref_id")


@query(oracle="""
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), words AS (
        SELECT doc_id, unnest(ws) AS w FROM ws
    ), topw AS (
        SELECT doc_id, max(c) AS top_word_count FROM (
            SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
        ) GROUP BY doc_id
    ), bigrams AS (
        SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
        FROM ws, LATERAL unnest(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 2
    ), topb AS (
        SELECT doc_id, max(c) AS top_bigram_count FROM (
            SELECT doc_id, g, count(*) AS c FROM bigrams GROUP BY doc_id, g
        ) GROUP BY doc_id
    )
    SELECT ws.doc_id,
           CAST(len(ws) AS INT) AS n_words,
           CAST(len(list_distinct(ws)) AS INT) AS n_distinct_words,
           coalesce(topw.top_word_count, 0) AS top_word_count,
           coalesce(topb.top_bigram_count, 0) AS top_bigram_count
    FROM ws
    LEFT JOIN topw ON ws.doc_id = topw.doc_id
    LEFT JOIN topb ON ws.doc_id = topb.doc_id
    ORDER BY ws.doc_id
""")
def _q_repetition_stats(spark, sf_dir):
    """Gopher/C4-style repetition signals per document: word count,
    distinct-word count, top word frequency, top bigram frequency —
    the standard filters for templated/spammy text.  Integer-exact
    (counts only, tie-independent).  Scale shape: explode + partial-agg
    group-bys (map-side combine), never per-doc quadratic HOFs."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    words = ws.select("doc_id", F.explode("ws").alias("w"))
    top_word = (
        words.groupBy("doc_id", "w").count()
        .groupBy("doc_id").agg(F.max("count").alias("top_word_count"))
    )
    bigrams = ws.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.expr(
                    "transform(sequence(1, size(ws) - 1), "
                    "i -> array_join(slice(ws, i, 2), ' '))"
                ),
            ).otherwise(F.expr("array()"))
        ).alias("g"),
    )
    top_bigram = (
        bigrams.groupBy("doc_id", "g").count()
        .groupBy("doc_id").agg(F.max("count").alias("top_bigram_count"))
    )
    base = ws.select(
        "doc_id",
        F.size("ws").alias("n_words"),
        F.size(F.array_distinct("ws")).alias("n_distinct_words"),
    )
    return (
        base.join(top_word, "doc_id", "left")
        .join(top_bigram, "doc_id", "left")
        .select(
            "doc_id", "n_words", "n_distinct_words",
            F.coalesce("top_word_count", F.lit(0)).alias("top_word_count"),
            F.coalesce("top_bigram_count", F.lit(0)).alias("top_bigram_count"),
        )
        .orderBy("doc_id")
    )


@query(oracle=r"""
    WITH inj AS (
        SELECT doc_id,
               CASE
                 WHEN doc_id % 4 = 0 THEN text || ' contact user'
                      || CAST(doc_id AS VARCHAR) || '@example.com now'
                 WHEN doc_id % 4 = 1 THEN text || ' server at 10.0.'
                      || CAST(doc_id % 256 AS VARCHAR) || '.'
                      || CAST(doc_id % 100 AS VARCHAR) || ' port'
                 WHEN doc_id % 4 = 2 THEN text || ' call +1-555-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      || ' today'
                 ELSE text
               END AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
               AS INT) AS n_ips,
           CAST(len(regexp_extract_all(t, '\+1-555-\d{4}'))
               AS INT) AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '[EMAIL]', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
               '\+1-555-\d{4}', '[PHONE]', 'g')) AS scrubbed_md5
    FROM inj ORDER BY doc_id
""")
def _q_pii_scrub(spark, sf_dir):
    """PII detection + redaction (training-data hygiene): deterministic
    synthetic PII is injected per doc_id (emails/IPs/phones), then
    counted and scrubbed with the same regexes in Spark and DuckDB;
    the scrubbed text is witnessed by md5 so the oracle proves
    byte-equal redaction.  All JVM expressions — regexp_count /
    regexp_replace — no Python."""
    d = _t(spark, sf_dir, "documents")
    injected = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"),
                F.col("doc_id").cast("string"), F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.col("text"), F.lit(" server at 10.0."),
                (F.col("doc_id") % 256).cast("string"), F.lit("."),
                (F.col("doc_id") % 100).cast("string"), F.lit(" port"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.col("text"), F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        )
        .otherwise(F.col("text"))
    )
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ip_re = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    phone_re = r"\+1-555-\d{4}"
    with_inj = d.select("doc_id", injected.alias("t"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), email_re, "[EMAIL]"),
            ip_re, "[IP]",
        ),
        phone_re, "[PHONE]",
    )
    return with_inj.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(email_re)).alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(ip_re)).alias("n_ips"),
        F.regexp_count(F.col("t"), F.lit(phone_re)).alias("n_phones"),
        F.md5(F.encode(scrubbed, "UTF-8")).alias("scrubbed_md5"),
    ).orderBy("doc_id")


@query(oracle="""
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(ws[i:i+2], ' ') AS g
        FROM ws, LATERAL unnest(generate_series(1, len(ws) - 2)) AS t(i)
        WHERE len(ws) >= 3
    ), bench AS (
        SELECT g AS bg, doc_id AS bid FROM grams WHERE doc_id % 97 = 0
    )
    SELECT grams.doc_id,
           count(DISTINCT g) AS n_shared_grams,
           count(DISTINCT bid) AS n_bench_docs
    FROM grams JOIN bench ON g = bg AND grams.doc_id != bid
    GROUP BY grams.doc_id ORDER BY grams.doc_id
""")
def _q_contamination_check(spark, sf_dir):
    """Benchmark-contamination detection: documents sharing any word
    3-gram with the held-out eval set (doc_id % 97 == 0 — the
    deterministic stand-in for a benchmark suite; real pipelines use
    8-13-grams on longer docs).  Scale shape: the eval side is small
    by construction, so the gram join is a BROADCAST hash join — no
    shuffle of the corpus gram stream."""
    d = _t(spark, sf_dir, "documents")
    # split ONCE into a column: slicing `split(text)` inside the
    # transform lambda re-tokenizes the doc per gram index (O(words^2)
    # splits — measured 21 s vs 0.4 s at sf0.1)
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    grams = ws.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    F.size("ws") >= 3,
                    F.expr(
                        "transform(sequence(1, size(ws) - 2), "
                        "i -> array_join(slice(ws, i, 3), ' '))"
                    ),
                ).otherwise(F.expr("array()"))
            )
        ).alias("g"),
    )
    bench = grams.filter(F.col("doc_id") % 97 == 0).select(
        F.col("g").alias("bg"), F.col("doc_id").alias("bid")
    )
    hits = grams.join(
        F.broadcast(bench),
        (F.col("g") == F.col("bg")) & (F.col("doc_id") != F.col("bid")),
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_shared_grams"),
            F.countDistinct("bid").alias("n_bench_docs"),
        )
        .orderBy("doc_id")
    )


@query(oracle="""
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), grams AS (
        SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
        FROM ws, LATERAL unnest(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 2
    ), counts AS (
        SELECT g, count(*) AS c FROM grams
        WHERE doc_id % 10 < 8 GROUP BY g
    ), per_doc AS (
        SELECT grams.doc_id,
               CAST(sum(length(bin(coalesce(counts.c, 0) + 1)) - 1)
                    AS BIGINT) AS llq_sum,
               count(*) AS n_grams
        FROM grams LEFT JOIN counts ON grams.g = counts.g
        GROUP BY grams.doc_id
    )
    SELECT d.doc_id,
           coalesce(per_doc.llq_sum, 0) AS llq_sum,
           coalesce(per_doc.n_grams, 0) AS n_grams,
           CASE WHEN per_doc.n_grams > 0
                THEN per_doc.llq_sum / per_doc.n_grams
                ELSE NULL END AS avg_llq
    FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
    ORDER BY d.doc_id
""")
def _q_lm_score(spark, sf_dir):
    """CCNet-style LM quality scoring (X38), fully distributed: train a
    bigram language model on the corpus's own train split (doc_id % 10
    < 8) via one partial-aggregated gram count, then score EVERY
    document by its average gram weight.  Weights are the
    integer-quantized log-likelihood floor(log2(count + 1)) — computed
    as length(bin(c + 1)) - 1, which is integer-exact in both engines,
    so the distributed per-doc sum is order-independent and the DuckDB
    oracle hash-proves it (a libm-log variant differs only by
    quantization; the filter consumer thresholds the average either
    way).  OOV grams weigh 0; docs with < 2 words score NULL.

    Scale shape: gram counting is one partial-aggregated group-by; the
    scoring join is keyed on the gram (AQE broadcasts it when the
    pruned LM is small, bucketed co-location otherwise); the per-doc
    aggregate is partial-aggregated integer sums.  Never a collect,
    never a corpus broadcast — the model never leaves the cluster."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    grams = ws.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("ws") >= 2,
                F.expr(
                    "transform(sequence(1, size(ws) - 1), "
                    "i -> array_join(slice(ws, i, 2), ' '))"
                ),
            ).otherwise(F.expr("array()"))
        ).alias("g"),
    )
    counts = (
        grams.filter(F.col("doc_id") % 10 < 8)
        .groupBy("g")
        .agg(F.count("*").alias("c"))
    )
    weight = F.length(F.bin(F.coalesce(F.col("c"), F.lit(0)) + 1)) - 1
    per_doc = (
        grams.join(counts, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(weight).alias("llq_sum"),
            F.count("*").alias("n_grams"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("llq_sum", F.lit(0)).alias("llq_sum"),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.when(
                F.col("n_grams") > 0, F.col("llq_sum") / F.col("n_grams")
            ).alias("avg_llq"),
        )
        .orderBy("doc_id")
    )


@query(oracle=f"""
    SELECT doc_id, n_bytes, n_compressed,
           CASE WHEN n_bytes > 0
                THEN n_compressed / n_bytes
                ELSE NULL END AS ratio
    FROM read_parquet('{_WITNESS_DIR}/compression_signal.parquet')
    ORDER BY doc_id
""")
def _q_compression_signal(spark, sf_dir):
    """Gopher-style compression-ratio quality signal (X37): zlib-6
    compressed size over raw UTF-8 size per document — repetitive
    templated/spam text compresses far below prose, making the ratio a
    standard corpus-hygiene filter.  Narrow Arrow kernel, no shuffle;
    oracled by a golden witness from the single-process twin
    (scripts/gen_witness.py, freshness-pinned).  The ratio is one IEEE
    division of the witnessed integers, so it hashes identically."""
    from ocr_pipeline_spark.operators.text_ops import compression_signal_kernel

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sig = d.mapInPandas(
        compression_signal_kernel(),
        schema="doc_id long, n_bytes long, n_compressed long",
    )
    return sig.select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        F.when(
            F.col("n_bytes") > 0, F.col("n_compressed") / F.col("n_bytes")
        ).alias("ratio"),
    ).orderBy("doc_id")


@query(oracle="""
    WITH tagged AS (
        SELECT doc_id, source,
               CAST(len(list_filter(
                   list_filter(string_split(text, ' '),
                               w -> length(w) > 0),
                   w -> w IN ('slow', 'spam', 'junk')
               )) AS INT) AS hits,
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> length(w) > 0))
                    AS INT) AS n_words
        FROM documents
    )
    SELECT doc_id, source, hits, n_words,
           CAST(source IN ('src7', 'src13')
                OR 20 * hits >= n_words AS INT) AS blocked
    FROM tagged ORDER BY doc_id
""")
def _q_blocklist_tags(spark, sf_dir):
    """X41: word-list + source blocklist tagging — the C4 "bad words" /
    RefinedWeb URL-blocklist filter shape.  Per document: blocked-term
    hits, word count, and the verdict — blocked if the source is on the
    blocklist or blocked terms are >=5% of words (integer cross-
    multiplied predicate, no float threshold, so the oracle is exact).

    Scale shape: the lexicon and source list ride the plan as literals
    (a real deployment swaps them for a broadcast join against a
    blocklist table); one narrow projection, no shuffle at all — the
    tagger is a map over the scan."""
    d = _t(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    return (
        d.select(
            "doc_id",
            "source",
            F.size(
                F.filter(ws, lambda w: w.isin("slow", "spam", "junk"))
            ).alias("hits"),
            F.size(ws).alias("n_words"),
        )
        .withColumn(
            "blocked",
            (
                F.col("source").isin("src7", "src13")
                | (20 * F.col("hits") >= F.col("n_words"))
            ).cast("int"),
        )
        .orderBy("doc_id")
    )


@query(oracle="""
    WITH per_lang AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(list_filter(string_split(text, ' '),
                                        w -> length(w) > 0)))
                    AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    ), mx AS (
        SELECT max(sqrt(CAST(n_tokens AS DOUBLE))) AS w_max
        FROM per_lang
    )
    SELECT lang, n_docs, n_tokens,
           sqrt(CAST(n_tokens AS DOUBLE)) / w_max AS rel_weight
    FROM per_lang, mx ORDER BY lang
""")
def _q_mixing_weights(spark, sf_dir):
    """X42: temperature-based language-mixing weights — the multilingual
    sampling table (weight ∝ count^alpha, alpha=1/2 flattens the head so
    low-resource languages are upsampled; XLM/mT5 recipe).  Exact float
    path: sqrt is IEEE-correctly-rounded in both engines, max is a
    selection, and the only other float op is ONE division by the
    max-language weight — no order-dependent float sum anywhere, so the
    oracle hash-matches bit-for-bit.

    Scale shape: one partial-aggregated group-by down to |langs| rows,
    then a broadcast cross join for the max — nothing but the tiny lang
    table ever moves."""
    d = _t(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    per_lang = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(ws)).alias("n_tokens"),
    )
    mx = per_lang.agg(
        F.max(F.sqrt(F.col("n_tokens").cast("double"))).alias("w_max")
    )
    return (
        per_lang.crossJoin(F.broadcast(mx))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            (
                F.sqrt(F.col("n_tokens").cast("double")) / F.col("w_max")
            ).alias("rel_weight"),
        )
        .orderBy("lang")
    )


@query(window=True, oracle="""
    WITH ws AS (
        SELECT doc_id, lang, string_split(text, ' ') AS ws
        FROM documents
    ), grams AS (
        SELECT doc_id, lang, unnest(ws) AS g FROM ws
        UNION ALL
        SELECT doc_id, lang, ws[i] || ' ' || ws[i + 1] AS g
        FROM ws, LATERAL unnest(generate_series(1, len(ws) - 1))
                  AS t(i)
        WHERE len(ws) >= 2
    ), feats AS (
        SELECT doc_id, lang,
               ((strpos('0123456789abcdef', substr(md5(g), 1, 1))
                 - 1) * 256
              + (strpos('0123456789abcdef', substr(md5(g), 2, 1))
                 - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(g), 3, 1))
                 - 1)) % 1024 AS b
        FROM grams
    ), stats AS (
        SELECT b, count(*) AS c_raw,
               count(CASE WHEN lang = 'en' THEN 1 END) AS c_tgt
        FROM feats GROUP BY b
    ), weighted AS (
        SELECT feats.doc_id,
               CAST(sum((length(bin(c_tgt + 1)) - 1)
                      - (length(bin(c_raw + 1)) - 1))
                    AS BIGINT) AS llr_sum,
               count(*) AS n_feats
        FROM feats JOIN stats USING (b)
        GROUP BY feats.doc_id
    ), tot AS (
        SELECT CAST(sum(llr_sum) AS BIGINT) AS tot_llr,
               CAST(sum(n_feats) AS BIGINT) AS tot_feats
        FROM weighted
    )
    SELECT d.doc_id,
           coalesce(w.llr_sum, 0) AS llr_sum,
           coalesce(w.n_feats, 0) AS n_feats,
           CASE WHEN w.n_feats > 0
                THEN w.llr_sum / w.n_feats END AS avg_llr,
           coalesce(w.llr_sum, 0) * tot.tot_feats
               > tot.tot_llr * coalesce(w.n_feats, 0) AS keep
    FROM documents d
    LEFT JOIN weighted w ON d.doc_id = w.doc_id
    CROSS JOIN tot
    ORDER BY d.doc_id
""")
def _q_dsir_weights(spark, sf_dir):
    """X45: DSIR importance-resampling weights (Xie et al. 2023 shape):
    hashed-n-gram likelihood ratio between a target slice (lang='en' —
    "make the raw crawl look like the curated target") and the raw
    corpus, summed per document.  Features are word uni+bigrams hashed
    to 1024 buckets (first 3 md5 hex digits, engine-portable); per-
    bucket weight is the integer-quantized log-likelihood ratio
    floor(log2(c_target+1)) - floor(log2(c_raw+1)) via length(bin(c+1)),
    so every cross-row sum is an order-independent integer sum and the
    DuckDB oracle hash-proves the whole pipeline.  The resampling
    verdict `keep` (doc's avg weight above the corpus mean) is a
    cross-multiplied integer comparison — no float aggregate anywhere.

    Scale shape: the exploded gram stream is aggregated ONCE to
    (doc_id, lang, b, cnt) — bounded at <=1024 rows per document —
    and BOTH consumers (the 1024-row bucket stats and the per-doc
    weighted sum) read that same aggregate: the two branches share an
    identical Exchange, so Spark's exchange reuse (ReusedExchange,
    on by default) runs the explode+md5 map stage once.  The r4 shape
    fed the raw gram stream to both consumers, paying the explode
    twice end-to-end.  Bucket stats broadcast back; the global scalar
    rides a broadcast cross join.  Nothing collects."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select("doc_id", "lang", F.split("text", " ").alias("ws"))
    grams = ws.select(
        "doc_id",
        "lang",
        F.explode(
            F.concat(
                F.col("ws"),
                F.when(
                    F.size("ws") >= 2,
                    F.expr(
                        "transform(sequence(1, size(ws) - 1), "
                        "i -> array_join(slice(ws, i, 2), ' '))"
                    ),
                ).otherwise(F.expr("array()")),
            )
        ).alias("g"),
    )
    feats = grams.select(
        "doc_id",
        "lang",
        # first 3 md5 hex digits -> 0..4095 -> % 1024; single md5 call
        # (the DuckDB twin derives the same integer digit-by-digit)
        (
            F.expr("cast(conv(substring(md5(g), 1, 3), 16, 10) as int)")
            % 1024
        ).alias("b"),
    )
    # single pass over the explode: collapse occurrences per
    # (doc_id, lang, b) first — both downstream consumers hang off
    # this one aggregate (identical Exchange -> ReusedExchange)
    per_doc = feats.groupBy("doc_id", "lang", "b").agg(
        F.count("*").alias("cnt")
    )
    stats = per_doc.groupBy("b").agg(
        F.sum("cnt").alias("c_raw"),
        F.sum(F.when(F.col("lang") == "en", F.col("cnt")).otherwise(0)).alias(
            "c_tgt"
        ),
    )
    qlog = lambda c: F.length(F.bin(c + 1)) - 1  # noqa: E731
    weighted = (
        per_doc.join(F.broadcast(stats), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("cnt") * (qlog(F.col("c_tgt")) - qlog(F.col("c_raw")))
            ).alias("llr_sum"),
            F.sum("cnt").alias("n_feats"),
        )
    )
    totals = weighted.agg(
        F.sum("llr_sum").alias("tot_llr"),
        F.sum("n_feats").alias("tot_feats"),
    )
    return (
        d.select("doc_id")
        .join(weighted, "doc_id", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.coalesce("llr_sum", F.lit(0)).alias("llr_sum"),
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            F.when(
                F.col("n_feats") > 0, F.col("llr_sum") / F.col("n_feats")
            ).alias("avg_llr"),
            (
                F.coalesce("llr_sum", F.lit(0)) * F.col("tot_feats")
                > F.col("tot_llr") * F.coalesce("n_feats", F.lit(0))
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


@query(window=True, oracle="""
    WITH kept AS (
        SELECT min(doc_id) AS doc_id,
               arg_min(lang, doc_id) AS lang
        FROM documents
        WHERE n_chars >= 120
        GROUP BY md5(text)
    ), ranked AS (
        SELECT lang, doc_id,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS INT) AS pick_rank
        FROM kept
    )
    SELECT lang, pick_rank, doc_id
    FROM ranked
    WHERE pick_rank <= 40
    ORDER BY lang, pick_rank
""")
def _q_corpus_curation(spark, sf_dir):
    """X55: the flagship curation COMPOSITION in one Catalyst plan —
    hygiene filter -> exact dedup (keep lowest doc_id per content
    hash) -> per-language content-addressed quota (40 docs/lang) —
    i.e. the standard corpus-build chain whose stage FAMILIES exist
    as individual oracled queries (cf. filter_funnel for the full
    multi-predicate hygiene report, dedup_exact, stratified_sample;
    this pipeline uses a single length predicate so each stage
    visibly changes the row set at the compare sf), fused to prove
    the stage shapes compose into a single lazily-planned pipeline a
    user would actually ship.

    Scale shape: narrow filter (reads only n_chars + the hash) ->
    ONE content-hash shuffle with map-side partial aggregation
    (min-struct keeps the winning doc, never a window over raw rows)
    -> ONE language-keyed window over the already-deduped survivors,
    quota rank content-addressed (md5 of doc_id: reproducible across
    runs, partitionings, and engines — never rand()).  Two keyed
    shuffles total; nothing collects; both hot keys (content hash,
    lang) are high-cardinality or quota-bounded."""
    from ocr_pipeline_spark.operators.text_ops import exact_dup_key

    d = _t(spark, sf_dir, "documents")
    kept = (
        d.filter(F.col("n_chars") >= 120)
        .groupBy(exact_dup_key(F.col("text")).alias("h"))
        .agg(F.min(F.struct("doc_id", "lang")).alias("s"))
        .select(F.col("s.doc_id").alias("doc_id"), F.col("s.lang").alias("lang"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        kept.withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= 40)
        .select("lang", "pick_rank", "doc_id")
        .orderBy("lang", "pick_rank")
    )


@query(oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           CAST(list_sum(list_transform(string_split(text, ' '),
                w -> (strpos('0123456789abcdef',
                             substr(md5('w' || w), 1, 1)) - 1) * 16
                   + strpos('0123456789abcdef',
                            substr(md5('w' || w), 2, 1)) - 1 - 128))
                AS BIGINT) AS score,
           CAST(list_sum(list_transform(string_split(text, ' '),
                w -> (strpos('0123456789abcdef',
                             substr(md5('w' || w), 1, 1)) - 1) * 16
                   + strpos('0123456789abcdef',
                            substr(md5('w' || w), 2, 1)) - 1 - 128))
                AS BIGINT) >= 0 AS label
    FROM documents
    ORDER BY doc_id
""")
def _q_classifier_scores(spark, sf_dir):
    """X46: hashed-feature linear classifier inference (the
    DCLM/FineWeb-Edu fastText-classifier shape): per-document quality
    score = sum over words of a weight looked up by feature hash.
    Weights here are synthesized deterministically from the feature
    hash itself (first two md5 hex digits - 128 -> [-128, 127]); a
    deployment swaps in trained weights as a broadcast array without
    changing the plan.  All-integer, so the score is order-independent
    and the DuckDB oracle hash-proves it.

    Scale shape: ZERO shuffles — score and verdict are computed per
    row with JVM higher-order functions (transform + aggregate) inside
    whole-stage codegen; inference cost is a pure map over the scan,
    exactly what classifier-filtering 100 TB requires."""
    d = _t(spark, sf_dir, "documents")
    w = (
        "(locate(substring(md5(concat('w', w)), 1, 1), "
        "'0123456789abcdef') - 1) * 16 "
        "+ locate(substring(md5(concat('w', w)), 2, 1), "
        "'0123456789abcdef') - 1 - 128"
    )
    score = F.expr(
        f"aggregate(transform(split(text, ' '), w -> {w}), "
        "0L, (acc, x) -> acc + x)"
    )
    return (
        d.select(
            "doc_id",
            F.size(F.split("text", " ")).alias("n_words"),
            score.alias("score"),
        )
        .withColumn("label", F.col("score") >= 0)
        .orderBy("doc_id")
    )


@query(oracle="""
    WITH flagged AS (
        SELECT doc_id, text, n_chars,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) > 1 AS is_dup,
               n_chars < 200 AS too_short,
               10 * length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                   < 6 * length(text) AS low_alpha
        FROM documents
    ), words AS (
        SELECT doc_id, is_dup, too_short, low_alpha,
               len(string_split(text, ' ')) AS n_words,
               unnest(string_split(text, ' ')) AS w
        FROM flagged
    ), wc AS (
        SELECT doc_id, is_dup, too_short, low_alpha, n_words, w,
               count(*) AS c
        FROM words
        GROUP BY doc_id, is_dup, too_short, low_alpha, n_words, w
    ), per_doc AS (
        SELECT doc_id, is_dup, too_short, low_alpha, n_words,
               max(c) AS top_wc
        FROM wc GROUP BY doc_id, is_dup, too_short, low_alpha, n_words
    ), staged AS (
        SELECT doc_id,
               CASE WHEN is_dup THEN '1_exact_dup'
                    WHEN too_short THEN '2_too_short'
                    WHEN low_alpha THEN '3_low_alpha'
                    WHEN 5 * top_wc > n_words THEN '4_repetitive'
                    ELSE 'kept' END AS stage
        FROM per_doc
    )
    SELECT stage, count(*) AS n_docs
    FROM staged GROUP BY stage ORDER BY stage
""")
def _q_filter_funnel(spark, sf_dir):
    """The corpus-filter FUNNEL report (Gopher/C4-style pipeline
    hygiene): documents flow through exact-dedup -> min-length ->
    alpha-ratio -> repetition filters in order; one row per stage with
    drop/survivor counts.  Every predicate is integer-exact (cross-
    multiplied ratios, no float thresholds) so the oracle hash-matches
    bit-for-bit.  Single pass: all flags computed in one projection +
    one window, then a conditional aggregation."""
    d = _t(spark, sf_dir, "documents")
    w_dup = Window.partitionBy(F.md5(F.encode("text", "UTF-8"))).orderBy(
        "doc_id"
    )
    ws = F.split("text", " ")
    flagged = (
        d.select("doc_id", "text", "n_chars")
        .withColumn("is_dup", F.row_number().over(w_dup) > 1)
        .withColumn("too_short", F.col("n_chars") < 200)
        .withColumn(
            "low_alpha",
            10 * F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
            < 6 * F.length("text"),
        )
        .withColumn("ws", ws)
    )
    words = flagged.select(
        "doc_id", "is_dup", "too_short", "low_alpha",
        F.size("ws").alias("n_words"),
        F.explode("ws").alias("w"),
    )
    wc = words.groupBy(
        "doc_id", "is_dup", "too_short", "low_alpha", "n_words", "w"
    ).count()
    per_doc = wc.groupBy(
        "doc_id", "is_dup", "too_short", "low_alpha", "n_words"
    ).agg(F.max("count").alias("top_wc"))
    staged = per_doc.select(
        "doc_id",
        F.when(F.col("is_dup"), "1_exact_dup")
        .when(F.col("too_short"), "2_too_short")
        .when(F.col("low_alpha"), "3_low_alpha")
        .when(5 * F.col("top_wc") > F.col("n_words"), "4_repetitive")
        .otherwise("kept")
        .alias("stage"),
    )
    return (
        staged.groupBy("stage")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("stage")
    )


@query(oracle=_lang_pred_oracle_sql)
def _q_lang_pred(spark, sf_dir):
    """Deterministic stopword-vote language ID (Arrow kernel), with an
    exact DuckDB oracle replicating the vote + tie-break in SQL."""
    from ocr_pipeline_spark.operators.text_ops import lang_id_kernel

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        lang_id_kernel(), schema="doc_id long, text string, lang_pred string"
    ).select("doc_id", "lang_pred").orderBy("doc_id")


@query(window=True, oracle="""
    WITH base AS (
        SELECT doc_id,
               string_split(text, ' ') AS ws,
               length(text) - length(replace(text, '#', ''))
                   AS n_hash,
               length(text) - length(replace(text, '...', ''))
                   AS ell_diff,
               length(text) - length(replace(text, ' ', ''))
                   AS n_spaces,
               length(text) AS n_chars
        FROM documents
    ), m AS (
        SELECT doc_id,
               len(ws) AS n_words,
               n_chars - n_spaces AS sum_wlen,
               len(list_filter(ws,
                   w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
               len(list_intersect(list_distinct(ws),
                   ['and', 'be', 'have', 'of', 'that', 'the',
                    'to', 'with'])) AS n_stops,
               n_hash, ell_diff
        FROM base
    )
    SELECT doc_id,
           CAST(n_words AS INT) AS n_words,
           (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
           (3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words)
               AS ok_mean_wlen,
           (5 * n_alpha >= 4 * n_words) AS ok_alpha_words,
           (n_stops >= 2) AS ok_stop_words,
           (10 * n_hash <= n_words
            AND 10 * ell_diff <= 3 * n_words) AS ok_symbols,
           (n_words >= 50 AND n_words <= 100000
            AND 3 * n_words <= sum_wlen
            AND sum_wlen <= 10 * n_words
            AND 5 * n_alpha >= 4 * n_words
            AND n_stops >= 2
            AND 10 * n_hash <= n_words
            AND 10 * ell_diff <= 3 * n_words) AS keep
    FROM m
    ORDER BY doc_id
""")
def _q_gopher_rules(spark, sf_dir):
    """X67: Gopher quality rules (Rae et al. 2021 §A1.1) — the published
    per-document repetition-free filter set modern curation stacks
    (Gopher, RefinedWeb, Dolma) apply before model-based scoring: word
    count in [50, 100k], mean word length in [3, 10], >= 80% of words
    contain an alphabetic character, >= 2 distinct required stop words,
    and a symbol-to-word lid on '#' and '...' (<= 0.1 per word;
    a higher ratio is rejected).  Every
    threshold is evaluated with CROSS-MULTIPLIED INTEGERS (3*n <= s,
    never s/n >= 3.0), so the flags are bit-identical across engines
    and partitionings — no float thresholds to drift.

    Complements filter_funnel (which reports pipeline ATTRITION through
    a different rule chain): this emits the per-rule verdict vector per
    document, the shape a curation pipeline joins back to the corpus as
    a filter mask.

    Scale shape: one narrow projection — split + JVM higher-order
    filter + array_intersect per row, no shuffle at all until the
    presentation sort; at 10^12 docs this is a pure map stage fused
    into the scan."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    n_hashes = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    ell_diff = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit("..."))
    )
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    base = d.select(
        "doc_id",
        ws.alias("ws"),
        n_hashes.alias("n_hash"),
        ell_diff.alias("ell_diff"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))))
        .alias("n_spaces"),
        F.length("text").alias("n_chars"),
    ).select(
        "doc_id",
        F.size("ws").alias("n_words"),
        (F.col("n_chars") - F.col("n_spaces")).alias("sum_wlen"),
        F.expr("size(filter(ws, w -> w rlike '[A-Za-z]'))").alias("n_alpha"),
        F.size(F.array_intersect(F.array_distinct("ws"), stops)).alias(
            "n_stops"
        ),
        "n_hash",
        "ell_diff",
    )
    return base.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        ((F.col("n_words") >= 50) & (F.col("n_words") <= 100_000)).alias(
            "ok_word_count"
        ),
        (
            (3 * F.col("n_words") <= F.col("sum_wlen"))
            & (F.col("sum_wlen") <= 10 * F.col("n_words"))
        ).alias("ok_mean_wlen"),
        (5 * F.col("n_alpha") >= 4 * F.col("n_words")).alias("ok_alpha_words"),
        (F.col("n_stops") >= 2).alias("ok_stop_words"),
        (
            (10 * F.col("n_hash") <= F.col("n_words"))
            & (10 * F.col("ell_diff") <= 3 * F.col("n_words"))
        ).alias("ok_symbols"),
        (
            (F.col("n_words") >= 50)
            & (F.col("n_words") <= 100_000)
            & (3 * F.col("n_words") <= F.col("sum_wlen"))
            & (F.col("sum_wlen") <= 10 * F.col("n_words"))
            & (5 * F.col("n_alpha") >= 4 * F.col("n_words"))
            & (F.col("n_stops") >= 2)
            & (10 * F.col("n_hash") <= F.col("n_words"))
            & (10 * F.col("ell_diff") <= 3 * F.col("n_words"))
        ).alias("keep"),
    ).orderBy("doc_id")


@query(window=True, oracle="""
    WITH base AS (
        SELECT doc_id,
               string_split(text, ' ') AS ws,
               CAST(5 + doc_id % 7 AS INT) AS k
        FROM documents
    ), lined AS (
        SELECT doc_id,
               CASE WHEN doc_id % 41 = 0 THEN
                   ['lorem ipsum dolor sit amet consectetur.']
               ELSE [] END
               || CASE WHEN doc_id % 37 = 0 THEN
                   ['var config = { privacy: true };']
               ELSE [] END
               || CASE WHEN doc_id % 11 = 0 THEN
                   ['please enable javascript to continue viewing.']
               ELSE [] END
               || list_transform(
                   generate_series(0, (len(ws) - 1) // k),
                   i -> array_to_string(
                            list_slice(ws, i * k + 1, i * k + k),
                            ' ')
                        || (['', '.', '!', '?'])[
                               CAST((doc_id + i) % 4 AS INT) + 1])
               AS lines
        FROM base
    ), filtered AS (
        SELECT doc_id,
               CAST(len(lines) AS INT) AS n_lines,
               list_filter(lines,
                   l -> regexp_matches(l, '[.!?"]$')
                        AND len(string_split(l, ' ')) >= 5
                        AND NOT contains(lower(l), 'javascript'))
                   AS kept,
               len(list_filter(lines,
                   l -> contains(lower(l), 'lorem ipsum'))) > 0
                   AS has_lorem,
               len(list_filter(lines, l -> contains(l, '{'))) > 0
                   AS has_brace
        FROM lined
    ), rebuilt AS (
        SELECT doc_id, n_lines,
               CAST(len(kept) AS INT) AS n_kept_lines,
               coalesce(array_to_string(kept, chr(10)), '')
                   AS kept_text,
               has_lorem, has_brace
        FROM filtered
    )
    SELECT doc_id, n_lines, n_kept_lines,
           CAST(len(regexp_extract_all(kept_text, '[.!?]'))
                AS BIGINT) AS n_sentences,
           has_lorem, has_brace,
           (len(regexp_extract_all(kept_text, '[.!?]')) >= 3
            AND NOT has_lorem AND NOT has_brace) AS keep,
           md5(kept_text) AS kept_md5
    FROM rebuilt
    ORDER BY doc_id
""")
def _q_c4_filters(spark, sf_dir):
    """X78: C4 heuristic filters (Raffel et al. 2020 §2.2) — the
    published line+page rule set every public English corpus since T5
    starts from: keep only lines ending in terminal punctuation, drop
    lines under 5 words, drop lines containing the word "javascript",
    drop whole pages that contain "lorem ipsum" or a curly bracket,
    and drop pages left with fewer than 3 sentences.  (The paper's two
    remaining rules are owned by sibling operators: the bad-words page
    drop is X41 `blocklist_tags`, the three-sentence-span dedup is
    X26/X29 `dup_spans`/`dedup_apply_spans`.)

    The fixture corpus is a flat word stream, so each document is
    first re-wrapped into lines of (5 + doc_id % 7) words with a
    deterministic punctuation cycle — (doc_id + i) % 4 selects
    ''/'.'/'!'/'?' — and garnished with the exact pathologies the
    rules exist for (a "lorem ipsum" line on doc_id % 41, a
    curly-brace config line on doc_id % 37, an "enable javascript"
    line on doc_id % 11), spelled identically by the SQL twin, so
    every rule fires non-vacuously at sf0.01.  The residual page is
    witnessed by md5 over the '\\n'-rejoined kept lines — byte-equal
    reconstruction, not just counts.

    Scale shape: one narrow projection — split + transform + filter
    are JVM higher-order functions fused into the scan, zero shuffles
    before the presentation sort; at 10^12 docs this is a pure map
    stage (as the reference's per-page cleaning chain, `clean_result`
    at ref stage2_ocr.py:184-399, runs inside our extraction kernel
    as kernel/cleaning.py)."""
    d = _t(spark, sf_dir, "documents")
    body = (
        "transform(sequence(0, cast(floor((size(split(text, ' ')) - 1)"
        " / (5 + doc_id % 7)) as int)),"
        " i -> concat(array_join(slice(split(text, ' '),"
        " i * cast(5 + doc_id % 7 as int) + 1,"
        " cast(5 + doc_id % 7 as int)), ' '),"
        " element_at(array('', '.', '!', '?'),"
        " cast((doc_id + i) % 4 as int) + 1)))"
    )
    garnish = (
        "concat("
        " IF(doc_id % 41 = 0,"
        "    array('lorem ipsum dolor sit amet consectetur.'), array()),"
        " IF(doc_id % 37 = 0,"
        "    array('var config = { privacy: true };'), array()),"
        " IF(doc_id % 11 = 0,"
        "    array('please enable javascript to continue viewing.'),"
        "    array()),"
        f" {body})"
    )
    lined = d.select("doc_id", F.expr(garnish).alias("lines"))
    kept_expr = (
        "filter(lines, l -> l rlike '[.!?\"]$'"
        " AND size(split(l, ' ')) >= 5"
        " AND NOT contains(lower(l), 'javascript'))"
    )
    per_doc = lined.select(
        "doc_id",
        F.size("lines").alias("n_lines"),
        F.expr(kept_expr).alias("kept"),
        F.expr(
            "exists(lines, l -> contains(lower(l), 'lorem ipsum'))"
        ).alias("has_lorem"),
        F.expr("exists(lines, l -> contains(l, '{'))").alias("has_brace"),
    ).select(
        "doc_id",
        "n_lines",
        F.size("kept").alias("n_kept_lines"),
        F.concat_ws("\n", "kept").alias("kept_text"),
        "has_lorem",
        "has_brace",
    )
    return per_doc.select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        F.expr("size(regexp_extract_all(kept_text, '[.!?]', 0))")
        .cast("bigint")
        .alias("n_sentences"),
        "has_lorem",
        "has_brace",
        (
            (F.expr("size(regexp_extract_all(kept_text, '[.!?]', 0))") >= 3)
            & ~F.col("has_lorem")
            & ~F.col("has_brace")
        ).alias("keep"),
        F.md5(F.encode("kept_text", "UTF-8")).alias("kept_md5"),
    ).orderBy("doc_id")
