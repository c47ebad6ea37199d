"""Retrieval queries: inverted index postings, BM25, phrase and hybrid
search, vocabulary statistics."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_pipeline_spark.queries.registry import _t, query


_BM25_TERMS = ("spark", "window", "join")
_BM25_K1 = 1.5
_BM25_B = 0.75


def _bm25_scored_df(spark, sf_dir):
    """(doc_id, score) BM25 frame shared by _q_bm25_search and
    _q_hybrid_search's lexical arm — ONE expression tree so the two
    cannot drift (the SQL side shares _bm25_sql_parts the same way).
    The cross-term sum is a literal left-to-right chain over a constant
    number of terms: NO float aggregation whose accumulation order
    could differ across engines."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    doc = ws.select(
        "doc_id",
        F.size("ws").cast("double").alias("dl"),
        *[
            F.expr(f"size(filter(ws, x -> x = '{t}'))")
            .cast("double")
            .alias(f"tf_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    stats = doc.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    k1, b = _BM25_K1, _BM25_B
    per_term = [
        (
            (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
        )
        * (
            (F.col(f"tf_{i}") * F.lit(k1 + 1.0))
            / (
                F.col(f"tf_{i}")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.col("avgdl")))
            )
        )
        for i in range(len(_BM25_TERMS))
    ]
    score = per_term[0]
    for term_score in per_term[1:]:
        score = score + term_score
    return doc.crossJoin(F.broadcast(stats)).select(
        "doc_id", score.alias("score")
    )


def _bm25_sql_parts() -> tuple[str, str, str]:
    """Shared tf/df/score SQL fragments for the BM25 oracles (plain
    and hybrid), generated from the same term list and constants as
    the Spark expression so the twins can't drift."""
    k1, b = _BM25_K1, _BM25_B
    tf_cols = ",\n                   ".join(
        f"CAST(len(list_filter(ws, x -> x = '{t}')) AS DOUBLE) AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n                   ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN CAST(1 AS DOUBLE) "
        f"ELSE CAST(0 AS DOUBLE) END) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    term_exprs = " + ".join(
        f"(((n_docs - df_{i} + CAST(0.5 AS DOUBLE)) / (df_{i} + CAST(0.5 AS DOUBLE)))"
        f" * ((tf_{i} * CAST({k1 + 1.0} AS DOUBLE)) / (tf_{i} + CAST({k1} AS DOUBLE)"
        f" * (CAST({1.0 - b} AS DOUBLE) + CAST({b} AS DOUBLE) * (dl / avgdl)))))"
        for i in range(len(_BM25_TERMS))
    )
    return tf_cols, df_cols, term_exprs


def _bm25_oracle_sql() -> str:
    """DuckDB twin of _q_bm25_search.  All literals are CAST to DOUBLE
    (bare decimals are DECIMAL-typed in DuckDB, which would change the
    arithmetic path) and the expression tree mirrors the Spark column
    expression operation-for-operation."""
    tf_cols, df_cols, term_exprs = _bm25_sql_parts()
    return f"""
        WITH ws AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), doc AS (
            SELECT doc_id,
                   CAST(len(ws) AS DOUBLE) AS dl,
                   {tf_cols}
            FROM ws
        ), stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   sum(dl) / count(*) AS avgdl,
                   {df_cols}
            FROM doc
        )
        SELECT doc_id, {term_exprs} AS score
        FROM doc, stats
        ORDER BY score DESC, doc_id
        LIMIT 15
    """


def _hybrid_oracle_sql() -> str:
    """DuckDB twin of _q_hybrid_search: BM25 arm from the shared SQL
    parts, cosine arm from the embedding_knn oracle shape (4dp round),
    RRF as the same two-term fixed-order DOUBLE sum."""
    tf_cols, df_cols, term_exprs = _bm25_sql_parts()
    return f"""
        WITH ws AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), doc AS (
            SELECT doc_id,
                   CAST(len(ws) AS DOUBLE) AS dl,
                   {tf_cols}
            FROM ws
        ), stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   sum(dl) / count(*) AS avgdl,
                   {df_cols}
            FROM doc
        ), b_top AS (
            SELECT doc_id, {term_exprs} AS score
            FROM doc, stats
            WHERE doc_id <> 0
            ORDER BY score DESC, doc_id
            LIMIT 20
        ), b_rank AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                        AS INTEGER) AS r_lex
            FROM b_top
        ), q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id = 0
        ), c_top AS (
            SELECT e.vec_id,
                   round(
                       list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        q.qv) /
                       (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(q.qv, q.qv))),
                       4
                   ) AS cos_sim
            FROM embeddings e, q
            WHERE e.vec_id != 0
            ORDER BY cos_sim DESC, e.vec_id
            LIMIT 20
        ), c_rank AS (
            SELECT vec_id,
                   CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
                        AS INTEGER) AS r_dense
            FROM c_top
        )
        SELECT coalesce(b_rank.doc_id, c_rank.vec_id) AS doc_id,
               r_lex, r_dense,
               coalesce(CAST(1 AS DOUBLE)
                        / (CAST(60 AS DOUBLE) + CAST(r_lex AS DOUBLE)),
                        CAST(0 AS DOUBLE))
             + coalesce(CAST(1 AS DOUBLE)
                        / (CAST(60 AS DOUBLE) + CAST(r_dense AS DOUBLE)),
                        CAST(0 AS DOUBLE)) AS rrf
        FROM b_rank FULL OUTER JOIN c_rank
             ON b_rank.doc_id = c_rank.vec_id
        ORDER BY rrf DESC, doc_id
    """


@query(oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ), per_doc AS (
        SELECT term, doc_id, count(*) AS tf
        FROM toks WHERE length(term) > 0
        GROUP BY term, doc_id
    ), stats AS (
        SELECT term,
               CAST(count(*) AS BIGINT) AS df,
               CAST(sum(tf) AS BIGINT) AS tf_total
        FROM per_doc GROUP BY term
    ), ranked AS (
        SELECT term, doc_id,
               row_number() OVER (
                   PARTITION BY term ORDER BY doc_id
               ) AS rk
        FROM per_doc
    ), heads AS (
        SELECT term,
               string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY doc_id) AS postings_head
        FROM ranked WHERE rk <= 32 GROUP BY term
    )
    SELECT s.term, s.df, s.tf_total, h.postings_head
    FROM stats s JOIN heads h USING (term)
    WHERE s.df >= 25
    ORDER BY s.term
""")
def _q_term_postings(spark, sf_dir):
    """X40: inverted-index postings construction — the lexical-retrieval
    index build (the persistent artifact behind bm25_search's on-the-fly
    stats).  Per term: document frequency, total term frequency, and
    the head of the doc_id-sorted posting list.

    Scale shape: the index build IS a sort by (term, doc_id) — the
    per-doc tf frame partial-aggregates map-side, the posting head is
    bounded by a row_number window (per-group state is the sort's
    spill-aware buffer, NEVER an unbounded collect_list over a stopword
    term's whole corpus), and the full-index variant would writeTo a
    term-bucketed table instead of slicing a head.  Integer-exact."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.length("term") > 0)
    per_doc = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    stats = per_doc.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("tf_total")
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    heads = (
        per_doc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 32)
        .groupBy("term")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("plist"))
    )
    return (
        stats.join(heads, "term")
        .filter(F.col("df") >= 25)
        .select(
            "term",
            "df",
            "tf_total",
            F.array_join(
                F.expr("transform(plist, x -> cast(x as string))"), ","
            ).alias("postings_head"),
        )
        .orderBy("term")
    )


@query(oracle=_bm25_oracle_sql)
def _q_bm25_search(spark, sf_dir):
    """Lexical top-k retrieval (BM25-shaped) over the documents table —
    the text-side counterpart of the embedding ANN family (X7-X9):
    score every document against a fixed query-term set, return the
    top 15 with a deterministic doc_id tie-break.

    Scoring uses the odds-ratio idf (N - df + 0.5)/(df + 0.5) WITHOUT
    the usual log: every factor is then a fixed-order composition of
    IEEE-754-exact-input operations (integer-derived counts, exactly
    representable constants, one division per factor), so the DuckDB
    oracle is bit-identical — with log() the value-hash compare would
    hinge on libm-vs-JVM rounding.  log is monotone, so per-term
    ranking is unchanged; only relative term weighting differs from
    textbook BM25, which this docstring is the record of.

    Scale shape: corpus statistics (N, avgdl, per-term df) reduce to a
    ONE-ROW frame in a single conditional-aggregate pass and ride a
    broadcast cross join back onto the corpus — never a collect, never
    a shuffle of the corpus; per-doc term frequencies are JVM
    higher-order filters over the split column (terms are few and
    constant — no explode, no posting-list shuffle); top-k is
    orderBy+limit = TakeOrdered, no global sort materialization."""
    return (
        _bm25_scored_df(spark, sf_dir)
        .orderBy(F.desc("score"), "doc_id")
        .limit(15)
    )


@query(window=True, oracle=_hybrid_oracle_sql)
def _q_hybrid_search(spark, sf_dir):
    """X49: hybrid retrieval via reciprocal-rank fusion (RRF, k=60 —
    the standard lexical+dense ensemble): fuse the BM25 top-20 (same
    expression tree as bm25_search) with the exact-cosine top-20
    against the query embedding (vec_id 0, same scoring as
    embedding_knn); rrf = 1/(60+r_lex) + 1/(60+r_dense), absent list
    contributes 0.  Both ranks come from engine-identical orderings
    (bit-exact BM25 floats; 4dp-rounded cosine; doc_id tie-breaks), and
    the fusion is a two-term fixed-order IEEE sum — hash-exact oracle.

    Scale shape: each arm ends in TakeOrdered(k); rank assignment
    (row_number without partitioning) runs over the ALREADY-REDUCED
    k-row frame, never the corpus; the fusion join is k-vs-k.  The
    corpus-side costs are exactly bm25_search's one-row broadcast
    stats pass and a brute-force scan (swap the IVF/LSH arm in at
    scale)."""
    scored = _bm25_scored_df(spark, sf_dir).filter(F.col("doc_id") != 0)
    b_top = scored.orderBy(F.desc("score"), "doc_id").limit(20)
    b_rank = b_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .alias("r_lex"),
    )
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    dbl = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    dot = F.aggregate(
        F.zip_with(dbl("embedding"), dbl("qv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(dbl(c), lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    c_top = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(dot / (norm("embedding") * norm("qv")), 4).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(20)
    )
    c_rank = c_top.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cos_sim"), "vec_id"))
        .alias("r_dense"),
    )
    zero = F.lit(0.0)
    fused = b_rank.join(
        c_rank, b_rank.doc_id == c_rank.vec_id, "full_outer"
    ).select(
        F.coalesce(b_rank.doc_id, c_rank.vec_id).alias("doc_id"),
        "r_lex",
        "r_dense",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(60.0) + F.col("r_lex").cast("double")),
                zero,
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(60.0) + F.col("r_dense").cast("double")),
                zero,
            )
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), "doc_id")


@query(oracle="""
    WITH terms AS (
        SELECT lang,
               unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents
    ), dfreq AS (
        SELECT lang, term, count(*) AS df FROM terms GROUP BY lang, term
    ), ranked AS (
        SELECT lang, term, df,
               row_number() OVER (
                   PARTITION BY lang ORDER BY df DESC, term
               ) AS rk
        FROM dfreq
    )
    SELECT lang, term, df, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 10
    ORDER BY lang, rk
""")
def _q_vocab_stats(spark, sf_dir):
    """Corpus vocabulary statistics: per-language top-10 terms by
    document frequency — the standard corpus-composition / tokenizer-
    coverage diagnostic.  Integer-exact; ties broken lexicographically
    so the result is engine- and partitioning-independent.

    Scale shape: distinct-terms-per-doc explode -> one (lang, term)
    partial-aggregated group-by (map-side combine collapses per-
    partition repeats before the shuffle) -> the per-lang top-k window
    runs over the SMALL aggregated frame — the heavy exploded stream
    never crosses a window."""
    d = _t(spark, sf_dir, "documents")
    terms = d.select(
        "lang", F.explode(F.array_distinct(F.split("text", " "))).alias("term")
    )
    dfreq = terms.groupBy("lang", "term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("lang").orderBy(F.desc("df"), "term")
    return (
        dfreq.select("lang", "term", "df", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 10)
        .select("lang", "term", "df", F.col("rk").cast("int").alias("rk"))
        .orderBy("lang", "rk")
    )


# phrase_search: the oracle is deliberately the SEMANTIC ground
# truth — direct adjacent-bigram counting — while Spark routes
# the same phrases through the positional-postings join; a
# match proves the index path reconstructs exactly the direct
# counts (round-trip witness).
@query(window=True, oracle="""
    WITH ws AS (
        SELECT doc_id, string_split(text, ' ') AS ws
        FROM documents
    ), bigrams AS (
        SELECT doc_id,
               unnest(list_filter(list_transform(
                   range(1, len(ws)),
                   i -> CASE WHEN length(ws[i]) > 0
                              AND length(ws[i + 1]) > 0
                        THEN ws[i] || ' ' || ws[i + 1] END),
                   x -> x IS NOT NULL)) AS phrase
        FROM ws
    ), top AS (
        SELECT phrase FROM (
            SELECT phrase, count(*) AS n_total
            FROM bigrams GROUP BY phrase
            ORDER BY n_total DESC, phrase ASC LIMIT 5
        )
    )
    SELECT phrase,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occ
    FROM bigrams
    WHERE phrase IN (SELECT phrase FROM top)
    GROUP BY phrase
    ORDER BY phrase
""")
def _q_phrase_search(spark, sf_dir):
    """X76: positional-postings phrase query — the IR operator bm25 /
    term_postings leave uncovered: exact multi-word phrase match via
    adjacent-position intersection of two posting lists (Manning's IR
    ch.2 positional index).  The query set is derived from the corpus
    itself for determinism: the 5 most frequent word bigrams under the
    total order (count DESC, phrase ASC).  Each phrase is then matched
    back THROUGH the positional index — token (doc_id, pos) postings
    for the first word joined to postings of the second word at
    pos + 1 — reporting per phrase the matching-doc count and total
    occurrences; the round trip (bigram counts == positional-join
    occurrence counts) is itself the correctness witness.

    Scale shape: bigram counting is one partial-aggregated groupBy
    (|bigram vocab| rows cross the exchange, not corpus positions) +
    TakeOrdered for the top-k; the match side filters the token stream
    by a BROADCAST 5-row phrase frame BEFORE the positional self-join,
    so the join touches only postings of the 10 queried words — the
    standard index-pruned phrase plan, never a corpus self-join."""
    d = _t(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.split("text", " ").alias("ws"))
    bigrams = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(transform(ws, (x, i) -> IF(i < size(ws) - 1 "
                "AND length(x) > 0 AND length(ws[i + 1]) > 0, "
                "concat(x, ' ', ws[i + 1]), NULL)), x -> x IS NOT NULL)"
            )
        ).alias("phrase"),
    )
    top = (
        bigrams.groupBy("phrase")
        .agg(F.count("*").alias("n_total"))
        .orderBy(F.desc("n_total"), F.asc("phrase"))
        .limit(5)
        .select(
            "phrase",
            F.split("phrase", " ").getItem(0).alias("w1"),
            F.split("phrase", " ").getItem(1).alias("w2"),
        )
    )
    toks = ws.select(
        "doc_id", F.posexplode("ws").alias("p", "term")
    ).filter(F.length("term") > 0)
    first = toks.join(
        F.broadcast(top), toks["term"] == top["w1"]
    ).select("doc_id", "p", "phrase", "w2")
    second = toks.select(
        "doc_id", (F.col("p") - 1).alias("p"), F.col("term").alias("t2")
    )
    hits = first.join(
        second,
        ["doc_id", "p"],
    ).filter(F.col("t2") == F.col("w2"))
    return (
        hits.groupBy("phrase")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .orderBy("phrase")
    )
