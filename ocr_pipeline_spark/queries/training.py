"""Training-data queries: splits, sampling, sequence packing, chunking and
BPE tokenizer training."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_pipeline_spark.queries.registry import _t, query, witness


def _pack_n_shards() -> int:
    """Shard count for pack_sequences — ∝ parallelism, not a constant:
    packing parallelism is bounded by the shard count, so at corpus
    scale it must scale with the cluster.  Env-pinned so the Spark
    query and the DuckDB oracle (both generated in this process)
    always agree."""
    env = os.environ.get("SPARK_GRAFT_PACK_SHARDS")
    if env:
        return int(env)
    return max(16, int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 16))))


@query(oracle="""
    WITH b AS (
        SELECT n_chars,
               ((strpos('0123456789abcdef',
                        substring(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                 - 1) * 16
                + strpos('0123456789abcdef',
                         substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))
                - 1) % 100 AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 90 THEN 'train' ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY split ORDER BY split
""")
def _q_train_test_split(spark, sf_dir):
    """Deterministic hash-based train/test split — the standard
    content-addressed split (never random(): reproducible across runs,
    clusters, and engines).  Bucket = first two md5 hex digits of the
    doc id -> 0..255 -> % 100; <90 trains.  Pure JVM expressions."""
    d = _t(spark, sf_dir, "documents")
    hx = F.md5(F.col("doc_id").cast("string"))
    digit = lambda i: F.expr(  # noqa: E731
        f"locate(substring(md5(cast(doc_id as string)), {i}, 1), "
        f"'0123456789abcdef') - 1"
    )
    bucket = (digit(1) * 16 + digit(2)) % 100
    return (
        d.withColumn(
            "split", F.when(bucket < 90, F.lit("train")).otherwise("test")
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


@query(oracle=lambda: f"""
    WITH toks AS (
        SELECT doc_id, doc_id % {_pack_n_shards()} AS shard,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+'))
               END AS n_tokens
        FROM documents
    ), binned AS (
        SELECT shard, n_tokens,
               CAST(floor((sum(n_tokens) OVER (
                               PARTITION BY shard ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - n_tokens)
                          / 4096) AS BIGINT) AS bin
        FROM toks
    )
    SELECT shard, bin, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM binned GROUP BY shard, bin ORDER BY shard, bin
""")
def _q_pack_sequences(spark, sf_dir, n_shards: int | None = None):
    """Greedy sequence packing for training batches: within each shard
    (hash of doc id — packing is per-shard so the window never needs a
    global sort at corpus scale), docs in id order fill 4096-token bins;
    a doc starts the bin its running prefix lands in.  Window cumsum +
    integer division, all JVM.  Shard count defaults to
    _pack_n_shards() (∝ parallelism) — the per-shard window sort is
    the parallelism ceiling, so it must grow with the cluster."""
    d = _t(spark, sf_dir, "documents")
    from ocr_pipeline_spark.operators.text_ops import token_count

    budget = 4096
    n_shards = n_shards or _pack_n_shards()
    toks = d.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(n_shards)).alias("shard"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    binned = toks.withColumn(
        "bin",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / budget),
    )
    return (
        binned.groupBy("shard", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .orderBy("shard", "bin")
    )


@query(oracle="""
    SELECT doc_id, chunk_id,
           chunk_id * 2000 AS chunk_start,
           least(2200, n_chars - chunk_id * 2000) AS chunk_len,
           md5(substring(text, chunk_id * 2000 + 1,
                         least(2200, n_chars - chunk_id * 2000)))
               AS chunk_md5
    FROM (SELECT doc_id, text, n_chars,
                 unnest(generate_series(
                     0, CAST(greatest(1, ceil(n_chars / 2000.0))
                             AS BIGINT) - 1)) AS chunk_id
          FROM documents)
    ORDER BY doc_id, chunk_id
""")
def _q_doc_chunks(spark, sf_dir):
    """Fixed-size chunking with overlap (context-window prep): one
    sequence() + explode per doc — narrow, no shuffle; chunk content
    witnessed by md5 so the oracle proves byte-equal chunking."""
    d = _t(spark, sf_dir, "documents")
    size, overlap = 2000, 200
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.col("n_chars") / F.lit(size))
    ).cast("int")
    chunked = d.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    ).select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * size).alias("chunk_start"),
        F.least(
            F.lit(size + overlap), F.col("n_chars") - F.col("chunk_id") * size
        ).alias("chunk_len"),
    )
    with_text = chunked.join(d.select("doc_id", "text"), "doc_id")
    return with_text.select(
        "doc_id",
        "chunk_id",
        "chunk_start",
        "chunk_len",
        F.md5(
            F.encode(
                F.expr("substring(text, chunk_start + 1, chunk_len)"), "UTF-8"
            )
        ).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


@query(window=True, oracle="""
    WITH words AS (
        SELECT w, count(*) AS wc FROM (
            SELECT unnest(string_split(text, ' ')) AS w
            FROM documents
        ) WHERE length(w) > 0 GROUP BY w
    ), pairs AS (
        SELECT substr(w, CAST(i AS INT), 2) AS pair, wc
        FROM words,
             LATERAL unnest(generate_series(1, length(w) - 1))
                 AS t(i)
        WHERE length(w) >= 2
    )
    SELECT pair, CAST(sum(wc) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 200
""")
def _q_bpe_pair_counts(spark, sf_dir):
    """X39 (tokenizer training, iteration-0 statistics): corpus-weighted
    adjacent-symbol-pair counts — the scoring table BPE's first merge
    selects from.  Symbols are unicode characters, so a pair is the
    2-char substring at each position, weighted by the word's corpus
    frequency.  Integer-exact; top-200 under the total order
    (n DESC, pair ASC) so the result is engine-independent.

    Scale shape: one partial-aggregated word-count shuffle (|vocab|
    rows cross the exchange, not |corpus| tokens) -> pair explode over
    the SMALL vocab frame -> one more partial-aggregated group-by ->
    TakeOrdered.  The corpus is scanned once."""
    from ocr_pipeline_spark.operators.bpe import word_counts_df

    wc = word_counts_df(_t(spark, sf_dir, "documents"))
    pairs = wc.select(
        F.explode(
            F.when(
                F.length("word") >= 2,
                F.expr(
                    "transform(sequence(1, length(word) - 1), "
                    "i -> substring(word, i, 2))"
                ),
            ).otherwise(F.expr("array()"))
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(200)
    )


@query(window=True, oracle=witness("bpe_merges", "rank, lhs, rhs", "rank"))
def _q_bpe_merges(spark, sf_dir):
    """X39 (tokenizer training): the learned BPE merge list.  The
    corpus-bound stage is the distributed weighted word count; merge
    learning runs over the BOUNDED top-V vocabulary (V rows cross to
    the driver regardless of corpus size — the SentencePiece/HF
    architecture, see operators/bpe.py).  Oracle: golden witness from
    the single-process twin (scripts/gen_witness.py) — equality proves
    distributed-wordcount + bounded-vocab training == direct training
    over the raw corpus."""
    from ocr_pipeline_spark.operators.bpe import train_bpe

    merges = train_bpe(
        _t(spark, sf_dir, "documents"), n_merges=64, vocab_cap=20_000
    )
    return spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        schema="rank int, lhs string, rhs string",
    ).orderBy("rank")


@query(oracle=witness("bpe_encode_stats", "doc_id, n_words, n_tokens", "doc_id"))
def _q_bpe_encode_stats(spark, sf_dir):
    """X39 (tokenizer application): encode EVERY document with the
    learned merges — the fan-back-out stage that is the real corpus-
    scale workload.  Merges (a few KB) ship in the task closure; the
    Arrow kernel memoizes per-word token counts so the Zipf head costs
    dict hits.  Witness-oracled by the single-process twin: per-doc
    (n_words, n_tokens) are integers, so the hash compare is exact."""
    from ocr_pipeline_spark.operators.bpe import (
        ENCODE_DDL,
        bpe_encode_kernel,
        train_bpe,
    )

    d = _t(spark, sf_dir, "documents")
    merges = train_bpe(d, n_merges=64, vocab_cap=20_000)
    return (
        d.select("doc_id", "text")
        .mapInPandas(bpe_encode_kernel(merges), schema=ENCODE_DDL)
        .orderBy("doc_id")
    )


@query(oracle="""
    SELECT doc_id, lang, CAST(rk AS INT) AS rk FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    ) WHERE rk <= 40
    ORDER BY lang, rk
""")
def _q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling for data mixing (per-language
    quotas — the standard corpus-composition lever for training sets):
    within each lang stratum, keep the 40 documents with the smallest
    content-addressed rank md5(doc_id).  Reproducible across runs,
    partitionings, and engines — never rand().

    Scale shape: one shuffle on the stratum key + an in-partition
    top-k; at extreme scale (strata >> executor memory) the same mix is
    taken shuffle-free by thresholding the hash directly
    (hash < quota/stratum_size * 2^64) at the cost of an approximate
    quota — this exact window variant is the quota-exact baseline."""
    d = _t(spark, sf_dir, "documents")
    rank_key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(rank_key, "doc_id")
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 40)
        .select("doc_id", "lang", F.col("rk").cast("int").alias("rk"))
        .orderBy("lang", "rk")
    )


@query(window=True, oracle="""
    WITH t AS (
        SELECT len(string_split(text, ' ')) AS n_tokens
        FROM documents
    )
    SELECT CAST(1::BIGINT
                << (length(bin(greatest(n_tokens, 1))) - 1)
                AS BIGINT) AS bucket_lo,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(n_tokens) AS INT) AS min_tokens,
           CAST(max(n_tokens) AS INT) AS max_tokens
    FROM t
    GROUP BY bucket_lo
    ORDER BY bucket_lo
""")
def _q_seq_len_buckets(spark, sf_dir):
    """X68: sequence-length histogram in power-of-2 buckets — the
    training-batch-shape diagnostic (how much of the corpus packs into
    512/1024/2048-token contexts, what truncation at each context size
    costs).  The bucket floor is computed from the BINARY DIGIT COUNT
    of the token count (shiftleft(1, length(bin(n)) - 1)) — pure
    integer arithmetic, immune to the log2(256)=7.999… float edge that
    makes floor(log2(n)) engine-dependent.

    Scale shape: narrow per-row token count -> ONE partial-aggregated
    group-by over at most ~40 distinct buckets — the reduce side is a
    constant-size frame no matter the corpus size."""
    d = _t(spark, sf_dir, "documents")
    b = d.select(F.size(F.split("text", " ")).alias("n_tokens")).select(
        F.expr(
            "shiftleft(1L, length(bin(cast(greatest(n_tokens, 1)"
            " as bigint))) - 1)"
        ).alias("bucket_lo"),
        "n_tokens",
    )
    return (
        b.groupBy("bucket_lo")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("n_tokens").cast("int").alias("min_tokens"),
            F.max("n_tokens").cast("int").alias("max_tokens"),
        )
        .orderBy("bucket_lo")
    )
