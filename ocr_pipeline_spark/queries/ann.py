"""Embedding and nearest-neighbour queries: exact k-NN, LSH and IVF
indexes, their recall checks, outliers and quantization."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_pipeline_spark.queries.registry import _WITNESS_DIR, _t, query, witness


def _ann_recall_row(spark, sf_dir, approx_topk):
    """Shared body of the two ANN recall-assertion queries: exact
    top-10 (one JVM-vectorized scan) vs an approximate arm, returning
    one (k, n_hits) row where n_hits = |exact ∩ approx|.  Both arms
    are TakeOrdered over a single scan; the intersection is a 10-row
    semi join."""
    from ocr_pipeline_spark.operators.ann import cosine_topk_bruteforce

    e = _t(spark, sf_dir, "embeddings")
    query = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    rest = e.filter(F.col("vec_id") != 0)
    exact = cosine_topk_bruteforce(
        rest, "embedding", "vec_id", query, k=10
    ).select("vec_id")
    approx = approx_topk(rest, query).select("vec_id")
    return exact.join(approx, "vec_id", "left_semi").agg(
        F.lit(10).alias("k"),
        F.count("*").cast("int").alias("n_hits"),
    )


@query(oracle="""
    WITH q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id = 0
    )
    SELECT e.vec_id,
           round(
               list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(q.qv, q.qv))),
               4
           ) AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id != 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
""")
def _q_embedding_knn(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    joined = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    dbl = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    dot = F.aggregate(
        F.zip_with(dbl("embedding"), dbl("qv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(dbl(c), lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    return (
        joined.select(
            "vec_id",
            F.round(dot / (norm("embedding") * norm("qv")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@query(oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(
               list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(b.v, b.v))),
               4
           ) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(
              list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) *
               sqrt(list_dot_product(b.v, b.v))),
              4
          ) >= 0.4
    ORDER BY id_a, id_b
""")
def _q_embedding_near_dup(spark, sf_dir):
    from ocr_pipeline_spark.operators.ann import cosine_pairs_bruteforce

    e = _t(spark, sf_dir, "embeddings")
    return cosine_pairs_bruteforce(e, "embedding", "vec_id", 0.4).orderBy(
        "id_a", "id_b"
    )


@query()
def _q_ann_ivf(spark, sf_dir):
    from ocr_pipeline_spark.operators.ann import ivf_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    query = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    return ivf_ann_topk(
        e.filter(F.col("vec_id") != 0), "embedding", "vec_id", query,
        k=10, n_cells=16, n_probe=4,
    )


@query()
def _q_embedding_near_dup_lsh(spark, sf_dir):
    from ocr_pipeline_spark.operators.ann import cosine_near_dup_lsh

    e = _t(spark, sf_dir, "embeddings")
    dim = len(e.first().embedding)
    # threshold 0.4 is the weak-similarity regime: short signatures +
    # many tables (see ann.py docstring); recall vs the exact oracled
    # twin is pinned in tests/test_entry_contract.py
    return cosine_near_dup_lsh(
        e, "embedding", "vec_id", dim, threshold=0.4, n_planes=5, n_tables=16
    ).orderBy("id_a", "id_b")


@query()
def _q_ann_lsh(spark, sf_dir):
    from ocr_pipeline_spark.operators.ann import lsh_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    query = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
    return lsh_ann_topk(
        e.filter(F.col("vec_id") != 0), "embedding", "vec_id", query,
        k=10, n_planes=4, n_tables=12,
    )


# Recall-assertion oracles for the approximate ANN paths: the
# Spark side computes exact-vs-approx agreement; the SQL side
# asserts the calibrated full-recall constant (ann_*_recall) or
# re-derives the exact pair count (near_dup_lsh_recall).  A
# signature/bucketing/probe regression breaks the row hash.
@query(window=True, oracle="""
    SELECT CAST(10 AS INT) AS k, CAST(10 AS INT) AS n_hits
""")
def _q_ann_lsh_recall(spark, sf_dir):
    """Recall-assertion twin of ann_lsh, giving the LSH path a HARD
    DuckDB oracle: (k, n_hits) with n_hits = |exact ∩ lsh|.  The
    oracle asserts n_hits = k: at n_planes=4, n_tables=24 the
    deterministic seeded planes give recall 1.0 on this fixture
    (calibrated at sf 0.001 / 0.01 / 0.1 for the top-k query point;
    the compare runs at sf0.01), so any regression in signatures,
    bucketing, or re-rank flips the hash."""
    from ocr_pipeline_spark.operators.ann import lsh_ann_topk

    return _ann_recall_row(
        spark, sf_dir,
        lambda rest, query: lsh_ann_topk(
            rest, "embedding", "vec_id", query, k=10, n_planes=4, n_tables=24
        ),
    )


@query(window=True, oracle="""
    SELECT CAST(10 AS INT) AS k, CAST(10 AS INT) AS n_hits
""")
def _q_ann_ivf_recall(spark, sf_dir):
    """Recall-assertion twin of ann_ivf (hard DuckDB oracle for the
    IVF path): exact top-k vs IVF top-k at n_cells=16, n_probe=12 —
    deterministic seeded init + full-batch distributed Lloyd, so the
    probed cells and therefore n_hits are reproducible.  n_probe is
    calibrated for recall 1.0 at the oracle compare point (sf0.01;
    also exact at sf0.001) — the oracle asserts n_hits = k, so a
    regression in cell training, assignment, or probing flips the
    hash.  At production scale the same pipeline runs n_probe <<
    n_cells; this query is the correctness anchor, ann_ivf the
    scale-shape one."""
    from ocr_pipeline_spark.operators.ann import ivf_ann_topk

    return _ann_recall_row(
        spark, sf_dir,
        lambda rest, query: ivf_ann_topk(
            rest, "embedding", "vec_id", query, k=10, n_cells=16, n_probe=12
        ),
    )


@query(window=True, oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ), cnt AS (
        SELECT count(*) AS c
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(
                  list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) *
                   sqrt(list_dot_product(b.v, b.v))),
                  4
              ) >= 0.4
    )
    SELECT CAST(c AS INT) AS n_pairs_exact,
           CAST(c AS INT) AS n_pairs_lsh,
           CAST(c AS INT) AS n_common
    FROM cnt
""")
def _q_embedding_near_dup_lsh_recall(spark, sf_dir):
    """Pair-recall assertion for the bucketed near-dup LSH path (hard
    DuckDB oracle): one row (n_pairs_exact, n_pairs_lsh, n_common)
    comparing the exact quadratic baseline with the LSH pair set at
    threshold 0.4, n_planes=4, n_tables=24 (calibrated: the two sets
    are IDENTICAL at the driver's compare sf 0.01, so the oracle
    asserts three equal counts straight from the exact SQL pair
    count; at larger sf the LSH arm reports honest <1.0 recall —
    904/920 at sf0.1 — which is the operator's documented
    probabilistic contract, not a defect).  Catches
    missing pairs (recall), phantom pairs (precision), and
    numpy-vs-JVM rounding drift at the 4-dp threshold boundary in
    one hash."""
    from ocr_pipeline_spark.operators.ann import (
        cosine_near_dup_lsh,
        cosine_pairs_bruteforce,
    )

    e = _t(spark, sf_dir, "embeddings")
    dim = len(e.first().embedding)
    # each pair set feeds two consumers (its count + the semi join):
    # both arms end in Python kernels, which Catalyst cannot
    # ReusedExchange — materialize once (the repo's stated policy for
    # multi-consumer kernel subtrees; each is only O(pairs) rows)
    exact = (
        cosine_pairs_bruteforce(e, "embedding", "vec_id", 0.4)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    lsh = (
        cosine_near_dup_lsh(
            e, "embedding", "vec_id", dim, threshold=0.4,
            n_planes=4, n_tables=24,
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    n_exact = exact.agg(F.count("*").alias("n_pairs_exact"))
    n_lsh = lsh.agg(F.count("*").alias("n_pairs_lsh"))
    n_common = exact.join(lsh, ["id_a", "id_b"], "left_semi").agg(
        F.count("*").alias("n_common")
    )
    return (
        n_exact.crossJoin(F.broadcast(n_lsh))
        .crossJoin(F.broadcast(n_common))
        .select(
            F.col("n_pairs_exact").cast("int").alias("n_pairs_exact"),
            F.col("n_pairs_lsh").cast("int").alias("n_pairs_lsh"),
            F.col("n_common").cast("int").alias("n_common"),
        )
    )


@query(window=True, oracle=witness("doc_embeddings", "doc_id, emb_md5", "doc_id"))
def _q_doc_embeddings(spark, sf_dir):
    """X53: text -> embedding via feature-hashed character 3-grams
    (hashing trick, Weinberger et al. 2009), closing the corpus ->
    embedding -> ANN/SemDeDup loop with a deterministic, model-free
    featurizer (operators/embed.py).  Output is witnessed by the md5
    of the 6-dp-quantized vector, so the oracle proves the exact
    float sequence, not a rounding neighborhood.

    Scale shape: one narrow Arrow kernel over (doc_id, text) — no
    shuffle, no state; at 10^12 docs this is a pure map stage whose
    output partitions feed the bucketed ANN/SemDeDup paths
    unchanged."""
    from ocr_pipeline_spark.operators.embed import EMBED_DDL, embed_kernel

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        d.mapInPandas(embed_kernel(), schema=EMBED_DDL)
        .select("doc_id", "emb_md5")
        .orderBy("doc_id")
    )


@query(window=True, oracle=f"""
    WITH w AS (
        SELECT doc_id, CAST(embedding AS DOUBLE[]) AS v
        FROM read_parquet('{_WITNESS_DIR}/doc_embeddings.parquet')
    ), q AS (
        SELECT v AS qv FROM w WHERE doc_id = 0
    )
    SELECT w.doc_id,
           round(
               list_dot_product(w.v, q.qv) /
               (sqrt(list_dot_product(w.v, w.v)) *
                sqrt(list_dot_product(q.qv, q.qv))),
               6
           ) AS cos_sim
    FROM w, q
    WHERE w.doc_id != 0
    ORDER BY cos_sim DESC, w.doc_id
    LIMIT 10
""")
def _q_doc_embed_knn(spark, sf_dir):
    """X53 chained: brute-force cosine top-10 over the TEXT-DERIVED
    embeddings (doc_embeddings kernel feeding the X7 ANN operator in
    one plan — the full corpus->embedding->search loop).  The query
    vector is document 0's embedding, computed driver-side from its
    text by the same pure function (1-row transfer).  Oracle: DuckDB
    re-derives cosine top-k from the witnessed embedding arrays — the
    JVM fold and list_dot_product both reduce left-to-right over
    identical doubles, so the 6-dp rounded values hash-match."""
    from ocr_pipeline_spark.operators.ann import cosine_topk_bruteforce
    from ocr_pipeline_spark.operators.embed import (
        EMBED_DDL,
        embed_kernel,
        embed_text,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qv = [float(x) for x in embed_text(
        d.filter(F.col("doc_id") == 0).first().text or ""
    )]
    embs = d.filter(F.col("doc_id") != 0).mapInPandas(
        embed_kernel(), schema=EMBED_DDL
    )
    return cosine_topk_bruteforce(embs, "embedding", "doc_id", qv, k=10)


@query(oracle="""
    WITH s AS (
        SELECT vec_id, embedding,
               list_aggregate(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE))), 'max') AS maxabs
        FROM embeddings
    ), sc AS (
        SELECT vec_id, embedding,
               CASE WHEN maxabs > 0 THEN 127.0 / maxabs
                    ELSE 0.0 END AS scale
        FROM s
    ), qq AS (
        SELECT vec_id, scale,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * scale) AS INT)) AS q
        FROM sc
    )
    SELECT vec_id, round(scale, 6) AS scale_r,
           md5(array_to_string(q, ',')) AS q_md5,
           CAST(len(list_filter(q, v -> abs(v) = 127)) AS INT)
               AS n_saturated,
           CAST(len(list_filter(q, v -> v = 0)) AS INT) AS n_zero
    FROM qq ORDER BY vec_id
""")
def _q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column — the
    standard storage/bandwidth lever for corpus-scale vector search
    (4x smaller, GEMM-able).  Per vector: scale = 127/max|x|, q =
    round(x*scale); witnessed by the quantized byte string's md5 plus
    integer-exact saturation/zero counts, so the oracle proves the
    exact same int8 codes.  Pure JVM higher-order functions — no UDF,
    no shuffle (narrow, embarrassingly parallel at any scale)."""
    e = _t(spark, sf_dir, "embeddings")
    maxabs = F.expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), "
        "(m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))"
    )
    with_scale = e.select(
        "vec_id",
        "embedding",
        F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0)).alias(
            "scale"
        ),
    )
    q = F.expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * scale) AS INT))"
    )
    return with_scale.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.md5(F.concat_ws(",", q)).alias("q_md5"),
        F.expr(
            "size(filter(transform(embedding, x -> "
            "CAST(round(CAST(x AS DOUBLE) * scale) AS INT)), v -> abs(v) = 127))"
        ).alias("n_saturated"),
        F.expr(
            "size(filter(transform(embedding, x -> "
            "CAST(round(CAST(x AS DOUBLE) * scale) AS INT)), v -> v = 0))"
        ).alias("n_zero"),
    ).orderBy("vec_id")


@query(window=True, oracle="""
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding, x ->
                   CAST(round(CAST(x AS DOUBLE) * 10000)
                        AS BIGINT)) AS q
        FROM embeddings
    ), dims AS (
        SELECT label, i - 1 AS dim, q[i] AS v
        FROM q, LATERAL unnest(generate_series(1, len(q))) AS t(i)
    ), sums AS (
        SELECT label, dim, CAST(sum(v) AS BIGINT) AS s
        FROM dims GROUP BY label, dim
    ), cent AS (
        SELECT label, list(s ORDER BY dim) AS c
        FROM sums GROUP BY label
    ), dotted AS (
        SELECT vec_id, q.label,
               list_dot_product(CAST(q.q AS DOUBLE[]),
                                CAST(cent.c AS DOUBLE[])) AS dot,
               list_dot_product(CAST(q.q AS DOUBLE[]),
                                CAST(q.q AS DOUBLE[])) AS nq2,
               list_dot_product(CAST(cent.c AS DOUBLE[]),
                                CAST(cent.c AS DOUBLE[])) AS nc2
        FROM q JOIN cent ON q.label = cent.label
    ), scored AS (
        SELECT vec_id, label,
               CASE WHEN nq2 > 0 AND nc2 > 0
                    THEN round(dot / (sqrt(nq2) * sqrt(nc2)), 4)
                    ELSE 0.0 END AS cos_c
        FROM dotted
    )
    SELECT vec_id, label, cos_c,
           (row_number() OVER (
                PARTITION BY label
                ORDER BY cos_c ASC, vec_id ASC) <= 10) AS is_outlier
    FROM scored
    ORDER BY vec_id
""")
def _q_embedding_outliers(spark, sf_dir):
    """X73: embedding-outlier pruning — per-cluster centroid distance,
    the semantic-hygiene screen (SemDeDup's outlier complement,
    CLIP-score-style pruning) that drops documents far from their
    cluster's center.  Engine-exact by integer geometry: vectors are
    quantized to q = round(x * 10^4) (exact bigints), the per-label
    centroid is the per-dim INTEGER SUM of quantized vectors — cosine
    is scale-invariant, so the un-normalized sum IS the centroid
    direction, with no division whose floor-vs-truncate semantics
    differ between engines on negatives — and cosine is one
    correctly-rounded sqrt + division per row, rounded to 4 dp.
    (At 10^12 rows the sums leave exact-double range: there you divide
    them by the label count once, on the tiny n_labels*64 frame,
    before broadcasting — same direction, small entries.)
    Output: per-vector cosine to its label centroid plus the
    bottom-10-per-label outlier rank (rank-based, threshold-free).

    Scale shape: per-dim centroid sums are a partial-aggregated
    group-by on (label, dim) — the corpus collapses to
    n_labels * 64 rows map-side; centroids rebuild and BROADCAST back;
    per-row cosine is a narrow JVM fold.  The bottom-k window is the
    stratified_sample top-k shape (one shuffle on the label key);
    at extreme scale the same screen is taken shuffle-free by
    thresholding cos directly."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, x ->"
            " CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"
        ).alias("q"),
    )
    dims = q.select(
        "label", F.posexplode("q").alias("dim", "v")
    )
    sums = dims.groupBy("label", "dim").agg(F.sum("v").alias("s"))
    cent = sums.groupBy("label").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(dim, s))), p -> p.s)"
        ).alias("c")
    )
    dotted = q.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.expr(
            "aggregate(zip_with(q, c, (a, b) -> a * b), 0L, (acc, t) -> acc + t)"
        ).alias("dot"),
        F.expr(
            "aggregate(transform(q, a -> a * a), 0L, (acc, t) -> acc + t)"
        ).alias("nq2"),
        F.expr(
            "aggregate(transform(c, b -> b * b), 0L, (acc, t) -> acc + t)"
        ).alias("nc2"),
    )
    scored = dotted.select(
        "vec_id",
        "label",
        F.when(
            (F.col("nq2") > 0) & (F.col("nc2") > 0),
            F.round(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("nq2").cast("double"))
                   * F.sqrt(F.col("nc2").cast("double"))),
                4,
            ),
        ).otherwise(F.lit(0.0)).alias("cos_c"),
    )
    w = Window.partitionBy("label").orderBy(F.asc("cos_c"), F.asc("vec_id"))
    return (
        scored.select(
            "vec_id", "label", "cos_c",
            F.row_number().over(w).alias("rk"),
        )
        .select(
            "vec_id", "label", "cos_c",
            (F.col("rk") <= 10).alias("is_outlier"),
        )
        .orderBy("vec_id")
    )
