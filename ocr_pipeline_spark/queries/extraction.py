"""Extraction queries: html and pdf pages through the extraction kernel,
document assembly, metadata, text normalization and media features."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_pipeline_spark.queries.registry import (
    _WITNESS_DIR,
    _synth_urls,
    _t,
    query,
    sf_of,
    witness,
)


@query(window=True, oracle=witness(
    "assemble_documents", "doc_key, n_pages, n_figures, n_chars", "doc_key"
))
def _q_assemble_documents(spark, sf_dir):
    """A3/A4: multi-page extraction -> per-document ordered assembly
    (boundary-fragment carry, headers, separators) via
    groupBy(doc_key).applyInPandas.  Input: the deterministic synthetic
    pages corpus (multi-page docs use /page-N urls); sf scales n."""
    from ocr_pipeline_spark.fixtures.gen_pages import generate_pages_df
    from ocr_pipeline_spark.operators.assembly_op import assemble_documents
    from ocr_pipeline_spark.plans.job import run_extraction

    n = max(500, int(sf_of(sf_dir) * 200_000))
    pages = generate_pages_df(spark, min(n, 4000), seed=42)
    # no host co-location: assembly's own doc_key shuffle is the grouping
    extracted = run_extraction(spark, pages, describe=True, co_locate_hosts=False)
    return (
        assemble_documents(extracted)
        .select("doc_key", "n_pages", "n_figures", "n_chars")
        .orderBy("doc_key")
    )


# Golden-witness oracles: the byte-deterministic extraction
# family is checked against single-process kernel-loop fixtures
# (scripts/gen_witness.py; tests/test_witness.py pins freshness,
# tests/test_spark_job.py proves distributed == single-process),
# so the driver's hash compare covers the full extraction output
# even though the computation is not SQL-expressible.
@query(window=True, oracle=witness(
    "extract_documents", "url, page_type, method, markdown, n_chars", "url"
))
def _q_extract_documents(spark, sf_dir):
    from ocr_pipeline_spark.fixtures.gen_pages import documents_as_pages_df
    from ocr_pipeline_spark.plans.job import run_extraction

    pages = documents_as_pages_df(_t(spark, sf_dir, "documents"))
    # per-row output, no host-grouped consumer -> map-only plan
    out = run_extraction(spark, pages, describe=True, co_locate_hosts=False)
    return out.select(
        "url",
        F.col("classification.type").alias("page_type"),
        "method", "markdown", "n_chars",
    ).orderBy("url")


@query(window=True, oracle=witness(
    "page_metadata", "url, title, description, canonical, og_title, ld_type", "url"
))
def _q_page_metadata(spark, sf_dir):
    """X57: head-metadata scan projection — <title>, meta description,
    canonical link, og:title and schema.org JSON-LD @type per url
    (kernel/metadata.py), the crawl-side analog of the reference's
    page-header metadata (ref src/stage2_ocr.py:519-544).  The corpus
    is the driver documents table wrapped with a deterministic
    metadata-bearing <head> (fixtures/gen_pages.wrap_document_with_head)
    that exercises entity decode, absent fields, malformed JSON-LD and
    first-title-wins.

    Scale shape: a narrow map over the (url, html) scan emitting five
    short strings per page — no shuffle at all; at 10^12 rows this is
    the same map-only plan as extraction, and the canonical column it
    emits is the dedup key the CDX index prefers.  Oracle: golden
    witness from the single-process kernel twin
    (scripts/gen_witness.py)."""
    from ocr_pipeline_spark.fixtures.gen_pages import documents_with_head_df
    from ocr_pipeline_spark.operators.metadata_op import page_metadata_df

    pages = documents_with_head_df(_t(spark, sf_dir, "documents"))
    return page_metadata_df(pages).orderBy("url")


# extract_fidelity: SQL-expressible end-to-end — DuckDB
# recomputes the token-multiset P/R/F1 from the witness
# markdown (independent single-process kernel loop) joined to
# the documents text; the ratios are IEEE divisions of exact
# integer counts on both sides, so no rounding is needed.
@query(window=True, oracle=f"""
    WITH w AS (
        SELECT url, markdown
        FROM read_parquet('{_WITNESS_DIR}/extract_documents.parquet')
    ), urls AS (
        SELECT 'https://' || source || '.example.com/docs/'
               || CAST(doc_id AS VARCHAR) AS url, text
        FROM documents
    ), ext AS (
        SELECT url, tok, count(*) AS cnt_e FROM (
            SELECT url, unnest(string_split(lower(
                regexp_replace(markdown, '[^a-zA-Z0-9]+', ' ', 'g')
            ), ' ')) AS tok FROM w
        ) WHERE tok <> '' GROUP BY url, tok
    ), src AS (
        SELECT url, tok, count(*) AS cnt_s FROM (
            SELECT url, unnest(string_split(lower(
                regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')
            ), ' ')) AS tok FROM urls
        ) WHERE tok <> '' GROUP BY url, tok
    ), com AS (
        SELECT e.url, sum(least(cnt_e, cnt_s)) AS n_common
        FROM ext e JOIN src s ON e.url = s.url AND e.tok = s.tok
        GROUP BY e.url
    ), ne AS (SELECT url, sum(cnt_e) AS n_ext FROM ext GROUP BY url),
    ns AS (SELECT url, sum(cnt_s) AS n_src FROM src GROUP BY url),
    j AS (
        SELECT u.url,
               CAST(coalesce(ns.n_src, 0) AS BIGINT) AS n_src,
               CAST(coalesce(ne.n_ext, 0) AS BIGINT) AS n_ext,
               CAST(coalesce(com.n_common, 0) AS BIGINT) AS n_common
        FROM (SELECT url FROM urls) u
        LEFT JOIN ns USING (url)
        LEFT JOIN ne USING (url)
        LEFT JOIN com USING (url)
    ), pr AS (
        SELECT url, n_src, n_ext, n_common,
               CASE WHEN n_ext > 0 THEN n_common / n_ext
                    ELSE 0.0 END AS precision,
               CASE WHEN n_src > 0 THEN n_common / n_src
                    ELSE 0.0 END AS recall
        FROM j
    )
    SELECT url, n_src, n_ext, n_common, precision, recall,
           CASE WHEN precision + recall > 0
                THEN 2.0 * precision * recall / (precision + recall)
                ELSE 0.0 END AS f1
    FROM pr ORDER BY url
""")
def _q_extract_fidelity(spark, sf_dir):
    """X58: extraction fidelity scoring — token-multiset precision /
    recall / F1 of each page's extracted markdown against the table's
    source `text` column (the CleanEval-style main-content-extraction
    evaluation; here the wrap is synthetic so recall is the kernel's
    boilerplate-vs-content separation measured end-to-end).

    Scale shape: both sides tokenize into (url, tok, cnt) via
    partial-agg group-bys (map-side combine collapses repeated tokens
    before any exchange), the multiset intersection is ONE equi-join on
    (url, tok), then a per-url agg — never a per-pair comparison.  The
    P/R/F1 ratios are exact IEEE divisions of integer counts (no
    rounding), so they hash identically to the oracle.  Oracle: DuckDB
    computes the same arithmetic from the extract_documents witness
    markdown joined to documents.text."""
    from ocr_pipeline_spark.fixtures.gen_pages import documents_as_pages_df
    from ocr_pipeline_spark.plans.job import run_extraction

    d = _t(spark, sf_dir, "documents")
    pages = documents_as_pages_df(d)
    out = run_extraction(spark, pages, describe=True, co_locate_hosts=False)

    def toks(col):
        return F.filter(
            F.split(F.lower(F.regexp_replace(col, "[^a-zA-Z0-9]+", " ")), " "),
            lambda t: t != "",
        )

    ext = (
        out.select("url", F.explode(toks(F.col("markdown"))).alias("tok"))
        .groupBy("url", "tok")
        .agg(F.count("*").alias("cnt_e"))
    )
    urls = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
    )
    src = (
        urls.select("url", F.explode(toks(F.col("text"))).alias("tok"))
        .groupBy("url", "tok")
        .agg(F.count("*").alias("cnt_s"))
    )
    common = (
        ext.join(src, ["url", "tok"])
        .groupBy("url")
        .agg(F.sum(F.least("cnt_e", "cnt_s")).alias("n_common"))
    )
    n_ext = ext.groupBy("url").agg(F.sum("cnt_e").alias("n_ext"))
    n_src = src.groupBy("url").agg(F.sum("cnt_s").alias("n_src"))
    j = (
        urls.select("url")
        .join(n_src, "url", "left")
        .join(n_ext, "url", "left")
        .join(common, "url", "left")
        .fillna(0, subset=["n_src", "n_ext", "n_common"])
    )
    p = F.when(
        F.col("n_ext") > 0, F.col("n_common") / F.col("n_ext")
    ).otherwise(F.lit(0.0))
    r = F.when(
        F.col("n_src") > 0, F.col("n_common") / F.col("n_src")
    ).otherwise(F.lit(0.0))
    scored = j.select(
        "url",
        F.col("n_src").cast("long").alias("n_src"),
        F.col("n_ext").cast("long").alias("n_ext"),
        F.col("n_common").cast("long").alias("n_common"),
        p.alias("precision"),
        r.alias("recall"),
    )
    f1 = F.when(
        F.col("precision") + F.col("recall") > 0,
        F.lit(2.0) * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    ).otherwise(F.lit(0.0))
    return scored.withColumn("f1", f1).orderBy("url")


# text_normalize: the strongest oracle shape available — two
# INDEPENDENT Unicode implementations (Python unicodedata in
# the Arrow kernel, utf8proc inside DuckDB's nfc_normalize)
# must agree on every md5.  Injection literals mirror the
# Spark expressions codepoint-for-codepoint (chr(769) =
# U+0301 combining acute, chr(776) = U+0308 combining
# diaeresis, chr(7)/chr(31) = C0 controls).
@query(window=True, oracle=r"""
    WITH inj AS (
        SELECT doc_id,
               CASE
                 WHEN doc_id % 3 = 0 THEN 'Cafe' || chr(769) || ' '
                      || text || ' stru' || chr(776) || 'del'
                 WHEN doc_id % 3 = 1 THEN chr(7) || 'bell'
                      || chr(31) || ' ' || text
                 ELSE text
               END AS t
        FROM documents
    ), norm AS (
        SELECT doc_id, t,
               regexp_replace(nfc_normalize(t),
                   '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g') AS n
        FROM inj
    )
    SELECT doc_id, md5(n) AS norm_md5,
           CAST(length(t) AS BIGINT) AS n_before,
           CAST(length(n) AS BIGINT) AS n_after
    FROM norm ORDER BY doc_id
""")
def _q_text_normalize(spark, sf_dir):
    """X59: Unicode text canonicalization (CCNet-style normalize stage):
    NFC composition + C0/DEL control stripping in an Arrow kernel
    (Python unicodedata), verified byte-for-byte against DuckDB's
    independent utf8proc nfc_normalize — two unrelated Unicode
    implementations agreeing on every md5 is the strongest oracle this
    family can have.  The synthetic corpus is ASCII, so deterministic
    non-NFC noise is injected per doc_id: %3==0 gets decomposed
    e+COMBINING ACUTE / u+COMBINING DIAERESIS sequences (must compose),
    %3==1 gets C0 control characters (must strip), %3==2 is untouched
    (already-normal path — the operator must be a no-op).

    Scale shape: a narrow map (doc_id, text) -> (doc_id, md5, lengths);
    no shuffle, same plan as lang_pred at any corpus size."""
    from ocr_pipeline_spark.operators.text_ops import normalize_kernel

    d = _t(spark, sf_dir, "documents")
    injected = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("Cafe\u0301 "), F.col("text"), F.lit(" stru\u0308del")
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("\x07bell\x1f "), F.col("text")),
        )
        .otherwise(F.col("text"))
    )
    with_inj = d.select("doc_id", injected.alias("text"))
    normed = with_inj.mapInPandas(
        normalize_kernel(), schema="doc_id long, text string, norm string"
    )
    return normed.select(
        "doc_id",
        F.md5(F.encode(F.col("norm"), "UTF-8")).alias("norm_md5"),
        F.length("text").cast("long").alias("n_before"),
        F.length("norm").cast("long").alias("n_after"),
    ).orderBy("doc_id")


@query(window=True, oracle=witness(
    "pdf_page_explode", "url, page_num, n_bytes, text", "url, page_num"
))
def _q_pdf_page_explode(spark, sf_dir):
    """S2 graft for binary PDF payloads: structural page split
    (sources/pdf.py, ref stage2_ocr.py:406-442) -> explode() to page
    rows -> per-page text extraction.  Input: the deterministic PDF
    corpus (pure function of seed+doc_id); sf scales n_docs."""
    from ocr_pipeline_spark.fixtures.gen_pdfs import generate_pdfs_df
    from ocr_pipeline_spark.sources.pdf import explode_pdf_pages, page_text_xy

    n = min(max(100, int(sf_of(sf_dir) * 40_000)), 2000)
    docs = generate_pdfs_df(spark, n, seed=42)
    pages = explode_pdf_pages(docs, "payload")

    def text_kernel(batches):
        for pdf in batches:
            out = pdf[["url", "page_num"]].copy()
            out["n_bytes"] = [len(c or b"") for c in pdf["content"]]
            out["text"] = [page_text_xy(c) for c in pdf["content"]]
            yield out

    return pages.mapInPandas(
        text_kernel,
        schema="url string, page_num int, n_bytes bigint, text string",
    ).orderBy("url", "page_num")


@query(window=True, oracle=witness(
    "pdf_layout_markdown", "url, markdown_md5, n_chars", "url"
))
def _q_pdf_layout_markdown(spark, sf_dir):
    """X52: heading/table reconstruction from POSITIONED layout — the
    layout-payload half of the north rule's "table/heading
    reconstruction": 18pt/14.5pt font sizes become #/## headings,
    x-aligned cell runs become markdown tables, lines re-linearized by
    XY-cut (kernel/layout.py).  Input: the deterministic layout-rich
    report corpus (pure function of seed+doc_id, like the WARC query's
    fixture side); the product path is the same kernel over a binary
    PDF column.

    Scale shape: ONE narrow mapInPandas (generate -> structural split
    -> positioned parse -> reconstruct, fused per batch), no shuffle.
    Oracle: golden witness from the single-process twin
    (scripts/gen_witness.py) — equality proves the distributed
    reconstruction is byte-identical per url."""
    import pandas as pd  # noqa: F811

    n = min(max(100, int(sf_of(sf_dir) * 40_000)), 2000)

    def kernel(batches):
        from ocr_pipeline_spark.fixtures.gen_pdfs import report_pdf
        from ocr_pipeline_spark.sources.pdf import (
            _split_structural,
            page_markdown_xy,
        )

        for pdf in batches:
            urls, mds = [], []
            for i in pdf["id"]:
                url, payload = report_pdf(42, int(i))
                page = _split_structural(payload)[0]
                urls.append(url)
                mds.append(page_markdown_xy(page["content"]))
            yield pd.DataFrame({"url": urls, "markdown": mds})

    out = spark.range(n).mapInPandas(
        kernel, schema="url string, markdown string"
    )
    return out.select(
        "url",
        F.md5(F.encode("markdown", "UTF-8")).alias("markdown_md5"),
        F.length("markdown").alias("n_chars"),
    ).orderBy("url")


@query(oracle=witness(
    "media_features", "media_id, format, width, height, feature_mass", "media_id"
))
def _q_media_features(spark, sf_dir):
    """Multimodal pixel path (X13) end to end: deterministic binary
    image payloads (GIF/JPEG/empty/garbage — fixtures/gen_media.py,
    encoded by the repo's own pure-Python codecs) -> Arrow-batched
    metadata probe + pixel-decode luminance features
    (operators/multimodal.py, operators/imagecodecs.py).  Kernel-based
    (rows-only driver check); decoder correctness is pinned by exact/
    bounded round-trip + Hypothesis property tests."""
    from ocr_pipeline_spark.fixtures.gen_media import generate_media_df
    from ocr_pipeline_spark.operators.multimodal import (
        IMAGE_META_DDL,
        image_features_kernel,
        image_meta_kernel,
    )

    media = generate_media_df(spark, 200, seed=42)
    with_meta = media.mapInPandas(
        image_meta_kernel(),
        schema=f"media_id long, media binary, image_meta {IMAGE_META_DDL}",
    )
    feats = with_meta.mapInPandas(
        image_features_kernel(dim=8),
        schema=(
            f"media_id long, media binary, image_meta {IMAGE_META_DDL}, "
            "features array<float>"
        ),
    )
    return feats.select(
        "media_id",
        F.col("image_meta.format").alias("format"),
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.round(F.expr("aggregate(features, 0.0D, (s, x) -> s + x)"), 4).alias(
            "feature_mass"
        ),
    ).orderBy("media_id")


@query(window=True, oracle=witness(
    "extract_pdf_documents", "doc_key, n_pages, n_chars", "doc_key"
))
def _q_extract_pdf_documents(spark, sf_dir):
    """Full PDF pipeline: binary payloads -> page split -> the SAME
    extraction kernel + cleaning + per-document assembly as html pages
    (sources/pdf.py:pdf_to_pages_df).  Ref analog: the reference's
    whole per-PDF flow (render -> OCR -> assemble)."""
    from ocr_pipeline_spark.fixtures.gen_pdfs import generate_pdfs_df
    from ocr_pipeline_spark.operators.assembly_op import assemble_documents
    from ocr_pipeline_spark.plans.job import run_extraction
    from ocr_pipeline_spark.sources.pdf import pdf_to_pages_df

    n = min(max(100, int(sf_of(sf_dir) * 40_000)), 2000)
    docs = generate_pdfs_df(spark, n, seed=42)
    pages = pdf_to_pages_df(docs)
    extracted = run_extraction(spark, pages, describe=True, co_locate_hosts=False)
    return (
        assemble_documents(extracted)
        .select("doc_key", "n_pages", "n_chars")
        .orderBy("doc_key")
    )


# mojibake_repair: every column is derived from the CLEAN text —
# n_chars(garbled) == octet_length(utf-8 bytes), n_marks ==
# count of bytes >= 0x80 (== octet_length - count of ASCII
# chars), did_repair fires iff any such byte exists (every
# multi-byte UTF-8 sequence starts with a 0xC2-0xF4 lead), and
# a byte-exact repair means md5(repaired) == md5(text).
@query(window=True, oracle="""
    WITH garnished AS (
        SELECT doc_id,
               'Résumé №' || CAST(doc_id AS VARCHAR)
                   || ' 😀 — ' || text AS text
        FROM documents
    )
    SELECT doc_id,
           octet_length(encode(text)) AS n_chars,
           octet_length(encode(text))
               - length(regexp_replace(text, '[^[:ascii:]]',
                                       '', 'g')) AS n_marks,
           (octet_length(encode(text))
               - length(regexp_replace(text, '[^[:ascii:]]',
                                       '', 'g'))) > 0
               AS did_repair,
           md5(text) AS repaired_md5
    FROM garnished
    ORDER BY doc_id
""")
def _q_mojibake_repair(spark, sf_dir):
    """X74: ftfy-style mojibake detection + repair — the standard
    crawl-hygiene pass for text whose UTF-8 bytes were somewhere
    misread as Latin-1 ('é' -> 'Ã©').  The kernel garbles each clean
    fixture document under exactly that corruption model, then runs the
    detect->repair pipeline (lead-byte heuristic U+00C2..U+00F4, then
    Latin-1 re-encode + UTF-8 decode); the oracle proves the repair is
    BYTE-EXACT by md5: repaired text must hash to the original.  The
    per-doc stats are engine-portable integers — n_chars of the garbled
    text equals octet_length of the original's UTF-8, n_marks equals
    its count of bytes >= 0x80 — so DuckDB derives every column from
    the clean text alone without being able to fake the round-trip.

    The fixture corpus is pure ASCII (garbling ASCII is the identity),
    so each document is first garnished with a deterministic non-ASCII
    decoration covering 2-, 3- and 4-byte UTF-8 sequences ('é'/'—',
    '№', '😀') — spelled identically by the SQL twin — making the
    repair path non-vacuous on every row.

    Scale shape: narrow Arrow kernel, no shuffle at any size; both
    codec passes are C-side per batch and the text column never
    leaves the worker (only md5 + counters come back)."""
    from ocr_pipeline_spark.operators.text_ops import mojibake_repair_kernel

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("Résumé №"),
            F.col("doc_id").cast("string"),
            F.lit(" 😀 — "),
            F.col("text"),
        ).alias("text"),
    )
    fixed = d.mapInPandas(
        mojibake_repair_kernel(),
        schema="doc_id long, n_chars long, n_marks long, "
               "did_repair boolean, repaired string",
    )
    return fixed.select(
        "doc_id",
        "n_chars",
        "n_marks",
        "did_repair",
        F.md5(F.encode("repaired", "UTF-8")).alias("repaired_md5"),
    ).orderBy("doc_id")


@query(window=True, oracle="""
    WITH ws AS (
        SELECT doc_id, source || '.example.com' AS host,
               string_split(text, ' ') AS ws
        FROM documents
    ), chunks AS (
        SELECT doc_id, host, i + 1 AS pos,
               array_to_string(ws[i * 40 + 1 : i * 40 + 40], ' ')
                   AS line
        FROM ws, LATERAL unnest(generate_series(
                 0, CAST(floor((len(ws) - 1) / 40) AS BIGINT)))
             AS t(i)
    ), lines AS (
        SELECT doc_id, host, 0 AS pos,
               'Home | About | Contact — © ' || host
                   || ' — we use cookies' AS line
        FROM ws
        UNION ALL
        SELECT * FROM chunks
    ), host_docs AS (
        SELECT host, count(DISTINCT doc_id) AS n_docs
        FROM ws GROUP BY host
    ), freq AS (
        SELECT host, md5(line) AS h,
               count(DISTINCT doc_id) AS df
        FROM lines GROUP BY host, md5(line)
    ), template AS (
        SELECT freq.host, freq.h
        FROM freq JOIN host_docs ON freq.host = host_docs.host
        WHERE freq.df >= 2 AND freq.df * 2 >= host_docs.n_docs
    ), kept AS (
        SELECT lines.* FROM lines
        LEFT JOIN template
             ON lines.host = template.host
                AND md5(lines.line) = template.h
        WHERE template.h IS NULL
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
def _q_host_template_lines(spark, sf_dir):
    """X75: host-scoped template-line removal — the inter-document
    boilerplate pass (CCNet/trafilatura family): a paragraph that
    appears on at least half of a host's pages (and on >= 2 of them)
    is site furniture (nav, cookie banner, footer), not content, and
    is stripped from every page; an organically duplicated paragraph
    on a few pages survives.  Differs from line_dedup (corpus-global
    df<=1 dedup) in both scope and rule: the decision is host-local
    and ratio-based.  Every page gets a deterministic synthesized
    banner line (host furniture, spelled identically by the SQL twin —
    same pattern as the crawl queries' _synth_urls), so the detector
    provably fires per host while organic low-ratio dups are kept.
    The reassembled residual text is witnessed by md5, proving
    byte-equal reassembly in original order.

    Scale shape: one partial-aggregated groupBy on (host, line-hash) —
    the hot keys are exactly the template lines and partial agg
    collapses them map-side; host page-counts are a tiny broadcast
    frame (|hosts| rows); the template verdict joins back on the same
    (host, h) key (bucketable, and AQE broadcasts the verdict side —
    |distinct lines| per host — when small).  No pair expansion, one
    corpus scan."""
    d = _synth_urls(_t(spark, sf_dir, "documents"))
    banner = F.concat(
        F.lit("Home | About | Contact — © "),
        F.col("host"),
        F.lit(" — we use cookies"),
    )
    lines = d.select(
        "doc_id",
        "host",
        F.posexplode(
            F.concat(
                F.array(banner),
                F.expr(
                    "transform(sequence(0, cast(floor((size(split(text, ' ')) - 1) / 40) "
                    "as int)), i -> array_join(slice(split(text, ' '), i * 40 + 1, 40), ' '))"
                ),
            )
        ).alias("pos", "line"),
    ).withColumn("h", F.md5(F.encode("line", "UTF-8")))
    host_docs = d.groupBy("host").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    freq = lines.groupBy("host", "h").agg(
        F.countDistinct("doc_id").alias("df")
    )
    template = (
        freq.join(F.broadcast(host_docs), "host")
        .filter((F.col("df") >= 2) & (F.col("df") * 2 >= F.col("n_docs")))
        .select("host", "h", F.lit(True).alias("is_template"))
    )
    kept = (
        lines.join(template, ["host", "h"], "left")
        .filter(F.col("is_template").isNull())
    )
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
