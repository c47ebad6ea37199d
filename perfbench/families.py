"""Query families of `__spark_entry__.queries()`, for the per-family
seconds of the traced query_suite run, and the fixed sample the timed
runs use.  A query not listed here counts as `other`."""

from __future__ import annotations

import zlib

FAMILIES = {
    "relational": """
        order_quartiles revenue_by_nation events_pivot host_stats top_orders
        shipping_priority promo_revenue priority_returned_orders
        top_orders_per_segment latest_event_per_user events_daily
        events_running_total purchase_last_click signup_clicks_1h
        docs_char_quantiles events_rollup custs_with_recent_orders
        daily_active_users custkey_intersect custkey_except
        custs_no_big_orders pricing_summary events_sessionized docs_by_lang
        supplier_share
    """,
    "extraction": """
        extract_documents assemble_documents extract_pdf_documents
        pdf_page_explode pdf_layout_markdown page_metadata extract_fidelity
        text_normalize mojibake_repair host_template_lines media_features
    """,
    "dedup": """
        dup_spans dedup_apply_spans minhash_dup_pairs near_dup_verified
        dedup_soft_weights url_canonical_dedup containment_pairs
        bloom_dedup_probe fingerprint_overlap jaccard_pairs_host
        dedup_canonical_docs lang_simhash dedup_exact doc_fingerprints
        dup_components_host simhash_dup_pairs incremental_dedup line_dedup
        semdedup doc_embed_semdedup
    """,
    "ann": """
        doc_embeddings doc_embed_knn ann_lsh_recall ann_ivf_recall
        embedding_near_dup_lsh_recall embedding_outliers embedding_near_dup
        embedding_knn embedding_quantize ann_lsh ann_ivf embedding_near_dup_lsh
    """,
    "crawl": """
        robots_filter cdx_index frontier_schedule robots_parse sitemap_parse
        warc_records snapshot_diff wet_export
    """,
    "text_quality": """
        gopher_rules quality_scores token_stats lang_pred filter_funnel
        repetition_stats pii_scrub compression_signal lm_score blocklist_tags
        classifier_scores c4_filters corpus_curation dsir_weights
        mixing_weights fuzzy_decontamination contamination_check
    """,
    "retrieval": """
        hybrid_search phrase_search bm25_search term_postings vocab_stats
    """,
    "graph": """
        pagerank_step anchor_texts link_spam hits_step host_link_graph
        host_pagerank
    """,
    "streaming": """
        events_sessionized_stream events_dedup_stream events_windowed_stream
    """,
}
FAMILY_NAMES = tuple(FAMILIES) + ("other",)

_FAMILY_OF = {q: fam for fam, names in FAMILIES.items() for q in names.split()}


def family(query: str) -> str:
    return _FAMILY_OF.get(query, "other")


def in_timed_sample(query: str) -> bool:
    """About a tenth of the registry, chosen by a hash of the name so the
    sample does not depend on registry order and a new query does not
    displace an old one."""
    return zlib.crc32(query.encode()) % 10 == 0
