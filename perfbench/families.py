"""Every entry query mapped to exactly one family, by the ``functions/``
or ``operators/`` module it calls; queries written inline in
``entry_queries.py`` go to the family whose module they re-express.

dedup  - functions/dedup (exact, MinHash/SimHash, spans, fingerprints)
ann    - functions/similarity (and the vector features of multimodal)
text   - functions/text, functions/sample (filters, scoring, sampling)
logops - operators/* (parse, enrich, route, modify, multiline,
         sessionize, asof, rangejoin) and the log/event aggregates
"""

from __future__ import annotations

FAMILIES = ("dedup", "ann", "text", "logops")

FAMILY_OF: dict[str, str] = {
    "grok_parse_nginx": "logops",
    "json_extract_events": "logops",
    "multiline_stitch": "logops",
    "enrich_broadcast": "logops",
    "route_fanout_counts": "logops",
    "modifier_redact": "logops",
    "lang_counts": "text",
    "dedup_exact": "dedup",
    "minhash_signatures": "dedup",
    "text_stats": "text",
    "ann_cosine_topk": "ann",
    "events_windowed": "logops",
    "events_user_windows": "logops",
    "events_sliding_windows": "logops",
    "route_fanout_rows": "logops",
    "lang_scores": "text",
    "minhash_band_pairs": "dedup",
    "tpch_q1": "logops",
    "topk_per_group": "logops",
    "syslog_rfc5424": "logops",
    "syslog_rfc3164": "logops",
    "ngram_jaccard_pairs": "dedup",
    "dedup_clusters": "dedup",
    "incremental_dedup": "dedup",
    "incremental_dedup_bloom": "dedup",
    "incremental_neardup": "dedup",
    "unigram_commonness": "text",
    "span_dup_stats": "dedup",
    "span_dedup_text": "dedup",
    "dsir_weights": "text",
    "dsir_resample": "text",
    "tfidf_keywords": "text",
    "token_budget_sample": "text",
    "length_quantiles": "text",
    "corpus_keep_list": "dedup",
    "embedding_neardup_verified": "ann",
    "sessionize_events": "logops",
    "doc_fingerprints": "dedup",
    "asof_last_purchase": "logops",
    "range_join_windows": "logops",
    "simhash_groups": "dedup",
    "simhash_near_pairs": "dedup",
    "quality_filter": "text",
    "contamination_overlap": "dedup",
    "source_mix": "text",
    "repetition_stats": "text",
    "stratified_sample": "text",
    "webtext_route_counts": "logops",
    "host_stats": "logops",
    "host_page_cap": "logops",
    "url_canonical_dedup": "text",
    "embedding_lsh_candidates": "ann",
    "ivf_topk": "ann",
    "ivf_topk_multiprobe": "ann",
    "kmeans_clusters": "ann",
    "ivf_topk_trained": "ann",
    "pq_topk": "ann",
    "semdedup": "ann",
    "c4_line_filter": "text",
    "doc_chunks": "text",
    "sequence_pack_bins": "text",
    "unicode_nfc_dedup": "text",
    "mix_rebalance": "text",
    "winnow_fingerprints": "dedup",
    "ivfpq_topk": "ann",
    "ivfpq_residual_topk": "ann",
    "sq8_topk": "ann",
    "knn_label_vote": "ann",
    "line_dedup": "dedup",
    "frequent_ngrams": "text",
    "pii_redact": "text",
    "bpe_merges": "text",
    "bpe_encode_stats": "text",
    "corpus_release": "text",
    "multimodal_features": "ann",
}

# The queries the benchmark times, two per family, in registry order.
# A full 75-query sweep takes about a minute even on tiny tables
# (per-query job scheduling dominates), more than one run may spend.
SWEEP = (
    "ann_cosine_topk",
    "minhash_band_pairs",
    "syslog_rfc5424",
    "tfidf_keywords",
    "sessionize_events",
    "simhash_groups",
    "unicode_nfc_dedup",
    "knn_label_vote",
)
