"""The batch query list, frozen here so the benchmark does not move when
the repository's own bench script does.

``BENCH_QUERIES`` is the 98-name headline list (one or two heaviest members
of every operator family).  All 98 do not fit one run: a warm pass alone
takes about 35 s on a 4-core host.

``SUITE`` is the subset the ``batch_queries`` workload times in every run.
It was chosen from ``profile_queries.py``'s measurement of the full list:
12 names whose split of pass time over the families, and between builder
calls and ``noop`` writes, is close to the full list's.  It always holds
the batch replica semantics (``cdc_apply_changes``, ``cdc_scd2_history``).
Graph is over-weighted (about 16% of the suite's time against 8% of the
list's), because its cheapest query alone takes about 0.8 s.
"""

from __future__ import annotations

import re

FAMILIES = ("cdc", "relational", "similarity", "dedup", "text", "graph", "multimodal")

_FAMILY_RULES = (
    ("cdc", r"^(cdc_|kafka_|mvlog_|initial_load|lob_|ora_|registry_)"),
    ("relational", r"^(q\d+_|customer_|events_)"),
    ("similarity", r"^(similarity_|hybrid_)"),
    ("dedup", r"^dedup_"),
    ("text", r"^(text_|pipeline_)"),
    ("graph", r"^graph_"),
    ("multimodal", r"^multimodal_"),
)


def family(name: str) -> str:
    for fam, pattern in _FAMILY_RULES:
        if re.match(pattern, name):
            return fam
    raise ValueError(f"no family for query {name!r}")


SUITE = (
    "cdc_apply_changes",
    "cdc_scd2_history",
    "events_active_users",
    "q21_waiting_suppliers",
    "similarity_kmeans_cells",
    "dedup_chunk_passages",
    "dedup_minhash_lsh",
    "pipeline_curation_v2",
    "text_boilerplate_strip",
    "text_unigram_logprob",
    "graph_pagerank",
    "multimodal_audio_ehash",
)

BENCH_QUERIES = (
    "cdc_commit_order",
    "cdc_batch_dedup",
    "cdc_apply_changes",
    "cdc_debezium",
    "cdc_row_fusion",
    "kafka_records",
    "mvlog_batch",
    "initial_load_union",
    "lob_reassembly",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "customer_order_rank",
    "events_hourly",
    "events_sessionize",
    "events_range_join",
    "events_moving_avg",
    "events_value_profile",
    "events_funnel",
    "events_retention_cohorts",
    "events_active_users",
    "cdc_wrapped_apply",
    "cdc_direct_load",
    "cdc_chained_fusion",
    "cdc_replica_asof",
    "cdc_scd2_history",
    "lob_inflate",
    "q7_volume_shipping",
    "q9_product_profit",
    "q10_returned_items",
    "q18_large_volume_customers",
    "dedup_exact_groups",
    "dedup_ngram_jaccard",
    "dedup_tfidf_cosine",
    "dedup_minhash_lsh",
    "dedup_lsh_recall",
    "dedup_clusters_fast",
    "pipeline_curation_v2",
    "similarity_bruteforce_topk",
    "similarity_ivf_topk",
    "similarity_ivf_multiprobe",
    "similarity_near_dups",
    "similarity_sq8_recall",
    "similarity_pq_topk",
    "similarity_ivfpq_topk",
    "text_quality",
    "text_corpus_datasheet",
    "text_boilerplate_strip",
    "text_gopher_quality",
    "text_fingerprint",
    "text_contamination",
    "text_repetition",
    "text_pii_scrub",
    "text_unigram_logprob",
    "text_cms_topk",
    "text_tfidf_top_terms",
    "text_hll_distinct",
    "multimodal_decode",
    "events_asof_join",
    "text_bloom_membership",
    "pipeline_quota_sample",
    "pipeline_temperature_mix",
    "text_bigram_logprob",
    "text_winnow_candidates",
    "text_dup_span_fraction",
    "similarity_kmeans_cells",
    "graph_pagerank",
    "graph_triangles",
    "graph_kcore",
    "ora_tde_decrypt",
    "dedup_lsh_incremental",
    "multimodal_image_ahash",
    "multimodal_image_near_dups",
    "multimodal_audio_ehash",
    "registry_evolution",
    "pipeline_pack_sequences",
    "dedup_semantic",
    "text_bm25",
    "text_dsir",
    "hybrid_retrieval",
    "q21_waiting_suppliers",
    "text_url_domains",
    "pipeline_doc_chunks",
    "dedup_chunk_passages",
    "text_c4_lines",
    "dedup_url_canonical",
    "pipeline_token_budget",
    "similarity_ivfpq_refine",
    "dedup_simhash",
    "pipeline_token_budget_global",
    "similarity_opq_recall",
    "similarity_hyperplane_lsh",
    "text_perplexity_buckets",
    "text_bpe_merges",
    "dedup_content_chunks",
    "text_typo_pairs",
    "text_exact_substr_trim",
)
