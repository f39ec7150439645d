"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: the full extraction pipeline over pages
                synthesized from sf0.001 documents.
queries()     — operator inventory from SURVEY.md §2 + training-data ops.
oracle_sql()  — the DuckDB twin of every query, same names, same order.

Both are views of ``_OPS``, one (name, builder, twin) row per operator.
"""

from __future__ import annotations

import os
import sys
from collections import Counter
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ai_ocr_spark.operators import curation as CU  # noqa: E402
from ai_ocr_spark.operators import dedup as D  # noqa: E402
from ai_ocr_spark.operators import graph as G  # noqa: E402
from ai_ocr_spark.operators import links as LNK  # noqa: E402
from ai_ocr_spark.operators import multimodal as MM  # noqa: E402
from ai_ocr_spark.operators import oracles as ORC  # noqa: E402
from ai_ocr_spark.operators import quality_lm as QL  # noqa: E402
from ai_ocr_spark.operators import relational as R  # noqa: E402
from ai_ocr_spark.operators import roundtrip as RT  # noqa: E402
from ai_ocr_spark.operators import roundtrip_docx as RDX  # noqa: E402
from ai_ocr_spark.operators import roundtrip_fields as RF  # noqa: E402
from ai_ocr_spark.operators import roundtrip_pdf as RP  # noqa: E402
from ai_ocr_spark.operators import roundtrip_xls as RXL  # noqa: E402
from ai_ocr_spark.operators import roundtrip_xlsx as RX  # noqa: E402
from ai_ocr_spark.operators import search as SRCH  # noqa: E402
from ai_ocr_spark.operators import similarity as SIM  # noqa: E402
from ai_ocr_spark.operators import sketch as SK  # noqa: E402
from ai_ocr_spark.operators import temporal as TP  # noqa: E402
from ai_ocr_spark.operators import textstats as TS  # noqa: E402
from ai_ocr_spark.operators import tokenizer as TOK  # noqa: E402
from ai_ocr_spark.sources import pages as PG  # noqa: E402
from ai_ocr_spark.streaming import ingest as SI  # noqa: E402
from ai_ocr_spark.streaming import stateful as SS  # noqa: E402
from ai_ocr_spark.streaming import windows as SW  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pages -> fused kernel extraction -> extractions."""
    from ai_ocr_spark.pipeline import extract_pages, pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    out = extract_pages(pages, run_id="entry", num_partitions=8)
    return out.select(
        "url", "content_kind", "doc_type", "lang", "valid", "confidence", "main_text"
    )


# One row per operator: (name, builder, DuckDB twin), in the order the
# correctness harness reads them. It checks the first 50 rows; each
# round, entries never checked go first, then those checked longest ago.
_OPS: list[tuple[str, Callable[[SparkSession, str], DataFrame], str]] = [
    ("graph_kcore", G.graph_kcore, G.KCORE_ORACLE_SQL),
    ("sketch_kmv_intersect", SK.sketch_kmv_intersect, SK.KMV_INTERSECT_ORACLE_SQL),
    ("events_anomaly_mad", TP.events_anomaly_mad, TP.ANOMALY_MAD_ORACLE_SQL),
    ("rfm_customer_segments", R.rfm_customer_segments, R.RFM_ORACLE_SQL),
    ("search_phrase_topk", SRCH.search_phrase_topk, SRCH.PHRASE_ORACLE_SQL),
    ("collocations_pmi", QL.collocations_pmi, QL.PMI_ORACLE_SQL),
    ("dedup_bloom_probe", SK.dedup_bloom_probe, SK.BLOOM_ORACLE_SQL),
    ("search_query_expansion", SRCH.search_query_expansion, SRCH.EXPANSION_ORACLE_SQL),
    ("search_spell_suggest", SRCH.search_spell_suggest, SRCH.SPELL_ORACLE_SQL),
    ("graph_triangle_count", G.graph_triangle_count, G.TRIANGLE_ORACLE_SQL),
    ("sketch_hll_merge_shards", SK.sketch_hll_merge_shards, SK.HLL_MERGE_ORACLE_SQL),
    ("text_zipf_fit", QL.text_zipf_fit, QL.ZIPF_ORACLE_SQL),
    ("text_keyphrases", QL.text_keyphrases, QL.KEYPHRASE_ORACLE_SQL),
    ("langid_eval_confusion", TS.langid_eval_confusion, TS.LANGID_CONFUSION_ORACLE_SQL),
    ("search_autocomplete", SRCH.search_autocomplete, SRCH.AUTOCOMPLETE_ORACLE_SQL),
    ("text_winnow_fingerprints", TS.text_winnow_fingerprints, TS.WINNOW_ORACLE_SQL),
    ("dedup_winnow_pairs", D.dedup_winnow_pairs, D.WINNOW_PAIRS_ORACLE_SQL),
    ("graph_degree_powerlaw", G.graph_degree_powerlaw, G.DEGREE_POWERLAW_ORACLE_SQL),
    ("mm_video_scene_cut", MM.mm_video_scene_cut_q, ORC.mm_video_scene_cut()),
    ("mm_audio_vad", MM.mm_audio_vad_q, ORC.mm_audio_vad()),
    ("events_funnel", R.events_funnel, R.FUNNEL_ORACLE_SQL),
    ("events_retention", R.events_retention, R.RETENTION_ORACLE_SQL),
    ("events_markov_transitions", R.events_markov_transitions, R.MARKOV_ORACLE_SQL),
    ("ann_hamming_topk", SIM.ann_hamming_topk, ORC.ann_hamming_topk()),
    ("stream_join_attribution", SW.stream_join_attribution, SW.ATTRIBUTION_ORACLE_SQL),
    ("quality_filter_fineweb", TS.quality_filter_fineweb, ORC.quality_filter_fineweb()),
    ("dedup_semdedup", SIM.dedup_semdedup, ORC.dedup_semdedup()),
    ("decontam_embedding", CU.decontam_embedding, ORC.decontam_embedding()),
    ("mm_ocr_text", MM.mm_ocr_text_q, ORC.mm_ocr_text()),
    ("ann_rrf_hybrid", SRCH.ann_rrf_hybrid, SRCH.HYBRID_ORACLE_SQL),
    ("ann_ivf_pq_topk", SIM.ann_ivf_pq_topk, SIM.IVFPQ_ORACLE_SQL),
    ("ann_ivf_pq_recall", SIM.ann_ivf_pq_recall, ORC.ann_ivf_pq_recall()),
    ("decontam_minhash", CU.decontam_minhash, ORC.decontam_minhash()),
    ("mm_image_ahash", MM.mm_image_ahash, ORC.mm_image_ahash()),
    ("text_readability", TS.text_readability, ORC.text_readability()),
    ("graph_salsa", G.graph_salsa, G.SALSA_ORACLE_SQL),
    ("text_pii_scrub", TS.text_pii_scrub, ORC.text_pii_scrub()),
    ("embedding_kmeans", SIM.embedding_kmeans, SIM.KMEANS_ORACLE_SQL),
    ("pagerank_link_graph", G.pagerank_link_graph, G.PAGERANK_ORACLE_SQL),
    ("dedup_incremental_lsh", D.dedup_incremental_lsh, ORC.dedup_incremental_lsh()),
    ("dedup_minhash_lsh", D.dedup_minhash_lsh, ORC.dedup_minhash_lsh()),
    ("tokenizer_bpe_encode", TOK.tokenizer_bpe_encode, TOK.BPE_ENCODE_ORACLE_SQL),
    ("search_rrf_fusion", SRCH.search_rrf_fusion, SRCH.RRF_ORACLE_SQL),
    # the streaming drain of the quantile sketch must equal the batch
    # recompute: one twin, two execution paths
    ("stream_quantiles_logbin", SW.stream_quantiles_logbin, SK.QSKETCH_ORACLE_SQL),
    # exact-reps LSH must reproduce the components labeling
    ("dedup_lsh_exact_reps", D.dedup_lsh_exact_reps, ORC.dedup_connected_components()),
    # the dimension-join eTLD+1 must reproduce the literal projection
    ("url_domain_etld1_dim", TS.url_domain_etld1_dim, TS.URL_ETLD1_ORACLE_SQL),
    ("pipeline_pdf_roundtrip", RP.pipeline_pdf_roundtrip, RP.ORACLE_SQL),
    ("pipeline_warc_roundtrip", RT.pipeline_warc_roundtrip, RT.WARC_ORACLE_SQL),
    ("dedup_embedding_keep_canonical", CU.dedup_embedding_keep_canonical,
     ORC.dedup_embedding_keep_canonical()),
    ("pipeline_invoice_roundtrip", RF.pipeline_invoice_roundtrip, RF.ORACLE_SQL),
    # ---- the correctness harness checks the rows above ----
    # batch==stream is the contract: the batch rule's twin verbatim
    ("stream_anomaly_mad", SW.stream_anomaly_mad, TP.ANOMALY_MAD_ORACLE_SQL),
    ("graph_assortativity", G.graph_assortativity, G.ASSORTATIVITY_ORACLE_SQL),
    ("graph_host_edges", G.graph_host_edges, G.HOST_EDGES_ORACLE_SQL),
    ("graph_ppr_seeds", G.graph_ppr_seeds, G.PPR_ORACLE_SQL),
    ("sketch_kmv_setops", SK.sketch_kmv_setops, SK.KMV_SETOPS_ORACLE_SQL),
    ("search_snippet_topk", SRCH.search_snippet_topk, SRCH.SNIPPET_ORACLE_SQL),
    ("search_proximity_topk", SRCH.search_proximity_topk, SRCH.PROX_ORACLE_SQL),
    ("ann_hamming_recall", SIM.ann_hamming_recall, ORC.ann_hamming_recall()),
    ("decontam_report", CU.decontam_report, ORC.decontam_report()),
    ("tokenizer_vocab_coverage", TOK.tokenizer_vocab_coverage,
     TOK.BPE_COVERAGE_ORACLE_SQL),
    ("pipeline_gzip_roundtrip", RT.pipeline_gzip_roundtrip, RT.GZIP_ORACLE_SQL),
    ("pipeline_sections", RT.pipeline_sections, RT.SECTIONS_ORACLE_SQL),
    ("pipeline_table_roundtrip", RT.pipeline_table_roundtrip, RT.ORACLE_SQL),
    ("stream_events_daily", SW.stream_events_daily, SW.STREAM_EVENTS_DAILY_ORACLE),
    ("dedup_exact", D.dedup_exact, ORC.dedup_exact()),
    ("dedup_simhash", D.dedup_simhash, ORC.dedup_simhash()),
    ("text_dup_fraction", D.text_dup_fraction, ORC.text_dup_fraction()),
    ("dedup_ngram_jaccard", D.dedup_ngram_jaccard, ORC.dedup_ngram_jaccard()),
    ("dedup_embedding_cosine", D.dedup_embedding_cosine, ORC.dedup_embedding_cosine()),
    ("dedup_embedding_lsh", SIM.dedup_embedding_lsh, ORC.dedup_embedding_lsh()),
    ("ann_cosine_topk", SIM.ann_cosine_topk, ORC.ann_cosine_topk()),
    ("ann_ivf_topk", SIM.ann_ivf_topk, ORC.ann_ivf_topk()),
    ("q1_pricing_summary", R.q1_pricing_summary, R.Q1_ORACLE_SQL),
    ("agg_keyword_score_argmax", R.agg_keyword_score_argmax,
     R.KEYWORD_ARGMAX_ORACLE_SQL),
    ("window_sessionize", R.window_sessionize, R.SESSIONIZE_ORACLE_SQL),
    ("join_nation_region_rollup", R.join_nation_region_rollup,
     R.NATION_REGION_ORACLE_SQL),
    ("join_customer_orders", R.join_customer_orders, R.CUSTOMER_ORDERS_ORACLE_SQL),
    ("agg_order_totals", R.agg_order_totals, R.ORDER_TOTALS_ORACLE_SQL),
    ("events_daily_metrics", R.events_daily_metrics, R.EVENTS_DAILY_ORACLE_SQL),
    ("agg_bool_checks", R.agg_bool_checks, R.BOOL_CHECKS_ORACLE_SQL),
    ("window_running_spend", R.window_running_spend, R.RUNNING_SPEND_ORACLE_SQL),
    ("join_semi_orders_with_items", R.join_semi_orders_with_items,
     R.SEMI_ORDERS_ORACLE_SQL),
    ("topk_parts_by_price", R.topk_parts_by_price, R.TOPK_PARTS_ORACLE_SQL),
    ("window_top3_events_per_user", R.window_top3_events_per_user,
     R.TOP3_EVENTS_ORACLE_SQL),
    ("join_anti_customers_without_orders", R.join_anti_customers_without_orders,
     R.ANTI_CUSTOMERS_ORACLE_SQL),
    ("filter_events_window", R.filter_events_window, R.EVENTS_WINDOW_ORACLE_SQL),
    ("filter_keyword_headers", R.filter_keyword_headers, R.KEYWORD_HEADERS_ORACLE_SQL),
    ("f_date_normalize", R.f_date_normalize, R.DATE_NORMALIZE_ORACLE_SQL),
    ("f_amount_normalize", R.f_amount_normalize, R.AMOUNT_NORMALIZE_ORACLE_SQL),
    ("f_lang_detect", R.f_lang_detect, R.LANG_DETECT_ORACLE_SQL),
    ("f_json_parse_fallback", R.f_json_parse_fallback, R.JSON_FALLBACK_ORACLE_SQL),
    ("agg_first3_events_per_user", R.agg_first3_events_per_user,
     R.FIRST3_EVENTS_ORACLE_SQL),
    ("f_doc_type_case", R.f_doc_type_case, R.DOC_TYPE_CASE_ORACLE_SQL),
    ("f_clamp_score", R.f_clamp_score, R.CLAMP_SCORE_ORACLE_SQL),
    ("union_head_tail", R.union_head_tail, R.UNION_HEAD_TAIL_ORACLE_SQL),
    ("orders_page2", R.orders_page2, R.ORDERS_PAGE2_ORACLE_SQL),
    ("pipeline_docx_roundtrip", RDX.pipeline_docx_roundtrip, RDX.ORACLE_SQL),
    ("search_bm25_topk", SRCH.search_bm25_topk, SRCH.BM25_ORACLE_SQL),
    ("search_index_refresh", SRCH.search_index_refresh, SRCH.IDX_REFRESH_ORACLE_SQL),
    ("tokenizer_bpe_pairs", TOK.tokenizer_bpe_pairs, TOK.BPE_ORACLE_SQL),
    ("tokenizer_bpe_train", TOK.tokenizer_bpe_train, TOK.BPE_TRAIN_ORACLE_SQL),
    ("sketch_quantiles_logbin", SK.sketch_quantiles_logbin, SK.QSKETCH_ORACLE_SQL),
    ("ann_ivf_recall", SIM.ann_ivf_recall, ORC.ann_ivf_recall()),
    ("ann_pq_topk", SIM.ann_pq_topk, SIM.PQ_ORACLE_SQL),
    ("ann_pq_recall", SIM.ann_pq_recall, ORC.ann_pq_recall()),
    ("quality_perplexity_unigram", QL.quality_perplexity_unigram,
     QL.PERPLEXITY_ORACLE_SQL),
    ("quality_perplexity_bigram", QL.quality_perplexity_bigram, QL.BIGRAM_ORACLE_SQL),
    ("quality_perplexity_kn", QL.quality_perplexity_kn, QL.KN_ORACLE_SQL),
    ("text_token_entropy", QL.text_token_entropy, QL.ENTROPY_ORACLE_SQL),
    ("quality_classifier_nb", QL.quality_classifier_nb, QL.NB_ORACLE_SQL),
    ("classifier_eval_pr", QL.classifier_eval_pr, QL.EVAL_PR_ORACLE_SQL),
    ("sample_dsir_select", QL.sample_dsir_select, QL.DSIR_ORACLE_SQL),
    ("dsir_eval_report", QL.dsir_eval_report, QL.DSIR_EVAL_ORACLE_SQL),
    ("text_langid_ngram", TS.text_langid_ngram, TS.LANGID_NGRAM_ORACLE_SQL),
    ("text_fix_mojibake", TS.text_fix_mojibake, TS.MOJIBAKE_ORACLE_SQL),
    ("url_domain_etld1", TS.url_domain_etld1, TS.URL_ETLD1_ORACLE_SQL),
    ("text_nfc_normalize", TS.text_nfc_normalize, TS.NFC_ORACLE_SQL),
    ("sample_mix_epochs", CU.sample_mix_epochs, CU.MIX_EPOCHS_ORACLE_SQL),
    ("stream_session_windows", SW.stream_session_windows,
     SW.SESSION_WINDOWS_ORACLE_SQL),
    ("pipeline_resume_snapshot", RT.pipeline_resume_snapshot,
     RT.RESUME_SNAPSHOT_ORACLE_SQL),
    ("pipeline_wet_roundtrip", RT.pipeline_wet_roundtrip, RT.WET_ORACLE_SQL),
    ("warc_cdx_index", RT.warc_cdx_index, RT.CDX_ORACLE_SQL),
    ("extract_outlinks", LNK.extract_outlinks, LNK.OUTLINKS_ORACLE_SQL),
    ("anchor_text_index", LNK.anchor_text_index, LNK.ANCHOR_INDEX_ORACLE_SQL),
    ("filter_robots_gate", LNK.filter_robots_gate, LNK.ROBOTS_ORACLE_SQL),
    ("crawl_delta_report", D.crawl_delta_report, ORC.crawl_delta_report()),
    ("crawl_frontier_topk", LNK.crawl_frontier_topk, LNK.FRONTIER_ORACLE_SQL),
    ("crawl_schedule_waves", LNK.crawl_schedule_waves, LNK.SCHEDULE_ORACLE_SQL),
    ("sitemap_discover", LNK.sitemap_discover, LNK.SITEMAP_ORACLE_SQL),
    ("catalog_compact_roundtrip", RT.catalog_compact_roundtrip, RT.COMPACT_ORACLE_SQL),
    ("pipeline_metrics_report", RT.pipeline_metrics_report,
     RT.METRICS_REPORT_ORACLE_SQL),
    ("mm_image_features", MM.mm_image_features_q, ORC.mm_image_features()),
    ("mm_frame_sample", MM.mm_frame_sample_q, ORC.mm_frame_sample()),
    ("mm_audio_stats", MM.mm_audio_stats_q, ORC.mm_audio_stats()),
    ("dedup_connected_components", D.dedup_connected_components,
     ORC.dedup_connected_components()),
    ("dedup_lsh_recall", D.dedup_lsh_recall, ORC.dedup_lsh_recall()),
    ("dedup_minhash_keep_canonical", CU.dedup_minhash_keep_canonical,
     ORC.dedup_minhash_keep_canonical()),
    ("search_keyword_topk", SRCH.search_keyword_topk, SRCH.SEARCH_ORACLE_SQL),
    ("pipeline_main_text", RT.pipeline_main_text, RT.MAIN_TEXT_ORACLE_SQL),
    ("pipeline_xlsx_roundtrip", RX.pipeline_xlsx_roundtrip, RX.ORACLE_SQL),
    ("text_token_stats", TS.text_token_stats, ORC.text_token_stats()),
    ("text_quality_scores", TS.text_quality_scores, ORC.text_quality_scores()),
    ("text_langid", TS.text_langid, ORC.text_langid()),
    ("text_fingerprint", TS.text_fingerprint, ORC.text_fingerprint()),
    ("text_line_dedup", TS.text_line_dedup, ORC.text_line_dedup()),
    ("url_canonicalize", TS.url_canonicalize, ORC.url_canonicalize()),
    ("quality_filter_gopher", TS.quality_filter_gopher, ORC.quality_filter_gopher()),
    ("agg_column_profile", R.agg_column_profile, R.COLUMN_PROFILE_ORACLE_SQL),
    ("agg_rollup_category", R.agg_rollup_category, R.ROLLUP_CATEGORY_ORACLE_SQL),
    ("sniff_roundtrip", PG.sniff_roundtrip, PG.SNIFF_ORACLE_SQL),
    ("stream_events_daily_append", SW.stream_events_daily_append,
     SW.STREAM_EVENTS_DAILY_APPEND_ORACLE),
    ("pipeline_xls_roundtrip", RXL.pipeline_xls_roundtrip, RXL.ORACLE_SQL),
    ("stream_stateful_domain_counts", SS.stream_stateful_domain_counts,
     SS.stateful_oracle_sql()),
    ("text_unigram_rarity", TS.text_unigram_rarity, ORC.text_unigram_rarity()),
    ("quality_filter_c4", TS.quality_filter_c4, ORC.quality_filter_c4()),
    ("dedup_url_keep_first", D.dedup_url_keep_first, ORC.dedup_url_keep_first()),
    ("stream_dedup_urls", SI.stream_dedup_urls, SI.STREAM_DEDUP_URLS_ORACLE),
    ("dedup_substring_spans", D.dedup_substring_spans, ORC.dedup_substring_spans()),
    ("agg_domain_stats", TS.agg_domain_stats, ORC.agg_domain_stats()),
    ("quality_filter_gopher_rep", TS.quality_filter_gopher_rep,
     ORC.quality_filter_gopher_rep()),
    ("decontam_ngram_overlap", CU.decontam_ngram_overlap, ORC.decontam_ngram_overlap()),
    ("sample_domain_cap", CU.sample_domain_cap, ORC.sample_domain_cap()),
    ("dedup_lines_global", CU.dedup_lines_global, ORC.dedup_lines_global()),
    ("sample_token_budget", CU.sample_token_budget, ORC.sample_token_budget()),
    ("curation_funnel", CU.curation_funnel, ORC.curation_funnel()),
    ("filter_bloom_blocklist", CU.filter_bloom_blocklist, ORC.filter_bloom_blocklist()),
    ("agg_length_percentiles", SK.agg_length_percentiles, SK.PERCENTILE_ORACLE_SQL),
    ("sample_stratified_split", SK.sample_stratified_split, SK.SPLIT_ORACLE_SQL),
    ("sketch_distinct_hll", SK.sketch_distinct_hll, SK.HLL_ORACLE_SQL),
    ("sample_temperature_mix", CU.sample_temperature_mix,
     CU.TEMPERATURE_MIX_ORACLE_SQL),
    ("sketch_heavy_hitters_cms", SK.sketch_heavy_hitters_cms, SK.CMS_ORACLE_SQL),
    ("pipeline_domain_report", RT.pipeline_domain_report, RT.DOMAIN_REPORT_ORACLE_SQL),
    ("sample_pack_sequences", CU.sample_pack_sequences, ORC.sample_pack_sequences()),
    ("embedding_label_outliers", SIM.embedding_label_outliers,
     ORC.embedding_label_outliers()),
    ("text_chunk_windows", TS.text_chunk_windows, ORC.text_chunk_windows()),
    ("agg_cube_status_priority", R.agg_cube_status_priority, R.CUBE_STATUS_ORACLE_SQL),
    ("join_asof_orders", TP.join_asof_orders, TP.ASOF_ORACLE_SQL),
    ("range_join_event_pairs", TP.range_join_event_pairs, TP.RANGE_ORACLE_SQL),
    ("sketch_distinct_kmv", SK.sketch_distinct_kmv, SK.KMV_ORACLE_SQL),
    ("sample_hash_stable", SK.sample_hash_stable, SK.SAMPLE_ORACLE_SQL),
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Operator name -> (spark, sf_dir) -> DataFrame, in ``_OPS`` order."""
    q = {name: builder for name, builder, _ in _OPS}
    if len(q) != len(_OPS):
        dups = [n for n, k in Counter(n for n, _, _ in _OPS).items() if k > 1]
        raise ValueError(f"operator names repeat in _OPS: {dups}")
    return q


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, _, sql in _OPS}
