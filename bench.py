"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value" (total sec), "unit", "queries", "sf"}.

Each query is materialized through the `noop` sink (full execution, no
collect-to-driver, no disk write) — the closest local analogue of a
cluster job's scan→transform→sink path.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the BASELINE.md bench shapes (star fact build, semantic
# rollup, surrogate increment, ingest-shaped scan) + aggregation, state
# (sessionize), and the LLM-data operators. Brute-force O(n^2) variants
# are deliberately excluded — the LSH paths are the at-scale ones.
BENCH_QUERIES = [
    "gosales_sales_fact",
    "gosales_sales_overview",
    "pricing_summary",
    "surrogate_increment",
    "ingest_cast_ladder",
    "events_sessionize",
    "events_tumbling",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "tfidf_top_terms",
    "sketch_frequent_items",
    "pii_redact_contacts",
    "similarity_knn",
    "similarity_knn_ivf",
    "similarity_neardup_lsh",
    "decontaminate_overlap",
    "corpus_mixture_sample",
    "funnel_conversion",
    "stream_tumbling",
    "stream_sessionize_stateful",
    "stream_kafka_parse",
    "mask_roundtrip",
    # round-3 additions
    "gosales_catalog_overview",
    "expectations_check",
    "expectations_quarantine",
    "semantic_dedup_keep",
    "stratified_take_quota",
    "versioned_delete",
    "paragraph_dedup_c4",
    # round-4 additions
    "merge_upsert_contract",
    "similarity_knn_bucketed",
    "dedup_incremental_ledger",
    "token_budget_take",
    "neardup_incremental_ledger",
    "stream_dedup_ledger",
    "bucketed_colocated_join",
    "versioned_schema_evolve",
    "stream_static_enrich",
    "vector_ops_hof",
    "chunk_documents_udtf",
    "corpus_intake_pipeline",
    # round-9 additions
    "html_extract_text",
    "html_intake_pipeline",
    "image_phash_neardup_reps",
    "html_link_extract",
    "html_text_density",
    "url_normalize_dedup",
    "html_line_boilerplate",
    # round-5 additions
    "similarity_bucketed_recall",
    "dedup_ledger_compacted",
    "dataset_split_assign",
    "stream_neardup_ledger",
    "semantic_dedup_kmeans",
    "crossdoc_duplication_stats",
    "distribution_drift_psi",
    "categorical_drift_psi",
    "minhash_estimate_error",
    "neardup_ledger_compacted",
    "split_leakage_check",
    # round-6 additions
    "quantile_drift_ks",
    "gopher_quality_gates",
    "token_rarity_score",
    "embedding_int8_audit",
    "kmv_distinct_estimate",
    "weighted_priority_sample",
    "mutual_knn_pairs",
    "source_overlap_jaccard",
    "shingle_novelty_curve",
    "stream_kmv_distinct",
    "source_minhash_overlap",
    "tokenizer_vocab_coverage",
    "bpe_merge_pairs",
    "knn_graph_triangles",
    "halflife_decay_engagement",
    "rare_ngram_cosine_pairs",
    "content_defined_chunks",
    "kmv_source_set_algebra",
    "winnowing_fingerprints",
    "window_percent_rank_cume",
    "winnow_match_spans",
    "source_containment",
    # round-7 additions
    "dedup_substring_excise",
    "bpe_train_merges",
    "mutual_knn_bucketed",
    "knn_triangles_bucketed",
    "excise_source_stats",
    "neardup_top1",
    "stream_substring_excise",
    "doc_surprisal_score",
    "dup_cluster_histogram",
    "knn_label_agreement",
    "shard_assign_balanced",
    "bpe_apply_compression",
    "split_leakage_spans",
    "ivf_list_stats",
    "lang_id_confusion",
    # round-8 additions
    "substring_excise_ledger_compacted",
    "image_phash_neardup",
    "quality_classifier_score",
    "audio_fingerprint_neardup",
    "intradoc_paragraph_dedup",
    "video_frame_neardup",
    "classifier_vs_gates_confusion",
    "image_phash_incremental_ledger",
    "media_transform_roundtrip",
    "video_frame_sampling",
    "stream_phash_ledger",
    "stream_html_intake",
    # round-10 additions
    "charset_repair",
    "per_host_budget_take",
    "html_main_content",
    "image_phash_recall",
    "url_strip_tracking",
    "html_anchor_texts",
    "script_profile",
    "robots_filter_frontier",
    "frontier_pipeline",
    "url_trap_detect",
    "recrawl_schedule",
    "host_reputation_rollup",
    "snapshot_latest_dedup",
    "sitemap_url_extract",
    "anchor_text_index",
    "bitext_margin_mining",
    "graph_hits_scores",
    "fetch_triage_verdicts",
    "stream_frontier_dedup",
    "link_reciprocity_farms",
    "doc_bigram_surprisal",
    "http_response_parse",
    "robots_txt_parse_eval",
    "stream_recrawl_schedule",
    "sentence_dedup_stats",
    "fetch_due_queue",
    "host_latency_delay",
    "triplet_mining_hard_neg",
    "doc_lang_mixture",
    "warc_record_extract",
    "bitext_split_leakage",
    "bpe_train_merges_k8",
    "warc_intake_pipeline",
    "stream_warc_intake",
    "revalidation_plan",
    "sitemap_index_expand",
    # round-12 additions
    "warcgz_record_extract",
    "warcgz_intake_pipeline",
    "pdf_text_extract",
    "warc_intake_pdf",
    "revalidation_merge",
    "graph_pagerank_incremental",
    "stream_warcgz_intake",
    "warc_record_index",
    # round-13 additions: the r12 batch-2 rows that shipped outside the
    # regression gate (r12 judge item #2)
    "graph_hits_incremental",
    "similarity_knn_pq",
    "similarity_pq_recall",
    "bm25_topk",
    "html_table_extract",
    "html_table_harvest",
    "robots_sitemap_discover",
    "warc_digest_dedup",
    "robots_crawl_delay",
    "sitemap_discovery_pipeline",
    # round-13 additions — every new graded query enters the gate the
    # round it ships (the r12 batch-2 lesson)
    "similarity_knn_ivfpq",
    "similarity_ivfpq_recall",
    "similarity_ivfpq_rerank",
    "similarity_pq_append",
    "warc_record_fetch",
    "recrawl_sitemap_boost",
    "stream_sitemap_discovery",
    "robots_wildcard_eval",
    "cache_control_ttl",
    "cache_revalidation_pipeline",
    "warc_revisit_records",
    "feed_discovery",
    "recrawl_feed_boost",
    "feed_autodiscovery",
    "stream_feed_discovery",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from gcp_etl_pipeline_spark.session import get_session
    import __spark_entry__ as entrymod

    spark = get_session(app_name="bench")
    queries = entrymod.queries()

    # Untimed warm-up pass over the whole set: first execution of a shape
    # pays one-time JVM JIT + codegen + class-loading costs (measured ~5-7s
    # for the AES path alone) that a long-running engine amortizes to zero.
    # The timed pass below reports steady-state throughput.
    for name in BENCH_QUERIES:
        queries[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Three timed passes, keep the per-query MEDIAN: single-run numbers
    # on a shared box swing 2-4x from external CPU noise; min-of-N hides
    # real regressions behind one lucky run (the r4 1.85x similarity
    # regression sailed under a 2.0x total gate), while the median of 3
    # is noise-robust AND regression-sensitive enough to gate per query
    # at ~1.3x (tools/bench_diff.py).
    import gc
    import statistics

    samples: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    for _pass in range(3):
        for name in BENCH_QUERIES:
            # time construction + execution: some operators (streaming
            # drains, sketch builds) do real work before the final action
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(round(time.time() - t0, 3))
            # drop the DataFrame reference and collect BETWEEN queries
            # (outside the timed window): eagerly-checkpointed operators
            # (semantic_dedup, the incremental ledgers) free their
            # executor blocks via the ContextCleaner only after the
            # Python wrapper is GC'd — without this, blocks from ~100
            # invocations accumulate across the run and squeeze the
            # executor storage pool
            del df
            gc.collect()

    timings = {
        name: round(statistics.median(vals), 3)
        for name, vals in samples.items()
    }
    out = {
        "metric": "bench_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "stat": "median3",  # bench_diff only gates runs with equal stat
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    spark.stop()
    # cross-round history (stable query keys): each run appends one line,
    # so regressions are diffable without digging per-round BENCH files
    try:
        hist = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH_HISTORY.jsonl")
        with open(hist, "a") as fh:
            fh.write(json.dumps({"ts": int(time.time()), **out}) + "\n")
    except OSError:
        pass
    print(json.dumps(out))


if __name__ == "__main__":
    main()
