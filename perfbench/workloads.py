"""The benchmark's workloads: named lists of registry queries.

Each workload runs as one single-threaded closed loop. Consecutive
queries always differ, so the registry releases the previous query's
plan caches, checkpoints and built-frame memo before every build and
each query is built cold, as in a one-shot report or pipeline run.
Why each workload was chosen is in README.md.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    # the reference's batch reports and MDX cube: plan building in
    # plans and mdx; no Python workers, streams or writes
    "report-cold": [
        "weekly_report", "daily_cat_dist", "awk_totals", "dims_catalog",
        "dim_timeperiod", "star_fact", "olap_rollups",
        "topk_categories_per_district", "pricing_summary", "revenue_by_nation",
    ],
    # the write path: lakehouse merge/time travel/CDF, CSV/TSV round
    # trips, state-store streams and a Python UDF
    "ingest-write": [
        "lakehouse_roundtrip", "csv_crimes_roundtrip", "tsv_report_roundtrip",
        "stream_window_counts", "stream_stateful_totals",
        "stream_materialized_daily",
    ],
    # LLM-data operators, execution-bound: shuffles and Python workers,
    # no mdx or streams. Not in BENCHMARK.json: see README.md
    "corpus-pipeline": [
        "dedup_exact_flags", "dedup_near_jaccard", "dedup_minhash_lsh",
        "dedup_simhash", "text_profile", "corpus_clean_stats", "corpus_pack",
        "corpus_sample", "token_doc_freq", "knn_bruteforce",
        "embedding_near_pairs", "multimodal_profile",
    ],
}
