"""The benchmark's workloads: which engine calls each one makes, on
inputs of what size, and why it was chosen.

``SQL_ANALYTICS``, ``CORPUS_TEXT`` and ``ITERATIVE_GRAPH`` split
``bench.py``'s ``HEADLINE`` queries by the layer that dominates them;
together they are exactly ``HEADLINE`` (a test keeps it that way).
``read_mix`` runs one op for each read layer, drawn from them, and
``telemetry_ingest`` runs the reference's ETL.

Why two workloads rather than one per catalogue: every run is a fresh
process that pays a cold JVM and session start (about 10 s on a 4-core
host) and a cold first pass before it measures anything, and a
``run_pipeline`` call costs about 7 s. A warm pass over all 63
headliners takes about a minute even on the smallest inputs, so whole
catalogues, or four workloads of a minute or more each, would stretch a
full measurement (4 + 22 runs per workload, within an hour) past its
time.
"""

from __future__ import annotations

from dataclasses import dataclass

from gen import Sizes

SQL_ANALYTICS = (
    "daily_rollup", "hour_dedup",
    "pricing_summary", "revenue_by_nation", "top_orders_by_revenue",
    "order_count_histogram", "revenue_7d_moving_avg",
    "skew_safe_order_revenue", "order_value_proration",
    "join_cardinality_estimate", "snapshot_diff_summary",
    "events_column_profile", "quantile_histogram_estimates",
    "zone_map_skipping_stats", "fuzzy_part_name_pairs",
    "purchase_attribution_asof", "user_sessions",
    "multi_touch_attribution", "max_concurrent_sessions",
    "sliding_7d_distinct_users", "event_pattern_match",
)

CORPUS_TEXT = (
    "near_dup_jaccard_pairs", "near_dup_jaccard_pairs_guarded",
    "near_dup_jaccard_pairs_bitset", "cross_source_contamination",
    "minhash_jaccard_estimate_error", "simhash_buckets",
    "bloom_prefilter_decontamination", "dup_span_removal",
    "benchmark_ngram_overlap", "boilerplate_ngrams",
    "token_stats_by_lang", "tfidf_top_term_per_doc",
    "doc_chunking_stats", "sequence_packing_stats", "quality_funnel",
    "bigram_logprob_quality", "bigram_lm_quality_score",
    "naive_bayes_lang_accuracy", "bm25_doc_topk", "hybrid_retrieval_rrf",
    "deterministic_epoch_shuffle", "curriculum_schedule",
    "systematic_pps_sample", "cosine_topk_bruteforce",
    "int8_quantized_cosine_topk", "sketch_rerank_cascade",
    "kmeans_assignment_round", "embedding_decontamination_audit",
    "frequent_tokens_sketch", "distinct_token_sketches",
    "ams_second_moment",
)

ITERATIVE_GRAPH = (
    "copurchase_pagerank", "copurchase_label_communities",
    "copurchase_shortest_paths", "textrank_keyword_scores",
    "near_dup_clusters", "corpus_curation_stats", "curated_training_mix",
    "leakage_safe_split", "leakage_safe_split_materialized",
    "copurchase_graph_levels", "copurchase_triangles",
)

READ_CATALOGUES = (SQL_ANALYTICS, CORPUS_TEXT, ITERATIVE_GRAPH)


@dataclass(frozen=True)
class ReadWorkload:
    name: str
    why: str
    sizes: Sizes
    ops: tuple[str, ...]
    passes: int        # steady passes a run makes at least


@dataclass(frozen=True)
class IngestWorkload:
    name: str
    why: str
    runs: int          # timed single-window run_pipeline calls per pass
    backfill: int      # windows in the pass's multi-window backfill
    passes: int        # steady passes a run makes at least


# One op per read layer, each the headliner that exercises it most
# directly. The first two are the reference's own analytics queries.
READ_MIX = ReadWorkload(
    name="read_mix",
    why=("one op for each read layer: scan, join, window and dedup "
         "execution, a Python-worker sketch, text scoring and an "
         "iterative graph loop"),
    sizes=Sizes(customer=1500, supplier=100, part=2000, orders=15000,
                events=20000, documents=500, embeddings=200),
    ops=(
        "daily_rollup",               # day GROUP BY over events (view_daily_cleanliness)
        "hour_dedup",                 # operators.dedup window: keep first row per hour
        "pricing_summary",            # scan + hash aggregate over lineitem
        "top_orders_by_revenue",      # three-way join + top-k
        "user_sessions",              # operators.temporal gap sessionization (lag window)
        "frequent_tokens_sketch",     # the one MapInPandas node (Python workers)
        "tfidf_top_term_per_doc",     # text row expansion
        "copurchase_shortest_paths",  # operators.graph loop rounds
    ),
    # three passes give 24 op samples, enough for a tail percentile
    # above the median (see measure.tail_percentile)
    passes=3,
)

TELEMETRY_INGEST = IngestWorkload(
    name="telemetry_ingest",
    why=("the reference's hourly ETL into parquet sinks: the only workload "
         "that writes, so the only one that measures pipeline, sinks and "
         "sources"),
    runs=3,
    backfill=12,
    # one pass (about 25 s) already outlasts --seconds; a second would
    # push a full measurement past its hour
    passes=1,
)

WORKLOADS = {w.name: w for w in (READ_MIX, TELEMETRY_INGEST)}
