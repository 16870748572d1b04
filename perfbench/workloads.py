"""Workload definitions: the ops of each workload, why it exists, and
which queries are left out and why. ``README.md`` maps each layer's
metrics to the end-to-end metrics they should move.

Each workload is a closed loop with one client: the next op starts only
after the previous one has completed. One pass runs every op of the
workload once, in an order the seed fixes.
"""

from __future__ import annotations

FLEET_TICK = "fleet_tick"

WORKLOADS: dict[str, dict] = {
    "fleet_tick": {
        "ops": [FLEET_TICK],
        "fleet_groups": 8,
        "why": (
            "The paper's own dataflow, one scheduled tick of the reference task: "
            "Python DataSource scans, per-tick localCheckpoints and the REST "
            "sink do the work; parquet scans do none."
        ),
    },
    # Runnable by hand; not listed in BENCHMARK.json. Its short JVM-only
    # ops move with the host: over ten seeds on a shared 4-core host its
    # pass_s spread (0.28 of the median) exceeded the 0.25 bound, and
    # three workloads at 22 runs each barely fit the hour the full set of
    # runs may take. Every layer it exercises is also exercised by
    # llm_curation.
    "warehouse_scan": {
        "ops": [
            "geotab_flagship",
            "pricing_summary",
            "join_large_fact",
            "market_share",
            "window_rank",
            "asof_join_events_orders",
        ],
        "why": (
            "JVM-only queries: scans, exchanges and codegen do nearly all the "
            "work and no Python runs, so it is the no-change control for "
            "Python-boundary and state changes."
        ),
    },
    "llm_curation": {
        "ops": [
            "minhash_near_dup",
            "semdedup_buckets",
            "embedding_topk",
            "ivf_ann_topk",
            "stateful_user_stats",
        ],
        "why": (
            "Dedup, embedding and grouped-map-with-state queries: the Python/Arrow "
            "boundary, Python-side eager loops (IVF build, size probes) and "
            "streaming state-store commits dominate while parquet input is tiny."
        ),
    },
    # Runnable by hand; not listed in BENCHMARK.json, because its runs do
    # not fit the hour the full set of runs may take on a 4-core host. Its
    # streaming state is measured on llm_curation (stateful_user_stats).
    "state_iterate": {
        "ops": [
            "streaming_tumbling_window",
            "streaming_dedup_keys",
            "bpe_learn_merges",
            "cdc_apply",
        ],
        "why": (
            "Streaming state-store commits and per-round checkpoint blocks: the "
            "storage layer is written, so a change that speeds reads at the "
            "cost of writes shows here."
        ),
    },
}

# Queries named for each workload in the benchmark's design but left out
# of its pass, so that one run (set-up, warm pass and measured passes)
# stays near half a minute on a 4-core host.
TRIMMED: dict[str, list[str]] = {
    "warehouse_scan": [
        "shipping_priority",
        "local_supplier_volume",
        "volume_shipping",
        "returned_item_report",
        "correlated_subquery",
        "bloom_semi_join",
        "salted_skew_join",
        "grouping_sets",
        "percentiles",
        "topk_per_group",
        "global_rownum_orders",
        "sessionize_events",
        "dedup_latest_events",
        "upsert_orders",
    ],
    "llm_curation": [
        "minhash_recall_eval",
        "simhash_near_dup",
        "doc_winnow_fingerprints",
        "ngram_jaccard_pairs",
        "dedup_exact_docs",
        "embedding_near_dup",
        "lsh_ann_topk",
        "kmeans_embeddings",
        "tfidf_top_terms",
        "multimodal_decode_stats",
        "pack_sequences",
    ],
    "state_iterate": [
        "streaming_sliding_window",
        "streaming_session_window",
        "streaming_stream_join",
        "geotab_stream_pipeline",
        "pagerank_parts",
        "recursive_order_chains",
        "entity_resolution",
        "heavy_hitters",
    ],
}

# Queries never used as ops: each memoises its input build per process
# through ``_materialize_once``, so only its first call does the work
# and every later call would time a cache hit.
EXCLUDED_MEMOISED: dict[str, str] = {
    "dedup_clusters": "reuses the per-process dedup lab table after its first call",
    "dedup_keep_best": "reuses the per-process dedup lab table after its first call",
    "ann_recall_eval": "reuses the per-process ANN evaluation table after its first call",
    "ndcg_eval": "reuses the per-process ANN evaluation table after its first call",
    "jsonl_ingest": "writes its JSONL input once per process, then only reads it",
    "csv_ingest": "writes its CSV input once per process, then only reads it",
    "orc_ingest": "writes its ORC input once per process, then only reads it",
    "schema_evolution": "writes its two schema versions once per process",
    "partitioned_write_prune": "writes its partitioned layout once per process",
}
