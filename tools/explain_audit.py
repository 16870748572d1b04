"""Physical-plan audit: assert the plans we WANT, not just plans that
pass. Run after adding/changing operators:

    python tools/explain_audit.py [sf_dir]

Checks, per query:
- no accidental CartesianProduct / BroadcastNestedLoopJoin (allowed
  only where declared intentional — the exact all-pairs baselines);
- parquet scans carry PushedFilters when the query filters a scan
  column, and ReadSchema is pruned (no SELECT * scans);
- expected join strategies (broadcast for dim joins, SMJ/SHJ for
  fact-fact);
- TakeOrderedAndProject for global top-k;
- partial aggregation (map-side combine) before the shuffle in hash
  aggregates.

Exit code 1 on any violation; prints the offending plan span.
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_geotab_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

# queries that legitimately contain an all-pairs theta join
ALLOW_NESTED_LOOP = {
    "embedding_near_dup",  # deliberate exact baseline (LSH twin exists)
    "embedding_topk",      # broadcast query side × corpus is the design
    "geotab_flagship",     # scalar max-date cross (1-row broadcast)
    "lsh_ann_topk",        # band-join plan; small-SF AQE may inline tiny sides
    "bigram_pmi",          # 1-row corpus-totals frame × tokens (scalar broadcast)
    "mad_outliers",        # 1-row median / MAD scalars × orders (scalar broadcast)
    "source_temperature_resample",  # 1-row total/zsum scalars × per-source rows
    "skyline_pareto",       # dominance anti-join over the tiny candidate frontier
    "heavy_hitters",        # 1-row total-count scalar × candidate counts
    "unigram_logprob",      # 1-row corpus-total scalar × tokens
    "association_rules",    # 1-row basket-count scalar × rule rows
    "important_parts",      # 1-row global-turnover cutoff × per-part aggs
    "idle_rich_customers",  # 1-row avg-balance scalar × customers
    "zorder_cluster",       # 1-row min/max quantization bounds × orders
    "embedding_quantize",   # 1-row per-dim min/max array pair × vectors
    "skew_profile",         # 1-row summary × 1-row top-10 scalar
    "distribution_drift",   # 1-row grand-total scalar × weekly cells
    "dq_audit",             # 1-row lazy total × 1-row violation count
    "bm25_search",          # 1-row corpus-stats scalar × per-doc tf rows
    "logodds_terms",        # 1-row corpus-totals scalar × per-term counts
    "contrastive_pairs",    # bounded anchor broadcast × corpus (exact tier)
    "hotspot_regions",      # 1-row density-threshold scalar × cell counts
    "knn_accuracy",         # bounded query-sample broadcast × corpus (exact tier)
    "rolling_active_users", # 1-row span scalar × fanout rows
    "winsorized_stats",     # 1-row percentile-bounds scalar × events
    "cohens_kappa",         # 1-row agreement scalar × 1-row marginal product
    "keyset_pagination",    # 1-row cursor scalar × orders scan (both TakeOrdered)
    "quantized_rescore_topk",  # bounded query-sample broadcast × corpus (symmetric codec, no corpus stats)
}

# Allowlist entries whose exempted pattern is SF- or planner-variant:
# the pattern legitimately appears at some scales/configs and not
# others, so the dead-entry sweep must not flap on them. Every entry
# needs a comment naming the variance source. Scoped PER SWEEP (r16
# review): a nested-loop variance adjudication must not silently
# exempt the same name from the global-window sweep, or vice versa.
PLAN_VARIES_NLJ = {
    "lsh_ann_topk",  # band-join plan; small-SF AQE may inline tiny
                     # sides into a BNLJ or not, run to run
    "contrastive_pairs",  # EXPECT_CONTAINS already accepts BNLJ-or-
                          # BHJ for it: the bounded anchor broadcast
                          # is planned either way by AQE/version
}
PLAN_VARIES_GW: set[str] = set()  # no variant global-window entries yet

# The dead-exemption sweep evaluates allowlist liveness against plans
# from THIS dir only, whatever sf_dir the full audit ran at — see the
# sweep block in audit_plans (r16 advice: sf-dependent verdicts made
# the pytest gate at sf0.001 and the CLI at sf0.01 disagree).
SWEEP_SF_DIR = "/root/testdata/sf0.01"

# queries allowed to keep a global (no PARTITION BY) window: the
# frame under the window must be provably pre-reduced far below the
# input (documented bound in the query docstring). Everything else
# must route through operators/rownum.py's range-partitioned
# numbering/prefix-sum — a raw global window is a single-task
# bottleneck at scale and fails the audit hard.
ALLOW_GLOBAL_WINDOW = {
    "kaplan_meier",  # windows over the hourly curve frame, <=74 rows by
                     # the 72h censoring-horizon constant
    "vocab_coverage",  # cumulative window over a limit(256) frame —
                       # bounded by the vocab-size literal
    "decile_lift",  # cumulative-share window over the EXACTLY-10-row
                    # decile aggregate (bucket-count literal); the
                    # decile cut itself is range-partitioned rownum
}


def global_window_specs(plan: str) -> list[str]:
    """Return windowspecdefinition(...) occurrences with NO partition
    columns. In plan text the spec is
    ``windowspecdefinition(part..., ord ASC/DESC..., frame)``; order
    tokens carry ASC/DESC, partition tokens are bare refs — a spec
    whose every pre-frame token is ordered is a global window."""
    hits = []
    for m in re.finditer(r"windowspecdefinition\(", plan):
        rest = plan[m.end(): m.end() + 400]
        head = rest.split("specifiedwindowframe")[0]
        toks = [t.strip() for t in head.split(",") if t.strip()]
        if toks and all(" ASC" in t or " DESC" in t for t in toks):
            hits.append(head[:120])
    return hits


# each entry: list of alternatives-groups; every group must match via
# at least one of its alternatives
EXPECT_CONTAINS = {
    "join_broadcast_dims": [("BroadcastHashJoin",)],
    # small SF: AQE rightly broadcasts the dim side; at scale this
    # becomes SMJ/SHJ — accept any shuffle-or-broadcast HASH strategy
    "join_large_fact": [("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")],
    "topk_global": [("TakeOrderedAndProject",)],
    # predicate must reach the parquet scan, not just sit in a Filter
    "scan_filter_project": [("GreaterThan", "LessThan", "EqualTo")],
    "pricing_summary": [("partial_",)],  # map-side partial agg
    "group_agg_minmax": [("partial_",)],
    "salted_skew_join": [("partial_",)],
    "market_share": [("partial_",), ("BroadcastHashJoin",)],
    "weighted_sample_topk": [("TakeOrderedAndProject",)],
    "heavy_hitters": [("partial_",)],
    "triangle_count": [("partial_",), ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")],
    "cross_corpus_dedup": [("partial_",)],
    "unigram_logprob": [("partial_",), ("BroadcastHashJoin",)],
    "token_entropy": [("partial_",), ("BroadcastHashJoin",)],
    "seasonal_zscore": [("partial_",), ("BroadcastHashJoin",)],
    "retention_cohorts": [("partial_",)],
    "incremental_agg_merge": [("partial_",)],
    "jsonl_ingest": [("partial_",)],
    "csv_ingest": [("partial_",)],
    "orc_ingest": [("partial_",)],
    # round-4 TPC-H completions
    "volume_shipping": [("partial_",), ("BroadcastHashJoin",)],
    "product_type_profit": [("partial_",), ("BroadcastHashJoin",)],
    "important_parts": [("partial_",)],
    "customer_order_distribution": [("partial_",)],
    "promo_revenue_ratio": [("partial_",), ("BroadcastHashJoin",)],
    "top_supplier_revenue": [("partial_",), ("BroadcastHashJoin",)],
    "small_qty_revenue": [("partial_",), ("BroadcastHashJoin",)],
    "large_volume_customers": [("partial_",), ("BroadcastHashJoin",)],
    "disjunctive_filter_revenue": [("partial_",), ("BroadcastHashJoin",)],
    "idle_rich_customers": [("partial_",)],
    # scale-path primitives II
    "bloom_semi_join": [("partial_",), ("BroadcastHashJoin",)],
    "zorder_cluster": [("partial_",)],
    "repeated_spans": [("partial_",)],
    "skew_profile": [("partial_",), ("TakeOrderedAndProject",)],
    "corpus_datacard": [("partial_",)],
    "distribution_drift": [("partial_",), ("BroadcastHashJoin",)],
    "dq_audit": [("partial_",)],
    "join_cardinality_estimate": [("partial_",)],
    # round-4 session additions II
    "semdedup_buckets": [
        ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"),
    ],
    "k_anonymity": [("partial_",), ("BroadcastHashJoin",)],
    "trip_segmentation": [("partial_",), ("Window",)],
    "event_debounce": [("partial_",), ("Window",)],
    "geofence_dwell": [("partial_",), ("Window",)],
    "cdc_apply": [("partial_",), ("Union",)],
    "kmv_distinct": [("partial_",), ("Window",)],
    "count_min_freq": [("partial_",), ("BroadcastHashJoin",)],
    "event_transitions": [("partial_",), ("Window",), ("BroadcastHashJoin",)],
    "table_stats": [("partial_",), ("Union",)],
    "snapshot_diff": [
        ("partial_",),
        ("SortMergeJoin FullOuter", "ShuffledHashJoin FullOuter"),
    ],
    "rolling_p95": [("Window",)],
    "nested_assembly": [
        ("partial_", "ObjectHashAggregate", "SortAggregate"),
        ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"),
    ],
    "rollup_cascade": [("partial_",), ("Union",)],
    "retention_purge": [("partial_",), ("BroadcastHashJoin",)],
    "late_data_audit": [("partial_",), ("Window",)],
    # round-4 session additions III
    "asof_nearest_clicks": [("Window",), ("Union",)],
    "attribution_last_touch": [("partial_",), ("Window",), ("Union",)],
    "interval_merge": [("partial_",), ("Window",)],
    "bm25_search": [("partial_",), ("TakeOrderedAndProject",)],
    "schema_evolution": [("partial_",)],
    "entity_resolution": [
        ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"),
        ("Window",),
    ],
    "decile_lift": [("partial_",), ("Window",)],
    "ab_test_zscore": [("partial_",)],
    "chi_square_independence": [("partial_",), ("Window",)],
    "logodds_terms": [("partial_",), ("TakeOrderedAndProject",)],
    "zonemap_pruning_eval": [("partial_",), ("Window",), ("Union",)],
    # null-safe equality must still plan as a HASH join, never the
    # OR-both-null nested-loop rewrite
    "null_safe_join": [
        ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"),
        ("partial_",),
    ],
    "set_ops_multiset": [("partial_",), ("Union",)],
    # the pruned read must carry the partition predicate, not a
    # post-scan Filter
    "partitioned_write_prune": [
        ("PartitionFilters: [isnotnull(event_type",),
        ("partial_",),
    ],
    "linear_interpolate": [("partial_",), ("Window",), ("Union",)],
    "compaction_plan": [("partial_",), ("Window",)],
    "kaplan_meier": [("partial_",), ("Window",)],
    "scd2_point_in_time": [("partial_",), ("Window",), ("Union",)],
    "spearman_correlation": [("partial_",), ("Window",)],
    "corrupt_record_audit": [("partial_",)],
    "psi_drift": [("partial_",)],
    "hotspot_regions": [("partial_",)],
    "cusum_changepoint": [("partial_",), ("ObjectHashAggregate", "SortAggregate", "partial_")],
    "boolean_retrieval": [("Project",), ("Filter", "PushedFilters")],
    "knn_accuracy": [("partial_",), ("Window",)],
    "rolling_active_users": [("partial_",), ("Explode", "Generate")],
    "winsorized_stats": [("partial_",)],
    # CC output is read from the shared session-scoped parquet
    # (_dedup_labeled_table) — only the rank window shows
    "dedup_keep_best": [("Window",)],
    "holt_forecast": [
        ("partial_", "ObjectHashAggregate", "SortAggregate"),
    ],
    "cohens_kappa": [("partial_",)],
    "keyset_pagination": [("TakeOrderedAndProject",)],
    # symmetric per-vector codec needs no corpus stats — map + window only
    "quantized_rescore_topk": [("Window",)],
    "forecast_backtest": [
        ("partial_", "ObjectHashAggregate", "SortAggregate"),
    ],
    "target_encoding": [("partial_",), ("BroadcastHashJoin",)],
    "contrastive_pairs": [
        ("BroadcastNestedLoopJoin", "BroadcastHashJoin"),
        ("Window",),
    ],
}

# plans that must NOT contain a marker: asserts the docstring's claim
# (e.g. "map-only" = no Exchange anywhere in the physical plan)
EXPECT_ABSENT = {
    "training_batch_assembly": ["Exchange"],  # map-only at any scale
    "text_stats": ["Exchange"],               # map-only projection
}


def audit_plans(spark, sf_dir: str, only: set[str] | None = None,
                verbose: bool = True) -> list[tuple[str, str]]:
    """Explain every registered query and return plan violations.
    Importable so the audit runs inside pytest (CI gate), not just as
    an ad-hoc CLI."""
    failures = []
    audited: set[str] = set()
    observed_nlj: set[str] = set()
    observed_gw: set[str] = set()
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        if name in (
            "streaming_tumbling_window",
            "streaming_stream_join",
            "stateful_user_stats",
            "streaming_session_window",
            "geotab_stream_pipeline",  # runs the stream; returns collected rows
            "streaming_sliding_window",
        ):
            continue  # streaming plans audited via their own tests
        if name in ("pca_project", "pagerank_parts"):
            # iterative/eager operators: building the frame RUNS the
            # fit/power-iteration; the returned plan is a projection
            # over localCheckpoint scans with nothing to audit. Their
            # plan properties (bounded collects, map-side combine) are
            # asserted structurally in tests/test_pca_pagerank.py.
            continue
        if name in ("ann_recall_eval", "minhash_recall_eval", "ndcg_eval"):
            # eval harnesses execute eagerly and return literal scalars —
            # explaining them audits a LocalTableScan, not the pipelines.
            # Their constituent plans ARE audited via lsh_ann_topk,
            # ivf_ann_topk, embedding_topk, ngram_jaccard_pairs,
            # minhash_near_dup.
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()

        audited.add(name)
        has_nlj = any(
            bad in plan
            for bad in ("CartesianProduct", "BroadcastNestedLoopJoin")
        )
        if name in ALLOW_NESTED_LOOP:
            if has_nlj:
                observed_nlj.add(name)
        else:
            for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
                if bad in plan:
                    failures.append((name, f"unexpected {bad}"))

        gw_specs = global_window_specs(plan)
        if name in ALLOW_GLOBAL_WINDOW:
            if gw_specs:
                observed_gw.add(name)
        else:
            for spec in gw_specs:
                failures.append(
                    (name, f"global (no-partition) window: {spec}")
                )

        for group in EXPECT_CONTAINS.get(name, []):
            if name == "scan_filter_project":
                # the alternatives must appear inside PushedFilters
                pushed = "".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
                if not any(w in pushed for w in group):
                    failures.append((name, f"predicate not pushed: {group}"))
            elif not any(w in plan for w in group):
                failures.append((name, f"missing any of {group}"))

        for marker in EXPECT_ABSENT.get(name, []):
            if marker in plan:
                failures.append((name, f"forbidden plan node: {marker}"))

        # SELECT * smell: parquet scans should prune columns unless the
        # query genuinely projects everything
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
            ncols = len([c for c in m.group(1).split(",") if c])
            if ncols >= 16:
                failures.append((name, f"unpruned scan ({ncols} cols)"))

        if verbose:
            print(f"audited {name}")

    # §26b dead-exemption sweep (r16): an allowlist entry whose
    # exempted pattern never occurs in the audited plan exempts
    # nothing today and silently pre-approves a future regression —
    # the allowlist analog of the vacuous-empty-stream bug. Only
    # meaningful on a FULL audit (a subset run legitimately misses
    # entries); PLAN_VARIES members are adjudicated exceptions.
    #
    # The sweep's liveness verdict is pinned to ONE canonical sf_dir
    # (r16 advice): the pytest gate audits at sf0.001 while the CLI
    # defaults to sf0.01, and an exemption whose pattern appears at
    # one SF but not the other would pass one entry point and fail
    # the other, with the adjudication driven by which harness ran
    # first. So when the full audit ran at a non-canonical dir, the
    # allowlist entries' plans are re-explained at SWEEP_SF_DIR and
    # liveness is read from THOSE plans — both entry points now
    # compute the identical verdict.
    if only is None:
        if sf_dir != SWEEP_SF_DIR:
            qs = entrymod.queries()
            observed_nlj, observed_gw = set(), set()
            for name in sorted(
                (ALLOW_NESTED_LOOP | ALLOW_GLOBAL_WINDOW) & audited
            ):
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    qs[name](spark, SWEEP_SF_DIR).explain("formatted")
                plan = buf.getvalue()
                if name in ALLOW_NESTED_LOOP and any(
                    bad in plan
                    for bad in ("CartesianProduct",
                                "BroadcastNestedLoopJoin")
                ):
                    observed_nlj.add(name)
                if name in ALLOW_GLOBAL_WINDOW and global_window_specs(
                    plan
                ):
                    observed_gw.add(name)
        for name in sorted(
            (ALLOW_NESTED_LOOP & audited) - observed_nlj
            - PLAN_VARIES_NLJ
        ):
            failures.append((
                name,
                "dead ALLOW_NESTED_LOOP entry: plan has no "
                "CartesianProduct/BroadcastNestedLoopJoin — prune the "
                "exemption or move it to PLAN_VARIES_NLJ with a "
                "reason",
            ))
        for name in sorted(
            (ALLOW_GLOBAL_WINDOW & audited) - observed_gw
            - PLAN_VARIES_GW
        ):
            failures.append((
                name,
                "dead ALLOW_GLOBAL_WINDOW entry: plan has no global "
                "window spec — prune the exemption or move it to "
                "PLAN_VARIES_GW with a reason",
            ))
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("etl-geotab-spark-audit")
    spark.sparkContext.setLogLevel("ERROR")
    failures = audit_plans(spark, sf_dir, only or None)

    if failures:
        print("\nPLAN VIOLATIONS:")
        for name, why in failures:
            print(f"  {name}: {why}")
        return 1
    print("\nall plans clean")
    return 0


if __name__ == "__main__":
    sys.exit(main())
