"""Benchmark harness: runs every registered query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE compact JSON line whose
keys are exactly:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {headline_name: sec, ...}, "sf": 0.1,
     "n_queries": 219, "dropped": [key, ...], "runs": [N1, N2],
     "median_run_sec": M, "shared_builds": {build_name: sec, ...},
     "full": "BENCH_FULL.json"}

A single bench run is not speed evidence on a shared host: between
sets of runs the medians move with the host's speed. A speed claim
comes from a paired A/B of the queries in question
(``tools/ab.py``).

``shared_builds`` (round-8, verdict item 3): the session-scoped
materializations two+ queries share (`_dedup_labeled_table` — the
pairs+CC clustering behind dedup_clusters/dedup_keep_best;
`_ann_eval_table` — the triple index build behind ann_recall_eval/
ndcg_eval) are built and timed in the preamble, so per-query numbers
are MARGINAL costs. Previously whichever sharer ran first paid the
build, and suite-order rotation made round-over-round per-query
comparisons alias against ordering (r6: dedup_clusters paid 5.2 s;
r7: dedup_keep_best paid 8.2-10.3 s — same plans). ``value`` still
includes the shared-build seconds so run totals stay comparable with
rounds ≤7 where the build was inside a query's number.

The suite is measured ``$SPARK_GRAFT_BENCH_RUNS`` times (default 2),
each run in its OWN subprocess/JVM (two passes in one JVM measurably
flush the 2g code cache — see run_one); ``value``/``queries`` are
best-over-runs and the per-run totals + median ride along so
round-over-round comparisons carry their own variance context
(quiet-box variance is ±15-25% here, BASELINE.md rounds 4-6).

Why the printed ``queries`` dict is a HEADLINE SUBSET: the driver
captures only a bounded tail of stdout and parses the JSON line out of
it. A 100-entry dict (~3.5 KB) overflows that window — BENCH_r01/r02
both recorded ``parsed: null`` for exactly this reason. The full
per-query breakdown (all queries) is written to ``BENCH_FULL.json``
in the repo root instead; ``value`` still totals ALL queries so the
headline number is comparable across rounds.

Each query runs through ``etl_geotab_spark.run``: forced end-to-end
with a noop write (full computation, no driver collect overhead),
after a warm-up that absorbs JVM/codegen startup so per-query numbers
measure the plan, not the JIT. Every cached plan and pinned block is
released between queries: several operators persist() intermediates
(band tables, candidate sets) and never unpersist — over a 100-query
run those stale blocks accumulate, evict each other, and poison the
timings of whatever runs late in the session (r02 measured minhash at
22.5 s late in the run vs 3.6 s early in r01 — same code).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_geotab_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from etl_geotab_spark.queries import (  # noqa: E402
    _ann_eval_table,
    _dedup_labeled_table,
)
from etl_geotab_spark.run import force, run, scope, warm  # noqa: E402
from tools.fixture_volumes import expected_for  # noqa: E402

# One representative per operator family (SURVEY.md §2), weighted
# toward the expensive similarity / streaming / connector paths the
# judge audits. Keep this list short enough that the printed JSON
# line stays well under the driver's stdout-tail window (~2.5 KB).
HEADLINE = [
    "geotab_flagship",
    "geotab_connector_pipeline",
    "pricing_summary",
    "join_large_fact",
    "asof_join_events_orders",
    "window_rank",
    "topk_per_group",
    "shipping_priority",
    "local_supplier_volume",
    "global_rownum_orders",
    "sessionize_events",
    "dedup_exact_docs",
    "minhash_near_dup",
    "simhash_near_dup",
    "ngram_jaccard_pairs",
    "embedding_near_dup",
    "embedding_topk",
    "lsh_ann_topk",
    "ivf_ann_topk",
    "kmeans_embeddings",
    "doc_winnow_fingerprints",
    "tfidf_top_terms",
    "pack_sequences",
    "streaming_tumbling_window",
    "stateful_user_stats",
    "multimodal_decode_stats",
    "grid_spatial_join",
    "dedup_clusters",
    "ann_recall_eval",
    "recursive_order_chains",
    "boilerplate_ngram_ratio",
    "heavy_hitters",
    "skyline_pareto",
    "market_share",
    # round-4 session additions: TPC-H completions + scale primitives
    "volume_shipping",
    "customer_order_distribution",
    "bloom_semi_join",
    "zorder_cluster",
    "repeated_spans",
    "pca_project",
    "pagerank_parts",
    # round-4b session additions
    "semdedup_buckets",
    "trip_segmentation",
    "cdc_apply",
    "kmv_distinct",
    # round-4c session additions: as-of/nearest + ER + ML + streaming
    "asof_nearest_clicks",
    "entity_resolution",
    "linear_interpolate",
    "bm25_search",
    "logreg_train",
    "streaming_sliding_window",
    # round-5: the two cold-rebuild variance offenders, now reading
    # the session-shared materializations (_ann_eval_table /
    # _dedup_labeled_table) — headline so the fix stays measured
    "dedup_keep_best",
    "ndcg_eval",
]

# The session-shared materializations run_one builds and times in its
# preamble, each with the queries that read it: when a build key is
# dropped from the totals, these queries' retained timings may reflect
# a degraded or failed build in the run where it errored, and main()
# flags them on stderr.
SHARED_BUILDS = {
    "dedup_labeled_table": (
        _dedup_labeled_table,
        ("dedup_clusters", "dedup_keep_best"),
    ),
    "ann_eval_table": (_ann_eval_table, ("ann_recall_eval", "ndcg_eval")),
}


def tainted_consumers(
    dropped: list[str], best: dict[str, float]
) -> list[str]:
    """Queries whose RETAINED timings consumed a shared build that was
    dropped (errored/missing in some run): their numbers may reflect a
    degraded-build path in that run. Consumers that were themselves
    dropped (best < 0) are already excluded from every total, so only
    retained ones are worth flagging."""
    return sorted(
        qn
        for bk in dropped
        if bk in SHARED_BUILDS
        for qn in SHARED_BUILDS[bk][1]
        if best.get(qn, -1.0) >= 0
    )


def run_one(sf_dir: str) -> dict:
    """One full suite pass in THIS process's own fresh SparkSession.

    Runs are process-isolated on purpose: two passes in one JVM put
    ~440 query executions against the 2g reserved code cache (the JVM
    hard max here) and round-7 measurements showed the second pass
    degrading exactly the historical flush canaries
    (cross_corpus_dedup 4.9 → 13.5 s, minhash_recall_eval 5.7 →
    12.5 s) — the silent-flush signature BASELINE.md r4 documents. A
    fresh JVM per run keeps the passes i.i.d. and each inside the
    code-cache budget."""
    spark = get_spark("etl-geotab-spark-bench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        qs = entrymod.queries()
        # (a)-(f) first-of-family session costs, see etl_geotab_spark.run
        rows = warm(spark, sf_dir)
        # §26b input-volume pin (SCALE.md §27): a truncated fixture must
        # fail the invocation loudly, never produce a silently-fast
        # record. Unknown dirs (no pin) skip the gate rather than guess.
        want = expected_for(sf_dir)
        for t, n in rows.items():
            if want is not None and n != want[t]:
                raise SystemExit(
                    f"bench: {sf_dir}/{t} holds {n} rows, pinned "
                    f"{want[t]} — refusing to record a bench over the "
                    "wrong input volume"
                )

        # (g) session-shared materializations, TIMED and reported — see
        # module docstring. Each bench run is its own process, so the
        # PID-namespaced scratch is cold here and the build cost is real;
        # paying it in the preamble makes every sharer's per-query number
        # its marginal cost instead of a suite-order lottery.
        shared_builds: dict[str, float] = {}
        for bname, (bfn, _) in SHARED_BUILDS.items():
            with scope(spark, bname):
                t0 = time.time()
                try:
                    force(bfn(spark, sf_dir))
                    shared_builds[bname] = round(time.time() - t0, 3)
                except Exception as e:  # noqa: BLE001
                    print(f"bench error in shared build {bname}: {e}", file=sys.stderr)
                    shared_builds[bname] = -1.0

        timings: dict[str, float] = {}
        pinned: dict[str, int] = {}
        for name in qs:
            # the runner's per-query exit releases every cached plan and
            # RDD block the query left (without it, queries ~90th in the
            # suite clocked 3-5x their isolated time) outside the timing
            rec = run(spark, name, sf_dir)
            if rec["error"] is not None:
                print(f"bench error in {name}: {rec['error']}", file=sys.stderr)
                timings[name] = -1.0
            else:
                timings[name] = rec["wall_s"]
            if rec["released"] > 0:
                pinned[name] = rec["released"]
    finally:
        spark.stop()
    return {
        "timings": timings,
        "shared_builds": shared_builds,
        "pinned_blocks": pinned,
    }


def best_over_runs(per_run: list[dict[str, float]]) -> dict[str, float]:
    """Per-key best over runs; an error in ANY run keeps the -1
    marker. Iterates the UNION of keys across runs (round-9 advice:
    keying off run 0 silently dropped any entry the first collected
    run lacked, e.g. a mixed-version resume) and treats a key missing
    from any run as an error — runs disagreeing on suite composition
    must be loud, not averaged away."""
    names = sorted({n for run in per_run for n in run})
    out: dict[str, float] = {}
    for name in names:
        if not all(name in run for run in per_run):
            out[name] = -1.0
            continue
        vals = [run[name] for run in per_run]
        out[name] = -1.0 if any(v < 0 for v in vals) else round(min(vals), 3)
    return out


def aggregate_runs(
    run_timings: list[dict[str, float]],
    run_builds: list[dict[str, float]],
) -> tuple[dict, dict, list[float], float, float, list[str]]:
    """Fold per-run timings into the reported aggregates so EVERY
    total covers the SAME query set. ``best_over_runs`` marks a key
    that errored or is missing from any run as -1 and ``value``
    excludes it — per-run totals and the median must exclude that
    key's seconds too, or in a mixed-version resume the headline and
    the run totals silently measure different suites (round-10
    advice). Returns (best, shared_builds, runs_totals, total,
    median, dropped_keys); callers report ``dropped_keys`` loudly."""
    if not run_timings:
        raise ValueError("aggregate_runs: no runs to aggregate")
    best = best_over_runs(run_timings)
    shared_builds = best_over_runs(run_builds)
    best_valid = {n for n, v in best.items() if v >= 0}
    builds_valid = {n for n, v in shared_builds.items() if v >= 0}
    dropped = sorted(
        (set(best) - best_valid) | (set(shared_builds) - builds_valid)
    )
    # totals INCLUDE the shared-build seconds: rounds ≤7 paid these
    # builds inside whichever sharer ran first, so excluding them here
    # would fake a ~10 s round-over-round improvement
    runs_totals = [
        round(
            sum(t for n, t in rt.items() if n in best_valid and t >= 0)
            + sum(t for n, t in rb.items() if n in builds_valid and t >= 0),
            3,
        )
        for rt, rb in zip(run_timings, run_builds)
    ]
    total = round(
        sum(t for t in best.values() if t >= 0)
        + sum(t for t in shared_builds.values() if t >= 0),
        3,
    )
    median = round(statistics.median(runs_totals), 3)
    return best, shared_builds, runs_totals, total, median, dropped


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    # Child mode: one suite pass, result to $SPARK_GRAFT_BENCH_OUT,
    # nothing on stdout (the parent owns the single JSON line).
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out_path:
        with open(out_path, "w") as f:
            json.dump(run_one(sf_dir), f)
        return

    # Each run in its own subprocess/JVM (see run_one). Per-query
    # numbers are min-over-runs, so one-time first-touch costs (OS page
    # cache) are not attributed to whichever query scans a table first.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    # Wall budget (seconds): if the box is slow enough that another
    # full run would push total bench wall past this, stop and report
    # the runs finished so far — a recorded single-run JSON beats a
    # recorder timeout with nothing recorded. 900 s fits two runs on
    # every box measured so far (run ≈ 75 s warmup + 240-350 s suite)
    # with one-run degradation only under ~2x external slowdown.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "900"))
    t_start = time.time()
    results: list[dict] = []
    for r in range(n_runs):
        elapsed = time.time() - t_start
        # Budget gate, estimating the next run from ALL attempts
        # (failed runs burn wall time too — a crash-looping box
        # must not blow the budget). With NO success yet, though,
        # only raw elapsed gates: a crash is a bad estimator for a
        # successful run's duration, and stopping with zero
        # results defeats the guard's own purpose ("a recorded
        # single-run JSON beats a timeout with nothing recorded").
        projected = elapsed + (elapsed / r if results and r else 0)
        if r > 0 and projected > budget_s:
            print(
                f"bench: stopping after {r} attempt(s) "
                f"({len(results)} successful) — {elapsed:.0f}s "
                f"elapsed, another run would exceed the "
                f"{budget_s:.0f}s budget",
                file=sys.stderr,
            )
            break
        with tempfile.NamedTemporaryFile(
            suffix=f".bench_run{r}.json", delete=False
        ) as tf:
            path = tf.name
        env = dict(os.environ)
        env["SPARK_GRAFT_BENCH_OUT"] = path
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            stdout=subprocess.DEVNULL,  # parent owns stdout
        )
        try:
            if proc.returncode == 0:
                with open(path) as f:
                    results.append(json.load(f))
            else:
                print(
                    f"bench: run {r} exited rc={proc.returncode}",
                    file=sys.stderr,
                )
        finally:
            try:
                os.unlink(path)
            except OSError:
                pass
    if not results:
        print("bench: every run failed", file=sys.stderr)
        sys.exit(1)

    run_timings = [r["timings"] for r in results]
    run_builds = [r["shared_builds"] for r in results]
    run_pinned = [r["pinned_blocks"] for r in results]

    best, shared_builds, runs_totals, total, median, dropped = aggregate_runs(
        run_timings, run_builds
    )
    if dropped:
        print(
            f"bench: {len(dropped)} key(s) errored or missing in some "
            f"run(s); excluded from ALL totals: {dropped}",
            file=sys.stderr,
        )
        # round-10 advice: a dropped SHARED-BUILD key means its
        # consumers ran against a degraded/failed-build path in that
        # run, but their own timings stay in every total — flag them
        # so a reader of the totals knows which query numbers may mix
        # states (dropping them too would hide that the queries
        # themselves still produced timings worth inspecting).
        tainted = tainted_consumers(dropped, best)
        if tainted:
            print(
                "bench: dropped shared-build key(s) have consumers "
                f"whose retained timings may reflect a degraded-build "
                f"path: {tainted}",
                file=sys.stderr,
            )
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    try:
        with open(full_path, "w") as f:
            json.dump(
                {"metric": "total_query_sec", "value": total, "unit": "sec",
                 "queries": best, "sf": sf,
                 "runs": runs_totals, "median_run_sec": median,
                 "dropped": dropped,
                 "per_run_queries": run_timings,
                 "shared_builds": shared_builds,
                 "per_run_shared_builds": run_builds,
                 "per_run_pinned_blocks": run_pinned},
                f,
                indent=0,
                sort_keys=True,
            )
    except OSError as e:
        print(f"bench: could not write {full_path}: {e}", file=sys.stderr)

    headline = {n: best[n] for n in HEADLINE if n in best}
    print(
        json.dumps(
            {
                "metric": "total_query_sec",
                "value": total,
                "unit": "sec",
                "queries": headline,
                "sf": sf,
                # count only the keys `value` actually covers — dropped
                # (-1) keys are excluded from every total, so counting
                # them here would re-create the mixed-suite mismatch
                "n_queries": sum(1 for v in best.values() if v >= 0),
                "dropped": dropped,
                "runs": runs_totals,
                "median_run_sec": median,
                "shared_builds": shared_builds,
                "full": "BENCH_FULL.json",
            }
        )
    )


if __name__ == "__main__":
    main()
