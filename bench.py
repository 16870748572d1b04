"""Benchmark harness: runs every registered query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE compact JSON line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {headline_name: sec, ...}, "sf": 0.1,
     "n_queries": 100, "runs": [N1, N2], "median_run_sec": M,
     "shared_builds": {build_name: sec, ...},
     "tail_drift": D, "boxcal": {"py_pre": ..., "np_pre": ...,
     "bw_pre": ..., "mp_pre": ..., "py_post": ..., "np_post": ...,
     "bw_post": ..., "mp_post": ..., "sustain_first5": ...,
     "sustain_last5": ..., "sustain_ratio": ...},
     "probe_flagged_n": 0, "full": "BENCH_FULL.json"}

``probe_flagged_n``/``probe_flagged`` (round-18, r17 verdict item 2):
the r17 record proved endpoint probes miss MID-RUN host
contamination (eight attempts; internally-"clean" runs 1.8x slow),
so every run now interleaves a ~0.1 s two-dimension box probe
(tools.boxcal.mini_probe: single-core loop + one all-cores pool
wave) every 12 queries, outside all timed regions, and flags the
queries measured between degraded readings (>2x the run's median).
Per-window data rides in BENCH_FULL.json (``per_run_win_probes``);
the headline carries only the flagged count. A judge can now
separate host phase from code per QUERY instead of per run.

``boxcal`` (round-13; definitions live in tools/boxcal.py since r14
so the ad-hoc CLI stays pyspark-free): a deterministic CPU
microbenchmark measured in the parent process immediately before the
first run and after the last, so every recorded bench total carries
the speed of the box that produced it (see ``tools.boxcal.boxcal``).
Round-over-round comparisons can then separate "the box got slower"
from "the code got slower" by measurement instead of by
diff-reasoning. Since r14 the record also carries the ~13 s SUSTAINED
all-cores probe (``tools.boxcal.sustain_probe``), run once before
run 1: round 13's burst probes stayed nominal while the sustained
suite ran 25-40% slow, so the ramp detector that matches that
symptom now rides in-record. Comparability note: the r14 probe fixes
(BLAS warm-up before np's timed best-of-3; mp pool created+warmed
outside the timed region) mean np_*/mp_* values are only comparable
within r14+ records — r13's np_pre/mp_* include one-time setup cost
by construction.

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
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_geotab_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

# The box-speed probes live in a dependency-free module so the ad-hoc
# CLI (tools/boxcal.py) never pays this file's pyspark import (r13
# ADVICE); re-exported here so `from bench import boxcal` keeps
# working for tests and older tooling.
from tools.boxcal import (  # noqa: E402,F401
    _mini_task,
    boxcal,
    mini_probe,
    sustain_probe,
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

# Which per-query timings consume each shared-build materialization
# (see run_one's preamble): when a build key is dropped from the
# totals, these queries' retained timings may reflect a degraded or
# failed build in the run where it errored — main() flags them on
# stderr (round-10 advice). Keep in sync with the (bname, bfn) tuples
# in run_one.
SHARED_BUILD_CONSUMERS = {
    "dedup_labeled_table": ("dedup_clusters", "dedup_keep_best"),
    "ann_eval_table": ("ann_recall_eval", "ndcg_eval"),
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
        for qn in SHARED_BUILD_CONSUMERS.get(bk, ())
        if best.get(qn, -1.0) >= 0
    )


def probe_sec(spark) -> float:
    """JIT code-cache sentinel: one FIXED pure-JVM plan (same codegen
    classes every time), timed at suite checkpoints. The reserved code
    cache (2g — the JVM hard max; see BASELINE.md r4 forensics) holds
    ~300-400 distinct whole-stage-codegen plans; overflow silently
    flushes compiled code and late-suite queries re-JIT 2-4x slower.
    Because THIS plan was compiled at suite start, a late-checkpoint
    slowdown of the probe itself is the flush signature — flagged as a
    metric instead of surfacing as unattributable tail noise.

    Each checkpoint is BEST-OF-2 back-to-back executions: a genuine
    flush keeps both slow (re-JIT takes many executions to recover),
    while a one-off GC pause or scheduler blip hits only one — a
    single noisy sample used to push the max-based drift ratio past
    the 2.0 alarm on runs whose totals showed zero degradation."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        force(
            spark.range(0, 2_000_000, 1, 8)
            .select(
                (F.col("id") % 997).alias("k"),
                (F.col("id") * 31 % 10007).cast("double").alias("v"),
            )
            .groupBy("k")
            .agg(F.sum("v"), F.avg("v"), F.max("v"))
        )
        best = min(best, time.time() - t0)
    return round(best, 3)


def _probe_pool():
    """Window-probe pool (r17 verdict item 2): created+warmed BEFORE
    the JVM exists so the fork is cheap and no JVM thread state is
    inherited; held idle between windows (sleeping workers cost
    nothing). mini_probe runs between queries, outside every timed
    region. None when unavailable — never worth failing a run."""
    try:
        import multiprocessing as _mp

        ncpu = os.cpu_count() or 1
        pool = _mp.Pool(ncpu)
        pool.map(_mini_task, range(ncpu))  # discarded warm wave
        return pool
    except Exception as e:  # noqa: BLE001
        print(f"bench: window-probe pool unavailable: {e}", file=sys.stderr)
        return None


def run_one(sf_dir: str) -> dict:
    """One full suite pass in THIS process's own fresh SparkSession.

    Runs are process-isolated on purpose: two passes in one JVM put
    ~440 query executions against the 2g reserved code cache (the JVM
    hard max here) and round-7 measurements showed the second pass
    degrading exactly the historical flush canaries
    (cross_corpus_dedup 4.9 → 13.5 s, minhash_recall_eval 5.7 →
    12.5 s) with the drift probe at 2.7× — the classic silent-flush
    signature BASELINE.md r4 documents. A fresh JVM per run keeps the
    passes i.i.d. and each inside the code-cache budget."""
    probe_pool = _probe_pool()
    spark = None
    try:
        spark = get_spark("etl-geotab-spark-bench")
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
        from etl_geotab_spark.queries import _ann_eval_table, _dedup_labeled_table

        shared_builds: dict[str, float] = {}
        for bname, bfn in (
            ("dedup_labeled_table", _dedup_labeled_table),
            ("ann_eval_table", _ann_eval_table),
        ):
            with scope(spark, bname):
                t0 = time.time()
                try:
                    force(bfn(spark, sf_dir))
                    shared_builds[bname] = round(time.time() - t0, 3)
                except Exception as e:  # noqa: BLE001
                    print(f"bench error in shared build {bname}: {e}", file=sys.stderr)
                    shared_builds[bname] = -1.0

        n_total = len(qs)
        checkpoints = {max(0, round(n_total * f) - 1) for f in (0.25, 0.5, 0.75, 1.0)}
        probe_sec(spark)  # compile the probe plan; baseline is the 2nd call
        baseline_probe = probe_sec(spark)
        timings: dict[str, float] = {}
        probes: list[float] = [baseline_probe]
        # Interleaved window probes (r17 verdict item 2): a ~0.1 s box
        # probe every PROBE_EVERY queries (plus one before the first and
        # one after the last), run OUTSIDE every timed region. Each record
        # is {"after": i, "py": s, "mp": s} — the probe ran after query
        # index i (-1 = before the suite). Queries measured between two
        # probes where either endpoint reads degraded (>2x the run's
        # median) are flagged, so a judge can separate host phase from
        # code per QUERY instead of per run.
        PROBE_EVERY = 12
        win_probes: list[dict] = [{"after": -1, **mini_probe(probe_pool)}]
        pinned: dict[str, int] = {}
        for i, name in enumerate(qs):
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
            if i in checkpoints:
                probes.append(probe_sec(spark))
            if (i + 1) % PROBE_EVERY == 0 or i == n_total - 1:
                win_probes.append({"after": i, **mini_probe(probe_pool)})
    finally:
        if spark is not None:
            spark.stop()
        if probe_pool is not None:
            probe_pool.terminate()
            probe_pool.join()
    # Flag queries measured in a degraded window: for query index i the
    # enclosing probes are the last with after < i and the first with
    # after >= i; degraded = py or mp above 2x the run's MEDIAN reading.
    # (Median, not min: the ~0.1 s probes carry ±60% scheduler jitter
    # on a busy-JVM box — a min-based 1.5x rule flagged 120/219 queries
    # on a quiet smoke run. Real steal bursts read 2-10x.)
    def _med(vals: list[float]) -> float:
        s = sorted(vals)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2

    flagged: list[str] = []
    py_ref = _med([p["py"] for p in win_probes])
    mp_vals = [p["mp"] for p in win_probes if p["mp"] >= 0]
    mp_ref = _med(mp_vals) if mp_vals else -1.0

    def _degraded(p: dict) -> bool:
        if py_ref > 0 and p["py"] > 2.0 * py_ref:
            return True
        return mp_ref > 0 and p["mp"] >= 0 and p["mp"] > 2.0 * mp_ref

    names = list(qs.keys())
    bounds = [(p["after"], _degraded(p)) for p in win_probes]
    for i, name in enumerate(names):
        prev_bad = next(
            (bad for after, bad in reversed(bounds) if after < i), False
        )
        next_bad = next((bad for after, bad in bounds if after >= i), False)
        if prev_bad or next_bad:
            flagged.append(name)
    # tail_drift > ~2 on a quiet box = code-cache flush suspect (the
    # probe plan was compiled at suite start; only a flush or external
    # load makes the SAME compiled plan slower later in the session).
    drift = (
        round(max(probes) / baseline_probe, 3) if baseline_probe > 0 else -1.0
    )
    return {
        "timings": timings,
        "drift": drift,
        "shared_builds": shared_builds,
        "win_probes": win_probes,
        "probe_flagged": flagged,
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
    srt = sorted(runs_totals)
    median = round(
        srt[len(srt) // 2]
        if len(srt) % 2
        else (srt[len(srt) // 2 - 1] + srt[len(srt) // 2]) / 2,
        3,
    )
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

    # The suite is measured $SPARK_GRAFT_BENCH_RUNS times (default 2),
    # EACH run in its own subprocess/JVM (see run_one's docstring for
    # why one JVM cannot host two passes honestly). Reported numbers
    # are best-over-runs with per-run totals and their median carried
    # in the JSON — quiet-box run-to-run variance on this VM is
    # ±15-25% (BASELINE.md rounds 4-6), so a single-run total is only
    # comparable across rounds with prose context about which edge of
    # the band it hit. Per-query numbers are min-over-runs for the
    # same reason (and so one-time first-touch costs — OS page cache
    # for data pages the zero-column warmup counts don't read — stop
    # being attributed to whichever query scans a table first).
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    # Wall budget (seconds): if the box is slow enough that another
    # full run would push total bench wall past this, stop and report
    # the runs finished so far — a recorded single-run JSON beats a
    # recorder timeout with nothing recorded. 900 s fits two runs on
    # every box measured so far (run ≈ 75 s warmup + 240-350 s suite)
    # with one-run degradation only under ~2x external slowdown.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "900"))
    # Box-speed scalar, sampled OUTSIDE the wall budget (it measures
    # the box, not the suite) immediately before the first run and
    # again after the last — pre/post so load arriving or leaving
    # mid-bench is visible as a pre-vs-post split.
    cal_pre = boxcal()
    # Sustained all-cores probe, once before run 1, also outside the
    # wall budget (r13 verdict item 3): §24's negative result was
    # that every short-burst probe stayed nominal while the sustained
    # 32-thread suite ran 25-40% slow — the ~13 s 20-wave ramp
    # detector is the probe that matches that symptom, so it must be
    # in the bench record for slow-box adjudication to be complete.
    # Skippable via SPARK_GRAFT_BENCH_SUSTAIN=0 for quick local
    # iteration; the driver's per-round record always carries it.
    if os.environ.get("SPARK_GRAFT_BENCH_SUSTAIN", "1") != "0":
        sustain = sustain_probe()
    else:
        sustain = {}
    t_start = time.time()
    results: list[dict] = []
    if n_runs == 1:
        results.append(run_one(sf_dir))
    else:
        import subprocess
        import tempfile

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

    cal_post = boxcal()
    boxcal_rec = {
        "py_pre": cal_pre["py_sec"],
        "np_pre": cal_pre["np_sec"],
        "bw_pre": cal_pre["bw_sec"],
        "mp_pre": cal_pre["mp_sec"],
        "py_post": cal_post["py_sec"],
        "np_post": cal_post["np_sec"],
        "bw_post": cal_post["bw_sec"],
        "mp_post": cal_post["mp_sec"],
    }
    if sustain and sustain.get("sustain_ratio", -1.0) >= 0:
        boxcal_rec["sustain_first5"] = sustain["sustain_first5_per_wave"]
        boxcal_rec["sustain_last5"] = sustain["sustain_last5_per_wave"]
        boxcal_rec["sustain_ratio"] = sustain["sustain_ratio"]
    elif sustain:
        # the probe ran but failed/timed out (boxcal's -1.0 sentinel
        # quartet) — stamp the failure explicitly instead of recording
        # -1.0 as if measured, which an adjudicator reading the diff
        # report could misread as a (nonsensical) numeric ratio
        boxcal_rec["sustain_failed"] = True
    else:
        # stamp WHY the sustain fields are absent — without this an
        # env-skipped r14+ record is indistinguishable from a pre-r14
        # record, and bench_diff would wrongly tell the adjudicator
        # to distrust its (fully comparable) np/mp values
        boxcal_rec["sustain_skipped"] = True

    run_timings = [r["timings"] for r in results]
    run_drifts = [r["drift"] for r in results]
    run_builds = [r.get("shared_builds", {}) for r in results]
    run_win_probes = [r.get("win_probes", []) for r in results]
    run_flagged = [set(r.get("probe_flagged", [])) for r in results]
    run_pinned = [r.get("pinned_blocks", {}) for r in results]

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
    tail_drift = max(run_drifts)

    # A query is probe-flagged only if EVERY run that produced its
    # reported (min-over-runs) timing measured it in a degraded window
    # — a clean run supplying the same best value clears the flag.
    probe_flagged = sorted(
        n
        for n, v in best.items()
        if v >= 0
        and all(
            n in fl
            for rt, fl in zip(run_timings, run_flagged)
            if rt.get(n) == v
        )
        and any(rt.get(n) == v and n in fl for rt, fl in zip(run_timings, run_flagged))
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
                 "tail_drift": tail_drift, "tail_drift_runs": run_drifts,
                 "per_run_win_probes": run_win_probes,
                 "per_run_probe_flagged": [sorted(f) for f in run_flagged],
                 "probe_flagged": probe_flagged,
                 "per_run_pinned_blocks": run_pinned,
                 "boxcal": boxcal_rec},
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
                "tail_drift": tail_drift,
                # count of queries whose reported timing was measured
                # in a window the interleaved ~0.1 s probes read as
                # degraded (full names + per-window probe data in
                # BENCH_FULL.json) — 0 on a quiet box
                "probe_flagged_n": len(probe_flagged),
                "boxcal": boxcal_rec,
                "full": "BENCH_FULL.json",
            }
        )
    )


if __name__ == "__main__":
    main()
