"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

# Headline set: scan-agg, multi-join, window, incremental-diff, KNN, dedup,
# multi-dim aggs, and the pandas-UDF chunk+embed pipeline.
# The round-stable CORE comparator (r7s2): FROZEN at these 22 queries so
# cross-round core_headline numbers compare like for like — new queries
# join HEADLINE (benched + reported) but never CORE.
CORE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_revenue_topk",
    "tpch_q5_regional_revenue",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_orders",
    "j5_set_equality_diff",
    "a1_hash_multiset_per_url",
    "a7_total_chunks_window",
    "t1_knn_cosine_topk",
    "ext_rollup_daily",
    "ext_cube_orders",
    "doc_chunk_pipeline",
    "doc_knn_query_documentation",
    "doc_hybrid_search_rrf",
    "doc_bm25_topk",
    "tpch_q10_returned_items",
    "tpch_q13_order_distribution",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity",
    "tpch_q19_disjunctive_revenue",
    "tpch_q22_global_sales_opportunity",
]
HEADLINE = [*CORE, "doc_knn_query_native", "doc_knn_query_routed"]

# Bench rotation (VERDICT r12 #5): the full run times HEADLINE + the
# dedup_/ta_/ann_/stream_/pipe_/sk_/ev_ prefix families, which leaves the
# relational p/j/a/t/u/f singles, mm_*, ext_*, non-headline doc_* and most
# TPC-H entries untimed indefinitely. Mirroring the correctness window's
# least-recently-verified rotation, each full run appends the ROTATE_N
# least-recently-benched remaining registry queries (ledger:
# BENCH_ROTATION.json — {"run": N, "last": {name: run_when_benched}}), so
# every registry query gets a BENCH_DETAIL timing within a few rounds.
ROTATE_N = 25
ROTATION_FILE = "BENCH_ROTATION.json"


def rotation_pick(
    candidates: list[str], last_benched: dict[str, int], n: int = ROTATE_N
) -> list[str]:
    """Least-recently-benched first (never-benched sorts before all, as
    run -1), query name as the deterministic tiebreak."""
    return sorted(candidates, key=lambda q: (last_benched.get(q, -1), q))[:n]


# Stall policy constants + pure decision helpers (unit-tested in
# tests/test_bench_policy.py — the bench harness is a deliverable).
STALL_FACTOR = 3.0
STALL_ABS_FLOOR = 0.5
MEDIAN_INFLATE = 2.0  # trigger: the median is 2x the demonstrated speed
MEDIAN_RESIDUAL = 1.5  # hysteresis: once re-repping, settle to within 1.5x
EXTRA_REPS = 5
# Measured stall windows (r6 adjudication + live load traces: co-tenant CPU
# bursts, load-avg ~10 on an otherwise idle box) run tens of seconds —
# longer than back-to-back extra reps. A short settle pause before each
# extra rep lets the window expire instead of burning the whole re-rep
# budget inside it; paid ONLY on flagged queries.
SETTLE_BEFORE_EXTRA_S = 4.0


def detail_file_and_metric(only: str | None) -> tuple[str, str]:
    """Subset runs (SPARK_GRAFT_BENCH_ONLY) must never clobber the
    full-registry record or masquerade as it: they write BENCH_SUBSET.json
    under a subset metric name. (Unit-tested — a subset run once replaced
    the committed 74-query record with a 1-query rehearsal artifact.)"""
    if only:
        return "BENCH_SUBSET.json", "subset_queries_total"
    return "BENCH_DETAIL.json", "headline_queries_total"


def work_counts(tracker, group: str) -> tuple[int, int]:
    """(jobs, distinct stage ids) that job group ``group`` ran, read from a
    SparkContext.statusTracker(). Stage ids count once however many jobs
    share them, skipped stages included: a work figure host load cannot
    move, recorded beside each wall-clock median."""
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for job_id in job_ids:
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    return len(job_ids), len(stage_ids)


def is_stall(t: float, lo: float) -> bool:
    """A rep is a stall when it exceeds STALL_FACTOR x the query's fastest
    rep by more than the absolute floor (which keeps 0.1 s-class queries
    from flagging scheduler jitter)."""
    return t > STALL_FACTOR * lo and (t - lo) > STALL_ABS_FLOOR


def median_of(ts: list[float]) -> float:
    s = sorted(ts)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def needs_rerep(times: list[float], extra: int) -> bool:
    """Re-rep budget: an inflated MEDIAN (> MEDIAN_INFLATE x the fastest
    rep) or a single stalled outlier triggers re-repping; once triggered,
    reps keep coming (up to EXTRA_REPS) until the median settles to within
    MEDIAN_RESIDUAL x min — the hysteresis stops a [slow, slow, fast, fast]
    sample from recording a still-inflated even-count median. A single
    outlier with a healthy median cannot poison the reported figure, so its
    re-repping ends as soon as the median confirms steady (in practice one
    confirmation rep)."""
    if extra >= EXTRA_REPS or len(times) < 2:
        return False
    lo, med = min(times), median_of(times)
    floor_ok = (med - lo) > STALL_ABS_FLOOR
    if extra == 0:
        return (med > MEDIAN_INFLATE * lo and floor_ok) or is_stall(max(times), lo)
    return med > MEDIAN_RESIDUAL * lo and floor_ok


def normalized_medians(
    names: list[str],
    medians: dict[str, float],
    calibration: list[float],
    probe_every: int,
) -> dict[str, float]:
    """Per-query calibration-normalized medians (VERDICT r9 #2b): each
    query's median divided by the mean of the two environment probes
    bracketing its position in the run. The probe is a FIXED trivial query,
    so the ratio is a weather-independent speed figure: a query recorded
    inside a co-tenant degradation window divides by the inflated probes
    that bracketed it, and the ratio lands where a calm-window record
    would. Probes run before query 0, before every ``probe_every``-th
    query, and once after the last — query qi is bracketed by probes
    qi // probe_every and qi // probe_every + 1 (clamped)."""
    out: dict[str, float] = {}
    for qi, name in enumerate(names):
        if name not in medians:
            continue
        k = qi // probe_every
        before = calibration[min(k, len(calibration) - 1)]
        after = calibration[min(k + 1, len(calibration) - 1)]
        cal = (before + after) / 2
        if cal > 0:
            out[name] = round(medians[name] / cal, 2)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from doc2vec_spark.registry import all_queries
    from doc2vec_spark.session import get_spark

    spark = get_spark("doc2vec-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    names = [n for n in HEADLINE if n in registry]
    # optional extended queries present in the registry
    for extra in sorted(registry):
        if extra.startswith(("dedup_", "ta_", "ann_", "stream_", "pipe_", "sk_", "ev_")) and extra not in names:
            names.append(extra)
    # scaling rehearsals time a hand-picked subset (comma-separated names)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    ledger: dict = {"run": 0, "last": {}}
    rotated: list[str] = []
    if only:
        wanted = [n.strip() for n in only.split(",") if n.strip()]
        names = [n for n in wanted if n in registry]
    else:
        # full runs rotate in the least-recently-benched remainder
        try:
            ledger = json.loads((Path(_REPO) / ROTATION_FILE).read_text())
        except (OSError, ValueError) as exc:
            # a reset rotation history must be VISIBLE (ADVICE r13): the
            # end-of-run write would otherwise silently discard the
            # least-recently-benched ledger
            print(f"WARN: rotation ledger unreadable ({exc}); starting at run 0", file=sys.stderr)
        rest = [n for n in sorted(registry) if n not in names]
        rotated = rotation_pick(rest, ledger.get("last", {}), ROTATE_N)
        names += rotated

    # warm the JVM/codegen path once on the smallest SF so timings measure
    # the query, not session startup
    registry["tpch_q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001").count()

    # Calibration probes: the box this runs on shows multi-minute co-tenant
    # degradation windows (measured: the SAME full bench 120 s in one window,
    # 55 s minutes later, with uniformly inflated per-query times — no
    # within-query anchor can flag that). A fixed trivial probe re-timed
    # every few queries gives the reader an environment trace: flat probes
    # mean the medians measure the engine; drifting probes mean the run
    # crossed a degradation window. Numbers are never adjusted — this is
    # instrumentation, not correction.
    def _probe() -> float:
        t0 = time.perf_counter()
        registry["tpch_q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001").count()
        return round(time.perf_counter() - t0, 3)

    calibration: list[float] = [_probe()]
    PROBE_EVERY = 10

    # median-of-N (VERDICT r02 #4): single-shot timings swung +/- 40% on
    # unchanged queries between rounds, making regressions undetectable.
    # Each rep is cache-isolated (clearCache drops intra-query cached
    # intermediates), reps run back-to-back, and the reported figure is the
    # per-query MEDIAN with the min-max spread alongside.
    #
    # Stall resistance (VERDICT r06 #2): an aged local[32] session
    # intermittently stalls a rep by many seconds of scheduler dead time,
    # and a stalled rep inside a 3-rep window used to poison the recorded
    # median by 4-10x (BENCH_r06 recorded dedup_cc_clusters at 14.2 s vs
    # 3.3 s fresh). Two trigger shapes, both observed in real runs:
    #  - single-rep outlier: one rep exceeds STALL_FACTOR x the query's
    #    fastest rep (by more than STALL_ABS_FLOOR seconds — the absolute
    #    floor keeps 0.1 s-class queries from flagging scheduler jitter);
    #  - median inflation: the stall window spans MOST of a query's reps
    #    (measured: cc_clusters reps [3.1, 7.4, 8.0] inside one ~30 s
    #    degradation window — no rep trips the 3x-of-min ratio, yet the
    #    median is 2.4x the query's own demonstrated speed), detected as
    #    median > MEDIAN_INFLATE x min.
    # Flagged queries get up to EXTRA_REPS additional reps (the window
    # passes; later reps re-anchor the median); the median is taken over
    # ALL reps — stalled included, medians are robust once the majority is
    # steady — while the reported spread covers the non-stalled reps, with
    # every stalled rep listed verbatim under "stalls" in
    # BENCH_DETAIL.json so nothing is hidden.
    #
    # Work beside weather: every rep runs under its own job group, and the
    # last rep's job and stage counts go into "jobs"/"stages" — figures a
    # loaded host cannot move, so a median that shifted with its counts
    # flat is host weather, not code.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    sc = spark.sparkContext
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    stall_log: dict[str, list[float]] = {}
    jobs: dict[str, int] = {}
    stages: dict[str, int] = {}
    for qi, name in enumerate(names):
        if qi and qi % PROBE_EVERY == 0:
            calibration.append(_probe())
            if calibration[-1] > 2.5 * min(calibration):
                print(
                    f"# CALIBRATION drift: probe {calibration[-1]:.3f}s vs "
                    f"best {min(calibration):.3f}s — environment degraded, "
                    f"medians near query #{qi} are inflated",
                    file=sys.stderr,
                )
        times: list[float] = []
        n = -1
        group = ""

        def one_rep() -> float:
            nonlocal n, group
            group = f"bench:{name}:{len(times)}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = registry[name].fn(spark, sf_dir)
            n = df.count()
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            spark.catalog.clearCache()
            return dt

        for _ in range(reps):
            dt = one_rep()
            times.append(dt)
            lo = min(times)
            if len(times) > 1 and is_stall(dt, lo):
                print(
                    f"# STALL {name}: rep {dt:.3f}s > {STALL_FACTOR:.0f}x min "
                    f"{lo:.3f}s (active jobs now: "
                    f"{len(sc.statusTracker().getActiveJobsIds())})",
                    file=sys.stderr,
                )
        extra = 0
        while needs_rerep(times, extra):
            print(
                f"# STALL {name}: spread {max(times) - min(times):.3f}s / "
                f"median {median_of(times):.3f}s vs min {min(times):.3f}s — "
                f"extra rep {extra + 1}/{EXTRA_REPS}",
                file=sys.stderr,
            )
            time.sleep(SETTLE_BEFORE_EXTRA_S)
            times.append(one_rep())
            extra += 1
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # every job event delivered
        jobs[name], stages[name] = work_counts(sc.statusTracker(), group)
        times.sort()
        med = median_of(times)
        lo = times[0]
        steady = [t for t in times if not is_stall(t, lo)]
        stalled = [t for t in times if is_stall(t, lo)]
        if stalled:
            stall_log[name] = [round(t, 3) for t in stalled]
        timings[name] = round(med, 3)
        spreads[name] = round(steady[-1] - lo, 3)
        print(
            f"# {name}: median={timings[name]:.3f}s spread={spreads[name]:.3f}s "
            f"rows={n} jobs={jobs[name]} stages={stages[name]} "
            f"reps={[round(t, 3) for t in times]}"
            + (f" stalls={stall_log[name]}" if stalled else ""),
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full detail (medians + spread + reps) goes to a side file; the stdout
    # contract line must stay compact — the driver tail-captures ~2000 chars
    # and a front-truncated line is unparseable (BENCH_r03 lesson).
    # Registry growth inflates the total mechanically (every new dedup_/ta_/
    # ann_/stream_/pipe_ query adds its median); core_headline is the
    # round-stable 22-query subset so cross-round comparisons separate
    # "engine got slower" from "engine got bigger".
    core = round(sum(t for n, t in timings.items() if n in CORE), 3)
    calibration.append(_probe())
    norm = normalized_medians(names, timings, calibration, PROBE_EVERY)
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "core_headline": core,
        "n_queries": len(timings),
        "queries": timings,
        "spread": spreads,
        "jobs": jobs,
        "stages": stages,
        "stalls": stall_log,
        "reps": reps,
        "calibration": calibration,
        "normalized": norm,
        "sf": sf_val,
        # ADVICE r11: cross-round reader note — since round 11 the embed
        # implementations under these two names are ROLE-SWAPPED (the
        # ingest default flipped to the JVM-native fold):
        # doc_knn_query_documentation now embeds native (was Arrow-UDF
        # through r10) and doc_knn_query_native exercises the Arrow-UDF
        # provider seam (was native). Round-over-round deltas across the
        # r10/r11 boundary compare different embed paths by design.
        "notes": {
            "doc_knn_query_documentation": "embeds JVM-native since r11 (was Arrow UDF)",
            "doc_knn_query_native": "exercises the Arrow-UDF provider seam since r11 (was native). r17 solo re-measure (VERDICT r16 #3): median 2.244 s at calibration 0.715 -> NORMALIZED 3.14, inside the r12-r15 band (the r16 1.51 s reading normalized 5.9 was window weather, not a seam regression)",
            "ann_ivf_search_trained": "since r16 trained centroids load from the train_cache disk tier — no first-rep training (was the r13-r15 first-rep stall)",
            "doc_knn_query_routed": "since r16 the IVF route's trained centroids load from the train_cache disk tier — no first-rep training",
            "ann_ivf_pq_search_trained": "since r16 coarse centroids + PQ codebooks load from the train_cache disk tier — no first-rep training (the r13 6.95 s / r15 8.6 s stalls were this)",
        },
    }
    # Subset runs (SPARK_GRAFT_BENCH_ONLY — scaling rehearsals, one-off
    # probes) must not clobber the full-registry record: they go to a
    # separate side file and are labeled as subsets.
    detail_name, detail_metric = detail_file_and_metric(only)
    detail["metric"] = detail_metric
    if only:
        detail.pop("core_headline", None)
    else:
        detail["rotation"] = rotated
    try:
        (Path(_REPO) / detail_name).write_text(json.dumps(detail, indent=1))
    except OSError as exc:  # never let the side file kill the contract line
        print(f"# {detail_name} write failed: {exc}", file=sys.stderr)
    if not only:
        # advance the rotation ledger: everything timed this run is marked
        # with the new run counter (committed to git so rounds accumulate)
        run_no = int(ledger.get("run", 0)) + 1
        last = dict(ledger.get("last", {}))
        for n2 in timings:
            last[n2] = run_no
        try:
            (Path(_REPO) / ROTATION_FILE).write_text(
                json.dumps({"run": run_no, "last": last}, indent=1)
            )
        except OSError as exc:
            print(f"# {ROTATION_FILE} write failed: {exc}", file=sys.stderr)

    def contract_line(q: dict[str, float], full_norm: bool = True) -> str:
        return json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": q,
                "sf": sf_val,
                # median of the fixed environment probes interleaved through
                # the run (BENCH_DETAIL "calibration"): lets any reader
                # normalize this record against host slowness — cross-round
                # totals divided by their calibration medians compare engine
                # speed, not machine weather
                "calibration_median": round(
                    median_of(sorted(detail["calibration"])), 3
                ),
                # per-query calibration-normalized medians (median / mean of
                # the probes bracketing that query — VERDICT r9 #2b) for the
                # expensive watch class: a record cut inside a degradation
                # window still shows steady-state conformance here. Full
                # dict in BENCH_DETAIL.json "normalized".
                # ADVICE r11: the final fallback trims norm to the two
                # frozen watch-class rows so a registry with many >=1.5s
                # queries can't push even the HEADLINE-only line past the
                # tail-capture limit (full dict always in BENCH_DETAIL.json
                # "normalized")
                "norm": {
                    k: v
                    for k, v in norm.items()
                    if timings.get(k, 0) >= 1.5
                    and (full_norm or k in ("dedup_cc_clusters", "pipe_canonical_select"))
                },
            }
        )

    line = contract_line(timings)
    if len(line) > 1900:  # 2-decimal precision, then headline-only fallback
        line = contract_line({k: round(v, 2) for k, v in timings.items()})
    if len(line) > 1900:
        line = contract_line(
            {k: round(v, 2) for k, v in timings.items() if k in HEADLINE},
            full_norm=False,
        )
        print(
            "# stdout queries dict truncated to HEADLINE set; full timings in "
            "BENCH_DETAIL.json",
            file=sys.stderr,
        )
    print(line)


if __name__ == "__main__":
    main()
