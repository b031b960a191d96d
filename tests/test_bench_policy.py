"""Unit tests for bench.py's stall/re-rep decision policy (VERDICT r6 #2).

The bench harness is a deliverable: a wrong policy misreports the engine by
4-10x (BENCH_r06). These pin the two trigger shapes against the real rep
lists that motivated them, without needing a SparkSession.
"""

from __future__ import annotations

from types import SimpleNamespace

import bench


def test_single_outlier_gets_exactly_one_confirmation_rep():
    # real shape: [1.44, 1.71, 5.2] — healthy median, one stalled rep
    times = [1.44, 1.71, 5.2]
    assert bench.needs_rerep(times, extra=0)
    times.append(1.5)  # confirmation rep comes back steady
    assert not bench.needs_rerep(times, extra=1)


def test_median_inflation_keeps_the_full_budget():
    # real shape (BENCH r7 validation run): cc_clusters [3.1, 7.4, 8.0] —
    # no rep trips 3x-of-min, but the median is 2.4x the demonstrated speed
    times = [3.1, 7.4, 8.0]
    assert bench.needs_rerep(times, extra=0)
    times.append(3.2)
    assert bench.needs_rerep(times, extra=1), "median still inflated"
    times.append(3.0)
    # median of [3.0, 3.1, 3.2, 7.4, 8.0] = 3.2 — re-anchored, stop
    assert not bench.needs_rerep(times, extra=2)


def test_steady_reps_never_rerep():
    assert not bench.needs_rerep([2.0, 2.1, 2.2], extra=0)


def test_tiny_query_jitter_is_not_a_stall():
    # 0.1 s-class query with 4x ratio but under the absolute floor
    assert not bench.needs_rerep([0.1, 0.12, 0.4], extra=0)
    assert not bench.is_stall(0.4, 0.1)


def test_budget_exhaustion_stops_rereps():
    assert not bench.needs_rerep([1.0, 9.0, 9.0, 9.0, 9.0, 9.0], extra=bench.EXTRA_REPS)


def test_stall_classification_matches_policy():
    assert bench.is_stall(7.0, 2.0)
    assert not bench.is_stall(5.9, 2.0)  # under 3x
    assert bench.median_of([3.0, 1.0, 2.0]) == 2.0
    assert bench.median_of([1.0, 2.0, 3.0, 4.0]) == 2.5


def test_subset_runs_write_a_separate_detail_file():
    """A SPARK_GRAFT_BENCH_ONLY run must not clobber or impersonate the
    full-registry BENCH_DETAIL record."""
    import bench

    assert bench.detail_file_and_metric(None) == (
        "BENCH_DETAIL.json",
        "headline_queries_total",
    )
    assert bench.detail_file_and_metric("") == (
        "BENCH_DETAIL.json",
        "headline_queries_total",
    )
    assert bench.detail_file_and_metric("dedup_exact") == (
        "BENCH_SUBSET.json",
        "subset_queries_total",
    )


def test_normalized_medians_divide_by_bracketing_probes():
    """VERDICT r9 #2b: each query's median divides by the mean of the two
    fixed-probe timings bracketing its run position, so a query recorded
    inside a degradation window (inflated probes around it) normalizes
    back to its steady-state ratio."""
    names = [f"q{i}" for i in range(12)]
    medians = {n: 2.0 for n in names}
    # probes: before q0, before q10, after the last query
    calibration = [0.2, 0.4, 0.4]
    norm = bench.normalized_medians(names, medians, calibration, 10)
    # q0..q9 bracketed by (0.2, 0.4) -> 2.0 / 0.3
    assert norm["q0"] == norm["q9"] == round(2.0 / 0.3, 2)
    # q10, q11 bracketed by (0.4, 0.4) -> 2.0 / 0.4
    assert norm["q10"] == norm["q11"] == 5.0
    # a query inside a 2x-degraded window with a 2x-inflated median
    # normalizes to the calm-window figure
    calm = bench.normalized_medians(["a"], {"a": 2.0}, [0.2, 0.2], 10)["a"]
    hot = bench.normalized_medians(["a"], {"a": 4.0}, [0.4, 0.4], 10)["a"]
    assert calm == hot


def test_normalized_medians_skip_missing_and_zero_cal():
    norm = bench.normalized_medians(["a", "b"], {"a": 1.0}, [0.0, 0.0], 10)
    assert norm == {}  # zero probes -> no ratio rather than a div-by-zero


def test_rotation_pick_least_recently_benched_first():
    """VERDICT r12 #5: never-benched queries (no ledger entry) outrank any
    benched one; among equals the name breaks ties deterministically; the
    pick is capped at n."""
    cands = ["e", "d", "c", "b", "a"]
    last = {"a": 3, "b": 1, "c": 2}
    # d, e never benched -> first (name order), then b (run 1), then c
    assert bench.rotation_pick(cands, last, n=4) == ["d", "e", "b", "c"]
    assert bench.rotation_pick(cands, last, n=2) == ["d", "e"]
    # empty ledger: pure name order
    assert bench.rotation_pick(cands, {}, n=3) == ["a", "b", "c"]


def test_work_counts_reads_one_groups_jobs_and_distinct_stages():
    """work_counts is the bench's per-query work record: it counts the
    group's jobs and the distinct stage ids across them (a stage two jobs
    share counts once), and a job whose info has aged out adds no stage."""
    class FakeTracker:
        groups = {"bench:q:2": [7, 8, 9], "bench:q:1": [4, 5]}
        infos = {
            4: SimpleNamespace(stageIds=[1, 2]),
            5: SimpleNamespace(stageIds=[3]),
            7: SimpleNamespace(stageIds=[10, 11]),
            8: SimpleNamespace(stageIds=[11, 12]),
            9: None,
        }

        def getJobIdsForGroup(self, group):
            return self.groups.get(group, [])

        def getJobInfo(self, job_id):
            return self.infos[job_id]

    tracker = FakeTracker()
    # jobs 7 and 8 share stage 11; job 9's info is gone; group 1's jobs
    # and stages do not leak in
    assert bench.work_counts(tracker, "bench:q:2") == (3, 3)
    assert bench.work_counts(tracker, "bench:q:1") == (2, 3)
    assert bench.work_counts(tracker, "other") == (0, 0)
