"""Self-tests for span bookkeeping and work aggregation (no Spark: the
SparkContext and status reader are stand-ins).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pb_trace  # noqa: E402


class _Context:
    def __init__(self):
        self.group = None
        self.log = []

    def setJobGroup(self, group, description, interrupt):  # noqa: N802 - SparkContext API
        self.group = group
        self.log.append(group)

    def setLocalProperty(self, key, value):  # noqa: N802 - SparkContext API
        if key == "spark.jobGroup.id":
            self.group = value
            self.log.append(value)


class _Session:
    def __init__(self):
        self.sparkContext = _Context()


class _Reader:
    """Returns, per top-level span, one job for every group it was told of."""

    def __init__(self, ctx, work_per_job):
        self.ctx = ctx
        self.work_per_job = work_per_job
        self.pending = []

    def new_jobs(self):
        jobs, self.pending = self.pending, []
        return jobs

    def work(self, jobs):
        out = pb_trace.empty_work()
        out["jobs"] = len(jobs)
        out["stages"] = 2 * len(jobs)
        out["input_bytes"] = self.work_per_job * len(jobs)
        return out


def _tracer():
    spark = _Session()
    reader = _Reader(spark.sparkContext, 100)
    return pb_trace.Tracer(spark, reader), spark.sparkContext, reader


def test_job_groups_follow_the_span_stack():
    tracer, ctx, reader = _tracer()
    with tracer.span("op") as op:
        assert ctx.group == op["group"]
        with tracer.span("child") as child:
            assert ctx.group == child["group"]
            reader.pending.append({"jobId": 1, "jobGroup": child["group"]})
        assert ctx.group == op["group"]
        reader.pending.append({"jobId": 2, "jobGroup": op["group"]})
        reader.pending.append({"jobId": 3, "jobGroup": op["group"]})
    assert ctx.group is None
    assert child["work"]["jobs"] == 1 and op["work"]["jobs"] == 2
    assert pb_trace.total_work(tracer.spans)["input_bytes"] == 300


def test_self_time_excludes_children():
    tracer, _, _ = _tracer()
    with tracer.span("op") as op:
        time.sleep(0.02)
        with tracer.span("child") as child:
            time.sleep(0.05)
    assert child["self_s"] == child["dur_s"]
    assert abs(op["self_s"] - (op["dur_s"] - child["dur_s"])) < 1e-9
    assert op["self_s"] < op["dur_s"] - 0.04


def test_wrap_opens_a_span_and_unwrap_restores():
    tracer, _, _ = _tracer()

    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    orig = Owner.f
    tracer.wrap(Owner, "f", "layer.f")
    with tracer.span("op"):
        assert Owner.f(1) == 2
        assert Owner.f(2) == 3
    tracer.unwrap_all()
    assert Owner.f is orig
    roll = pb_trace.rollup(tracer.spans)
    assert roll["layer.f"]["calls"] == 2
    assert roll["op"]["calls"] == 1


def test_patch_replaces_until_unwrap():
    tracer, _, _ = _tracer()

    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    orig = Owner.f
    tracer.patch(Owner, "f", lambda f: lambda x: f(x) * 10)
    assert Owner.f(1) == 20
    assert Owner.f.__name__ == "f"
    tracer.unwrap_all()
    assert Owner.f is orig


def test_subtree_and_rollup():
    spans = [
        {"id": 1, "parent": None, "name": "a", "self_s": 1.0, "work": pb_trace.empty_work()},
        {"id": 2, "parent": 1, "name": "b", "self_s": 0.5, "work": pb_trace.empty_work()},
        {"id": 3, "parent": 2, "name": "b", "self_s": 0.25, "work": pb_trace.empty_work()},
        {"id": 4, "parent": None, "name": "c", "self_s": 9.0, "work": pb_trace.empty_work()},
    ]
    spans[2]["work"]["tasks"] = 7
    tree = pb_trace.subtree(spans, spans[0])
    assert sorted(s["id"] for s in tree) == [1, 2, 3]
    roll = pb_trace.rollup(tree)
    assert roll["b"]["calls"] == 2 and roll["b"]["self_s"] == 0.75
    assert roll["b"]["work"]["tasks"] == 7
    assert "c" not in roll


def test_add_work_sums_every_key():
    a = {k: 1 for k in pb_trace.WORK_KEYS}
    b = {k: 2 for k in pb_trace.WORK_KEYS}
    assert pb_trace.add_work(a, b) == {k: 3 for k in pb_trace.WORK_KEYS}
