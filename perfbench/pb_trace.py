"""Tracing from outside the package: spans around the calls into each
module, a Spark job group per span, and per-group work read back from the
Spark status store (``sc._jsc.sc().statusStore()``, which is kept with
``spark.ui.enabled=false``).

A span records name, parent, start and end. A layer's self time is its
span's duration minus its child spans (calls are sequential on one thread,
so children never overlap). Jobs land in the group of the innermost span
that was open when the action ran, so jobs that an action launches under
AQE, which lose their Python call site, are still attributed.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

# work counters summed over the completed stages of a set of jobs
WORK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "run_s",
    "cpu_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
    "output_records",
    "python_map_run_s",
)


def empty_work() -> dict:
    return {k: 0 for k in WORK_KEYS}


def add_work(into: dict, other: dict) -> dict:
    for k in WORK_KEYS:
        into[k] += other[k]
    return into


class StatusReader:
    """Jobs and stages from the Spark status store, as JSON."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._ctx = sc._jsc.sc()
        self._store = self._ctx.statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper = mapper
        self._seen: set[int] = set()
        self._python_map: dict[int, bool] = {}

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def new_jobs(self) -> list[dict]:
        """Jobs that ended since the last call (waits for the listener bus
        to deliver every event first)."""
        self._ctx.listenerBus().waitUntilEmpty()
        jobs = [j for j in self._json(self._store.jobsList(None)) if j["jobId"] not in self._seen]
        self._seen.update(j["jobId"] for j in jobs)
        return jobs

    def _runs_python_map(self, stage_id: int) -> bool:
        """Whether the stage's operator graph holds a MapInPandas node (the
        chunker's mapInPandas)."""
        if stage_id not in self._python_map:
            names = []
            todo = [self._store.operationGraphForStage(stage_id).rootCluster()]
            while todo:
                c = todo.pop()
                names.append(c.name())
                kids = c.childClusters()
                todo += [kids.apply(i) for i in range(kids.size())]
            self._python_map[stage_id] = any("MapInPandas" in n for n in names)
        return self._python_map[stage_id]

    def work(self, jobs: list[dict]) -> dict:
        out = empty_work()
        out["jobs"] = len(jobs)
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        for sid in stage_ids:
            st = self._json(self._store.lastStageAttempt(sid))
            if st["status"] != "COMPLETE":
                continue
            run_s = st["executorRunTime"] / 1e3
            out["stages"] += 1
            out["tasks"] += st["numCompleteTasks"]
            out["run_s"] += run_s
            out["cpu_s"] += st["executorCpuTime"] / 1e9
            out["input_bytes"] += st["inputBytes"]
            out["shuffle_read_bytes"] += st["shuffleReadBytes"]
            out["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            out["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            out["output_bytes"] += st["outputBytes"]
            out["output_records"] += st["outputRecords"]
            if self._runs_python_map(sid):
                out["python_map_run_s"] += run_s
        return out


class Tracer:
    """Spans with one Spark job group each."""

    def __init__(self, spark, reader: StatusReader):
        self._sc = spark.sparkContext
        self.reader = reader
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self._next = 0

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(rec["group"], rec["name"], False)

    @contextmanager
    def span(self, name: str):
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{self._next}",
            "children_s": 0.0,
            "work": empty_work(),
        }
        self._stack.append(rec)
        self._set_group(rec)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["dur_s"] = rec["t1"] - rec["t0"]
            rec["self_s"] = rec["dur_s"] - rec["children_s"]
            self._stack.pop()
            if parent is not None:
                parent["children_s"] += rec["dur_s"]
            self._set_group(parent)
            self.spans.append(rec)
            if parent is None:
                self._attribute()

    def _attribute(self) -> None:
        """After a top-level span ends: read its jobs and add each job's
        work to the span whose group it carries."""
        by_group = {s["group"]: s for s in self.spans if s.get("open_jobs", True)}
        jobs = self.reader.new_jobs()
        for group, rec in by_group.items():
            mine = [j for j in jobs if j.get("jobGroup") == group]
            if mine:
                add_work(rec["work"], self.reader.work(mine))
            rec["open_jobs"] = False

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` by ``make(original)`` until ``unwrap_all``."""
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        self._patched.append((owner, attr, orig))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``."""

        def make(orig):
            def traced(*args, **kwargs):
                with self.span(name):
                    return orig(*args, **kwargs)

            return traced

        self.patch(owner, attr, make)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def subtree(spans: list[dict], root: dict) -> list[dict]:
    """``root`` and every span below it."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo += kids.get(s["id"], [])
    return out


def rollup(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, self time and work (only the span's own group's
    jobs, never its children's)."""
    out: dict[str, dict] = {}
    for s in spans:
        r = out.setdefault(s["name"], {"calls": 0, "self_s": 0.0, "work": empty_work()})
        r["calls"] += 1
        r["self_s"] += s["self_s"]
        add_work(r["work"], s["work"])
    return out


def total_work(spans: list[dict]) -> dict:
    out = empty_work()
    for s in spans:
        add_work(out, s["work"])
    return out
