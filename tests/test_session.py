"""SparkSession factory settings that need no session."""

from __future__ import annotations

import os


def test_default_parallelism_falls_back_to_usable_cpus(monkeypatch):
    from doc2vec_spark.session import default_parallelism

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
