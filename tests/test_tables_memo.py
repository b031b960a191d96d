"""tables._read_parquet's schema memo under concurrent loads on one process
(no Spark: a stub reader stands in for ``spark.read``)."""

from __future__ import annotations

import os
import sys
import threading

from doc2vec_spark import tables

THREADS = 8
PATHS = 200
ROUNDS = 3


class _StubReader:
    def schema(self, _schema):
        return self

    def parquet(self, path):
        return _StubFrame(path)


class _StubFrame:
    def __init__(self, path):
        self.schema = ("schema-of", path)


class _StubSpark:
    read = _StubReader()


def test_schema_memo_is_safe_under_concurrent_loads(tmp_path, monkeypatch):
    """8 threads load 200 paths whose mtimes keep changing, so every call
    misses and purges the path's stale entry while the others insert. No
    call raises, and the memo ends with exactly one entry per path."""
    monkeypatch.setattr(tables, "_SCHEMA_CACHE", {})
    paths = []
    for i in range(PATHS):
        p = tmp_path / f"t{i}.parquet"
        p.write_bytes(b"x")
        paths.append(str(p))
    errors: list = []
    barrier = threading.Barrier(THREADS)

    def worker(i):
        try:
            barrier.wait(timeout=10)
            for r in range(ROUNDS):
                for j, path in enumerate(paths):
                    ns = (1 + (r * THREADS + i) * PATHS + j) * 1_000_000
                    os.utime(path, ns=(ns, ns))
                    df = tables._read_parquet(_StubSpark(), path)
                    if df.schema != ("schema-of", path):
                        errors.append((i, path, df.schema))
        except Exception as exc:  # surfaced by the assertion below
            errors.append((i, exc))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(THREADS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert sorted(k[0] for k in tables._SCHEMA_CACHE) == sorted(paths)
