"""train_cache.cached: the one in-process memo of trained artifacts, under
concurrent callers on one process (no Spark)."""

from __future__ import annotations

import sys
import threading

from doc2vec_spark import train_cache

KIND = "concurrency-test"
THREADS = 8
ROUNDS = 50


def _artifact(tag: str) -> dict:
    return {0: [tag, 1.5], 1: [[tag, 2]]}


def test_cached_memo_is_shared_safely_across_threads():
    """8 threads hit one shared key and one key each, mutating every
    artifact they get back. Every result equals the trained value, the
    memo holds exactly one entry per key, and the next hit is unchanged by
    the callers' mutations."""
    errors: list = []
    barrier = threading.Barrier(THREADS)

    def train_for(tag):
        return lambda: _artifact(tag)

    def worker(i):
        try:
            barrier.wait(timeout=10)
            for _ in range(ROUNDS):
                shared = train_cache.cached(KIND, ("shared",), train_for("shared"))
                own = train_cache.cached(KIND, ("own", i), train_for(f"own{i}"))
                if shared != _artifact("shared") or own != _artifact(f"own{i}"):
                    errors.append((i, shared, own))
                shared[0].append("mutated")
                own[1][0].append("mutated")
                shared.clear()
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

    with train_cache._LOCK:
        keys = sorted(k for k in train_cache._MEMO if k[0] == KIND)
    assert keys == sorted(
        [(KIND, ("shared",))] + [(KIND, ("own", i)) for i in range(THREADS)]
    )

    def no_train():
        raise AssertionError("memo missed after the concurrent run")

    assert train_cache.cached(KIND, ("shared",), no_train) == _artifact("shared")
    for i in range(THREADS):
        assert train_cache.cached(KIND, ("own", i), no_train) == _artifact(f"own{i}")


def test_cached_bypasses_and_skips_empty_artifacts():
    """key None trains every call and stores nothing; an empty artifact is
    returned but never stored."""
    calls = []

    def train():
        calls.append(1)
        return [[1.0]]

    before = dict(train_cache._MEMO)
    assert train_cache.cached(KIND, None, train) == [[1.0]]
    assert train_cache.cached(KIND, None, train) == [[1.0]]
    assert len(calls) == 2
    assert train_cache.cached(KIND, ("empty",), lambda: {}) == {}
    assert train_cache._MEMO == before


def test_memo_evicts_the_least_recently_used_entry_past_its_cap():
    """Filling the memo past MEMO_MAX_ENTRIES drops the least recently used
    key; a key hit just before the overflow survives it."""
    train_cache.clear()
    cap = train_cache.MEMO_MAX_ENTRIES
    for i in range(cap):
        train_cache.cached(KIND, ("lru", i), lambda i=i: [i])

    def no_train():
        raise AssertionError("a recently used key was evicted")

    assert train_cache.cached(KIND, ("lru", 0), no_train) == [0]  # now most recent
    train_cache.cached(KIND, ("lru", cap), lambda: [cap])
    with train_cache._LOCK:
        keys = set(train_cache._MEMO)
    assert len(keys) == cap
    assert (KIND, ("lru", 1)) not in keys  # the least recently used
    assert (KIND, ("lru", 0)) in keys and (KIND, ("lru", cap)) in keys
    assert train_cache.cached(KIND, ("lru", 0), no_train) == [0]
    train_cache.clear()
