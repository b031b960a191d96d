"""SPEC_HASHES.json must track the live code (ADVICE r02): a query whose
implementation or oracle changed after its driver stamp must rotate back
into the correctness window, which only happens when the stamp file is
refreshed. This test fails on drift so the refresh can't be forgotten.
"""

from __future__ import annotations


def test_spec_hashes_file_current():
    from doc2vec_spark import spec_hashes

    stored = spec_hashes.load_stamps()
    assert stored, "SPEC_HASHES.json missing — run: python -m doc2vec_spark.spec_hashes"
    current = spec_hashes.current_spec_hashes()
    stale = sorted(
        n for n, h in current.items()
        if n not in stored or stored[n]["hash"] != h
    )
    extinct = sorted(n for n in stored if n not in current)
    assert not stale and not extinct, (
        f"spec hashes stale for {stale}, removed queries {extinct} — "
        "run: python -m doc2vec_spark.spec_hashes"
    )
    uni = spec_hashes.load_universal_stamp()
    assert uni and uni.get("hash") == spec_hashes.universal_hash(), (
        "global stamp (tables.py digest) stale — "
        "run: python -m doc2vec_spark.spec_hashes"
    )


def test_universal_stamp_gates_all_verification(monkeypatch):
    """ADVICE r5 (medium): tables.py is excluded from per-query digests, so
    a loader change must instead void ALL driver verification via the global
    stamp — otherwise the rotation could report stale results as verified.

    r21: the verified state is SYNTHESIZED via monkeypatch rather than read
    from the live repo — a genuine tables.py edit (e.g. the r21 schema-memo
    optimization) correctly voids every live stamp until the next driver
    round, so "some names are currently verified" is not an invariant this
    test may assume; the gate logic is what must hold."""
    from doc2vec_spark import spec_hashes

    monkeypatch.setattr(
        spec_hashes, "current_spec_hashes", lambda merged=None: {"q1": "abc"}
    )
    monkeypatch.setattr(
        spec_hashes, "load_stamps", lambda: {"q1": {"hash": "abc", "since": 1}}
    )
    monkeypatch.setattr(spec_hashes, "_green_rounds", lambda: {"q1": [5]})
    monkeypatch.setattr(
        spec_hashes,
        "load_universal_stamp",
        lambda: {"hash": spec_hashes.universal_hash(), "since": 1},
    )
    assert spec_hashes.verified_names() == frozenset({"q1"}), (
        "precondition: the synthetic stamp must verify under a current "
        "universal stamp"
    )
    monkeypatch.setattr(
        spec_hashes, "load_universal_stamp",
        lambda: {"hash": "0" * 16, "since": 1},
    )
    assert spec_hashes.verified_names() == frozenset()


def test_universal_hash_tracks_tables_module():
    """The global digest must actually cover the table loader's source."""
    from doc2vec_spark import spec_hashes

    dumps, _ = spec_hashes.module_closures()
    assert "doc2vec_spark.tables" in dumps
    assert "doc2vec_spark.tables" in spec_hashes.GLOBAL_STAMP_MODULES


def test_rotation_prefers_unverified_then_stalest():
    """all_queries() order: every non-verified name precedes every
    validly-verified name, and the driver's 50-slot window covers all fresh
    names whenever they fit."""
    from doc2vec_spark import spec_hashes
    from doc2vec_spark.registry import all_queries, merged_queries

    merged = merged_queries()
    valid = spec_hashes.verified_names(merged)
    order = list(all_queries())
    n_fresh = len(merged) - len(valid)
    assert set(order[:n_fresh]) == set(merged) - valid
    if n_fresh <= 50:
        assert all(n in set(order[:50]) for n in set(merged) - valid)


def test_spec_hash_changes_with_oracle():
    """Sanity: the hash covers the oracle text and the defining module."""
    from doc2vec_spark import spec_hashes
    from doc2vec_spark.registry import merged_queries
    from doc2vec_spark.spec import QuerySpec

    merged = merged_queries()
    name = next(n for n, s in merged.items() if s.oracle)
    base = spec_hashes.current_spec_hashes(merged)[name]
    mutated = dict(merged)
    mutated[name] = QuerySpec(
        fn=merged[name].fn, oracle=merged[name].oracle + " -- changed", doc=""
    )
    assert spec_hashes.current_spec_hashes(mutated)[name] != base


def test_registry_wrapper_preserves_fn_module():
    """The registry's scoped-cache wrapper must keep each QuerySpec.fn's
    __module__ pointing at the defining operator module — spec hashing keys
    the closure digest on it, and a wrapper that forgot functools.wraps
    would silently hash every query against the registry module instead."""
    from doc2vec_spark.registry import merged_queries

    for name, spec in merged_queries().items():
        mod = spec.fn.__module__
        assert mod.startswith("doc2vec_spark.") and mod != "doc2vec_spark.registry", (
            name,
            mod,
        )


def test_name_only_rotation_fallback_is_the_green_row_scan(monkeypatch, tmp_path):
    """With no stamps, the registry's rotation falls back to the names with a
    green CORRECTNESS row (spec_hashes._green_rounds, the one scan), and to
    the static round-1 list when no CORRECTNESS file is readable."""
    from doc2vec_spark import registry, spec_hashes

    monkeypatch.setattr(spec_hashes, "load_stamps", lambda: {})
    spec_hashes._green_rounds.cache_clear()
    try:
        greens = set(spec_hashes._green_rounds())
        assert greens
        assert registry._driver_verified_names({}) == greens

        (tmp_path / "CORRECTNESS_r01.json").write_text("{not json")
        monkeypatch.setattr(spec_hashes, "REPO_ROOT", tmp_path)
        spec_hashes._green_rounds.cache_clear()
        assert registry._driver_verified_names({}) == registry._VERIFIED_R01_FALLBACK
    finally:
        monkeypatch.undo()
        spec_hashes._green_rounds.cache_clear()
