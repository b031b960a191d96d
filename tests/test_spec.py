"""Query registration (spec.registrar, registry.merged_queries); no session."""

from __future__ import annotations

import pytest


def test_registrar_rejects_a_name_registered_twice():
    from doc2vec_spark.spec import QuerySpec, registrar

    queries, register = registrar()

    @register("q", "SELECT 1 AS x", doc="first")
    def first(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="duplicate query name 'q'"):

        @register("q", "SELECT 2 AS x")
        def second(spark, sf_dir):
            return None

    assert queries == {"q": QuerySpec(fn=first, oracle="SELECT 1 AS x", doc="first")}
    other, _ = registrar()
    assert other == {} and other is not queries


def test_merged_queries_holds_every_registered_spec():
    from doc2vec_spark.registry import merged_queries

    merged = merged_queries()
    assert len(merged) == 200
    assert all(spec.fn.__module__.startswith("doc2vec_spark.") for spec in merged.values())
