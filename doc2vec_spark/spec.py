"""QuerySpec: one named engine capability = a Spark plan + a DuckDB oracle.

Every operator claimed in SURVEY.md section 2 is registered as a QuerySpec.
``fn(spark, sf_dir)`` returns the DataFrame; ``oracle`` is ANSI SQL DuckDB
runs on the same parquet tables (views pre-registered by the driver).
``oracle=None`` marks genuinely non-SQL-expressible ops (driver then does a
rows-only check).

Column-name discipline: every computed column is aliased identically on both
sides — the driver sorts columns by name before value-hashing.

Every operator module registers its specs the same way, with one line,
``QUERIES, _register = registrar()``, then ``@_register(name, oracle, doc)``
over each plan function. ``registrar()`` returns a fresh ``QUERIES`` dict and
the decorator that fills it; registering one name twice in a module raises
``ValueError`` (``registry.merged_queries`` catches duplicates across modules).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


def registrar() -> tuple[dict[str, QuerySpec], Callable[..., Callable]]:
    """A module's ``(QUERIES, register)`` pair; see the module docstring."""
    queries: dict[str, QuerySpec] = {}

    def register(name: str, oracle: str | None, doc: str = ""):
        def deco(fn):
            if name in queries:
                raise ValueError(f"duplicate query name {name!r}")
            queries[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
            return fn

        return deco

    return queries, register
