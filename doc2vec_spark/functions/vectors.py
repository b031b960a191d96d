"""Vector column expressions — the KNN / similarity kernel (SURVEY T1/E3).

Exact cosine distance as a *native* column expression: ``zip_with`` +
``aggregate`` compile into Catalyst expressions evaluated JVM-side, so the
brute-force scan stays inside codegen with no Python boundary. The reference
delegates this to sqlite-vec / Qdrant (mcp/src/server.ts:448-476); here it is
an ordinary projection that Catalyst can pipeline with filters, and the
top-k on it compiles to TakeOrderedAndProject (no full sort).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic accumulation order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_distance(a: Column, b: Column) -> Column:
    """1 - cos(a, b); ascending = closer, matching sqlite-vec MATCH distance
    ordering (the engine-standard convention, SURVEY E3). A zero-norm
    vector has no direction: its distance is NULL, with ANSI mode on or off
    (a plain ``/`` raises DIVIDE_BY_ZERO under ANSI)."""
    return F.lit(1.0) - F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def cosine_distance_lit(
    a: Column, qvec: Sequence[float], norm: Column | None = None
) -> Column:
    """``cosine_distance(a, lit_vector(qvec))`` with the query's norm baked
    as a Python constant (r21, guide §1.2 per-task work): the literal
    query's norm fold is loop-invariant yet was re-evaluated per row as an
    interpreted HOF. The constant replays the identical arithmetic — the
    same 0.0-seeded left fold over the same doubles and a correctly-rounded
    IEEE sqrt — and the term order (``l2_norm(a) * qn``) is unchanged, so
    every emitted double is bit-identical to the inline form.

    ``norm``, when given, is a column already holding ``l2_norm(a)`` (the
    chunk store's serving frame stores it) and stands in for the per-row
    fold, in the same place, so the distances stay bit-identical."""
    import math

    q = [float(v) for v in qvec]
    acc = 0.0
    for x in q:
        acc += x * x
    qn = math.sqrt(acc)
    an = l2_norm(a) if norm is None else norm
    return F.lit(1.0) - F.try_divide(dot(a, lit_vector(q)), an * F.lit(qn))


def lit_vector(values: Sequence[float]) -> Column:
    """A query vector as a literal array<double> column.

    r21: built as ONE parsed SQL expression instead of per-element
    ``F.lit`` calls — a 64-dim vector cost ~65 py4j round trips per use
    (the ann_*/knn family embeds dozens of literal vectors per plan, so
    plan CONSTRUCTION dominated several sub-second queries). The ``D``
    suffix parses as a DOUBLE literal; ``repr`` of a Python float is its
    shortest round-trip form, and Java's parser returns the bit-identical
    double (verified bitwise vs the F.lit path), so plans and results are
    unchanged — only driver-side build time drops.
    """
    vals = [float(v) for v in values]
    if not vals:
        return F.expr("array()").cast("array<double>")
    if any(v != v or v in (float("inf"), float("-inf")) for v in vals):
        # inf/nan have no SQL literal spelling — take the slow exact path
        return F.array(*[F.lit(v) for v in vals])
    return F.expr("array(" + ",".join(f"{v!r}D" for v in vals) + ")")
