"""Bounded driver-side result frames as VALUES LocalRelations (r22 batch 6/7).

``spark.createDataFrame(rows)`` plans a Python-RDD scan
(``applySchemaToPythonRDD``): every action on the returned frame — or on a
query that broadcast-joins it — round-trips through a spawned Python
worker, measured ~0.4 s per action slower than a parsed VALUES
LocalRelation for an 8-row frame on local[32]. Bounded literal tails and
broadcast LUTs go through ``local_frame`` instead: the VALUES form folds to
one ``LocalTableScan`` and every cell round-trips exactly —

- int/None cells: ``CAST(<literal> AS BIGINT/INT)``; a value outside the
  type's range raises (the cast would give NULL or wrap);
- double cells: ``<repr>D`` — Python repr is the shortest string that
  round-trips the IEEE value and Spark's parser rounds correctly, so the
  stored double is bit-identical (the r21 evalmetrics ``{x!r}D``
  discipline); non-finite values are rejected (no caller produces them);
- string cells: ``CAST(unbase64('<b64>') AS STRING)`` — injection-proof
  and byte-exact for arbitrary UTF-8 (verified on quotes, backslashes,
  tabs/newlines, CJK).

Anything else raises; exactness is the contract.
"""

from __future__ import annotations

import base64
import math

from pyspark.sql import DataFrame, SparkSession

_SQL_TYPES = {
    "long": "BIGINT",
    "int": "INT",
    "double": "DOUBLE",
    "string": "STRING",
}

_INT_BOUND = {"BIGINT": 1 << 63, "INT": 1 << 31}


def _cell(v, tp: str) -> str:
    if v is None:
        return f"CAST(NULL AS {tp})"
    if tp in ("BIGINT", "INT"):
        if isinstance(v, bool) or not isinstance(v, int):
            raise TypeError(f"{tp} cell must be int/None, got {v!r}")
        if not -_INT_BOUND[tp] <= v < _INT_BOUND[tp]:
            raise TypeError(f"{tp} cell out of range: {v!r}")
        return f"CAST({v} AS {tp})"
    if tp == "DOUBLE":
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise TypeError(f"DOUBLE cell must be float/int/None, got {v!r}")
        v = float(v)
        if not math.isfinite(v):
            raise TypeError("DOUBLE cell must be finite")
        return f"CAST({v!r}D AS DOUBLE)"
    if tp == "STRING":
        if not isinstance(v, str):
            raise TypeError(f"STRING cell must be str/None, got {v!r}")
        b64 = base64.b64encode(v.encode("utf-8")).decode("ascii")
        return f"CAST(unbase64('{b64}') AS STRING)"
    raise TypeError(f"unsupported SQL type {tp}")


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """``rows`` of int/float/str/None cells + a '"name type, ..."' schema
    (types from ``_SQL_TYPES``) -> a LocalTableScan frame. Rows must be
    non-empty — empty-corpus branches keep their createDataFrame([], schema)
    form (never on a timed path)."""
    if not rows:
        raise ValueError("local_frame needs >= 1 row; use createDataFrame([])")
    fields = [tuple(c.strip().split()) for c in schema.split(",")]
    names = [n for n, _ in fields]
    tps = [_SQL_TYPES[t] for _, t in fields]
    vals = ", ".join(
        "(" + ", ".join(_cell(v, tp) for v, tp in zip(r, tps)) + ")" for r in rows
    )
    return spark.sql(
        f"SELECT * FROM (VALUES {vals}) AS t({', '.join(names)})"
    )


# batch-6 name, kept for the integer-only call sites
int_local_frame = local_frame
