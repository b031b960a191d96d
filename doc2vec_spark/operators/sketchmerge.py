"""Sketch MERGEABILITY — the property that makes sketches work at 100 TB
(round 12).

A sketch is only useful on a cluster if partial sketches built on disjoint
partitions merge into exactly the sketch of the union — that is what lets
Spark build it as a map-side-combinable aggregation, ship per-executor
state, and union sketches across corpora/streams/days without touching raw
data. ``sk_hll_distinct`` (sketches.py) documents the claim ("mergeable by
register-wise MAX"); this operator PROVES it as a hash-checked result:
split the table into two disjoint md5 halves, build each half's HLL
registers independently, merge them register-wise, and emit the merged
registers next to the whole-table registers with an equality flag. The
equality is exact (MAX is associative/commutative/idempotent) — every
`consistent` row is 1 by construction, and the oracle re-derives the same
thing, so a regression anywhere in the hash/register pipeline (or an
engine that silently re-hashed differently per branch) breaks the flag.

Plan shape: ONE hashed scan -> one (reg)-keyed aggregation with FILTER
clauses building the half registers and the whole-table register in the
same pass — the merge demonstration costs no extra shuffle over the plain
sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.operators.sketches import HLL_M, _HLL_W_BITS
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

# register-index shift derived from HLL_M, not hardcoded (review finding
# r12: a literal 4 would silently desynchronize from sketches.py if m ever
# changed, leaving the merge proof proving nothing about the real sketch)
_REG_SHIFT = HLL_M.bit_length() - 1
assert (1 << _REG_SHIFT) == HLL_M, "HLL_M must stay a power of two"

QUERIES, _register = registrar()


# disjoint halves by md5 bucket of the ROW key (o_orderkey), so both halves
# contain a mix of the hashed VALUES (o_custkey) — the interesting case
_HALF_SQL = "('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 2"


@_register(
    "sk_hll_merge",
    f"""
    WITH hashed AS (
      SELECT {_HALF_SQL} AS half,
             ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 10))::BIGINT AS h
      FROM orders
    ),
    rho AS (
      SELECT half, h % {HLL_M} AS reg,
             CASE WHEN h // {HLL_M} = 0 THEN {_HLL_W_BITS + 1}
                  ELSE position('1' IN lpad(bin(h // {HLL_M}), {_HLL_W_BITS}, '0'))
             END AS r
      FROM hashed
    )
    SELECT reg,
           CAST(COALESCE(MAX(r) FILTER (WHERE half = 0), 0) AS BIGINT) AS r_half0,
           CAST(COALESCE(MAX(r) FILTER (WHERE half = 1), 0) AS BIGINT) AS r_half1,
           CAST(greatest(COALESCE(MAX(r) FILTER (WHERE half = 0), 0),
                         COALESCE(MAX(r) FILTER (WHERE half = 1), 0)) AS BIGINT)
             AS r_merged,
           CAST(MAX(r) AS BIGINT) AS r_whole,
           CAST(CASE WHEN greatest(COALESCE(MAX(r) FILTER (WHERE half = 0), 0),
                                   COALESCE(MAX(r) FILTER (WHERE half = 1), 0))
                          = MAX(r)
                     THEN 1 ELSE 0 END AS BIGINT) AS consistent
    FROM rho
    GROUP BY reg
    ORDER BY reg
    """,
    "HLL merge-property proof: registers built independently on two "
    "disjoint md5 halves of orders, merged register-wise (MAX), emitted "
    "beside the whole-table registers with an exact equality flag — the "
    "mergeability that lets the sketch run as a map-side-combinable "
    "distributed aggregation and union across corpora without raw data. "
    "ONE hashed scan + one reg-keyed FILTER aggregation.",
)
def sk_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    half = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    h = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 10), 16, 10
    ).cast("long")
    rho = orders.select(
        half.alias("half"),
        (h % HLL_M).alias("reg"),
        F.when(F.shiftright(h, _REG_SHIFT) == 0, F.lit(_HLL_W_BITS + 1))
        .otherwise(F.instr(F.lpad(F.bin(F.shiftright(h, _REG_SHIFT)), _HLL_W_BITS, "0"), "1"))
        .cast("long")
        .alias("r"),
    )
    r0 = F.coalesce(F.max(F.when(F.col("half") == 0, F.col("r"))), F.lit(0))
    r1 = F.coalesce(F.max(F.when(F.col("half") == 1, F.col("r"))), F.lit(0))
    merged = F.greatest(r0, r1)
    whole = F.max("r")
    return (
        rho.groupBy("reg")
        .agg(
            r0.cast("long").alias("r_half0"),
            r1.cast("long").alias("r_half1"),
            merged.cast("long").alias("r_merged"),
            whole.cast("long").alias("r_whole"),
            (merged == whole).cast("long").alias("consistent"),
        )
        .orderBy("reg")
    )
