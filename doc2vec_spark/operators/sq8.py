"""Scalar-quantized (SQ8) vector search (round 13): the third index
compression family.

Production vector indexes ship three standard compressions: product
quantization (``ann_ivf_pq_search`` — 8 bytes/vector via codebooks),
dimension truncation (``ann_truncate_rerank`` — Matryoshka prefixes), and
**scalar quantization** (faiss ``SQ8``): each dimension independently
mapped to an int8 code over the corpus's per-dimension [min, max] range —
64 bytes/vector instead of 512, no codebook training, and distances
computable on the codes alone. This operator adds that member, in the
SYMMETRIC form (query quantized with the same bounds), which makes the
distance a PURE INTEGER: sqdist = sum((qcode_d - code_d)^2), so the
entire ranking crosses the hash gate with no float anywhere after the
one-time encode.

Cross-engine float story (encode only): code_d = floor((x_d - min_d) *
255 / (max_d - min_d) + 0.5) — both engines evaluate the identical IEEE
double expression (the established discipline); the per-dimension bounds
are one 64-scalar aggregate, collected and re-broadcast as literals
engine-side (the PQ-LUT bounded-driver-state precedent); degenerate
dimensions (max == min) encode 0 by explicit CASE in both.

100 TB shape: bounds = one map-side-combinable MIN/MAX agg (128 scalars);
encode = map-only; scan = integer fold over int8 codes (1/8 the bytes of
the double scan) feeding TakeOrderedAndProject. At scale codes live in
their own column/file so the scan never touches full vectors — same
layout note as the PQ tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doc2vec_spark.functions.vectors import as_double_array
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


DIM = 64
SQ_K = 10  # top-k


def _code_sql(vec: str, mns: str, mxs: str) -> str:
    """int8 code list for a DOUBLE[] column, given bounds lists (SQL)."""
    return (
        f"list_transform(generate_series(1, {DIM}), i -> CASE "
        f"WHEN {mxs}[i] = {mns}[i] THEN 0 "
        f"ELSE CAST(floor(({vec}[i] - {mns}[i]) * 255.0 / "
        f"({mxs}[i] - {mns}[i]) + 0.5) AS BIGINT) END)"
    )


@_register(
    "ann_sq8_search",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (
      SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
      FROM e, unnest(generate_series(1, {DIM})) t(i)
      GROUP BY i),
    b AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
          FROM dims),
    codes AS (
      SELECT vec_id, {_code_sql('v', 'mns', 'mxs')} AS c
      FROM e, b),
    q AS (SELECT c AS qc FROM codes WHERE vec_id = 0),
    scored AS (
      -- q joined in (one row): DuckDB forbids subqueries inside lambdas
      SELECT vec_id,
             CAST(list_sum(list_transform(generate_series(1, {DIM}),
                    i -> (c[i] - qc[i]) * (c[i] - qc[i]))) AS BIGINT)
               AS sqdist
      FROM codes, q WHERE vec_id <> 0)
    SELECT vec_id, rnk, sqdist
    FROM (SELECT vec_id, sqdist,
                 ROW_NUMBER() OVER (ORDER BY sqdist, vec_id) AS rnk
          FROM scored)
    WHERE rnk <= {SQ_K}
    """,
    "SQ8 scalar-quantized search (faiss SQ8, symmetric): per-dimension "
    "int8 codes over corpus [min, max] bounds (64 bytes/vector, no "
    "codebook training), query quantized with the same bounds, ranking by "
    "the PURE-INTEGER code distance sum((qc-c)^2) — nothing float crosses "
    "the gate after encode. Bounds are one 128-scalar agg; encode and "
    "scan are map-only feeding TakeOrderedAndProject.",
)
def ann_sq8_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    # per-dimension bounds: one agg, 128 scalars to the driver. r21: the
    # whole agg list parses as ONE struct expression (128 py4j column
    # constructions -> 1 F.expr call; same aggregates, same values), and
    # the literal bound arrays render through lit_vector's single-parse
    # path — plan-construction cost only, results identical.
    fields = ", ".join(
        [f"min(element_at(v, {i + 1})) AS mn{i}" for i in range(DIM)]
        + [f"max(element_at(v, {i + 1})) AS mx{i}" for i in range(DIM)]
    )
    bounds = e.agg(F.expr(f"struct({fields})").alias("b")).collect()[0]["b"]
    if bounds["mn0"] is None:  # empty embeddings: oracle emits 0 rows
        return spark.createDataFrame([], "vec_id long, rnk int, sqdist long")
    mns = [float(bounds[f"mn{i}"]) for i in range(DIM)]
    mxs = [float(bounds[f"mx{i}"]) for i in range(DIM)]

    from doc2vec_spark.functions.vectors import lit_vector

    mns_lit = lit_vector(mns)
    mxs_lit = lit_vector(mxs)
    # element_at throughout: Spark SQL bracket indexing is 0-based while
    # element_at (and DuckDB's brackets) are 1-based
    code = F.expr(
        f"transform(sequence(1, {DIM}), i -> CASE "
        "WHEN element_at(_mx, i) = element_at(_mn, i) THEN 0L "
        "ELSE CAST(floor((element_at(v, i) - element_at(_mn, i)) * 255.0D / "
        "(element_at(_mx, i) - element_at(_mn, i)) + 0.5D) AS BIGINT) END)"
    )
    codes = e.withColumn("_mn", mns_lit).withColumn("_mx", mxs_lit).select(
        "vec_id", code.alias("c")
    )
    # query codes replayed driver-side with the SAME double arithmetic
    qrow = e.filter(F.col("vec_id") == 0).first()
    if qrow is None:  # vec_id 0 absent: oracle's q CTE is empty -> 0 rows
        return spark.createDataFrame([], "vec_id long, rnk int, sqdist long")
    qv = [float(x) for x in qrow["v"]]
    import math

    qc = [
        0
        if mxs[i] == mns[i]
        else int(math.floor((qv[i] - mns[i]) * 255.0 / (mxs[i] - mns[i]) + 0.5))
        for i in range(DIM)
    ]
    qc_lit = F.expr("array(" + ",".join(f"{int(x)}L" for x in qc) + ")")
    dist = F.expr(
        "aggregate(zip_with(c, _qc, (a, b) -> (a - b) * (a - b)), 0L, "
        "(acc, x) -> acc + x)"
    )
    scored = (
        codes.filter(F.col("vec_id") != 0)
        .withColumn("_qc", qc_lit)
        .select("vec_id", dist.cast("long").alias("sqdist"))
    )
    topk = scored.orderBy(F.asc("sqdist"), F.asc("vec_id")).limit(SQ_K)
    w = Window.orderBy(F.asc("sqdist"), F.asc("vec_id"))
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        "vec_id", "rnk", "sqdist"
    )
