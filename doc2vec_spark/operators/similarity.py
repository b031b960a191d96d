"""Similarity search over the embeddings table (BASELINE.json north star).

- brute-force exact cosine top-k: analytics.py t1_* (baseline path)
- SRP-LSH (signed random projection) bucketing: the scale path — assign each
  vector to a bucket by the sign pattern of dot products with fixed
  hyperplanes; search only the query's bucket. At 100 TB the bucket id
  becomes the partition key so a query touches one partition.
- IVF-style coarse quantization: assign to nearest of K fixed centroids;
  probe the query's cell.

Hyperplanes / centroids are deterministic (seeded numpy, inlined as literals
into BOTH the Spark plan and the DuckDB oracle), so correctness is
hash-checkable without any stored model state.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from doc2vec_spark.functions.vectors import (
    as_double_array,
    cosine_distance,
    cosine_distance_lit,
    dot,
    l2_norm,
    lit_vector,
)
from doc2vec_spark.functions.rounding import pround
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()

DIM = 64
NUM_PLANES = 8
NUM_CENTROIDS = 8

_rng = np.random.RandomState(42)
PLANES: list[list[float]] = [[float(x) for x in _rng.randn(DIM)] for _ in range(NUM_PLANES)]
CENTROIDS: list[list[float]] = [
    [float(x) for x in _rng.randn(DIM)] for _ in range(NUM_CENTROIDS)
]


def _sql_vec(vals: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in vals) + "]::DOUBLE[]"


def srp_bucket_expr(vcol) -> F.Column:
    """Bucket id = bit i set iff dot(v, plane_i) > 0."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(PLANES):
        bit = F.when(dot(vcol, lit_vector(plane)) > 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + F.shiftleft(bit.cast("long"), i)
    return bucket


_SRP_BUCKET_SQL = (
    "("
    + " + ".join(
        f"((CASE WHEN list_dot_product(v, {_sql_vec(p)}) > 0 THEN 1 ELSE 0 END)::BIGINT << {i})"
        for i, p in enumerate(PLANES)
    )
    + ")"
)


@_register(
    "ann_srp_buckets",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT bucket, COUNT(*) AS n, MIN(vec_id) AS min_vec_id
    FROM (SELECT vec_id, {_SRP_BUCKET_SQL} AS bucket FROM e)
    GROUP BY bucket
    """,
    "SRP-LSH bucket assignment ({} hyperplanes -> {} buckets): the ANN "
    "partitioning key at scale".format(NUM_PLANES, 2**NUM_PLANES),
)
def ann_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    return (
        e.select("vec_id", srp_bucket_expr(F.col("v")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.min("vec_id").alias("min_vec_id"))
    )


@_register(
    "ann_srp_search",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_SRP_BUCKET_SQL} AS bucket FROM e),
    q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0),
    cand AS (
      SELECT vec_id,
             1 - list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS dist
      FROM b, q WHERE b.bucket = q.qbucket
    )
    SELECT vec_id, rnk, floor((dist) * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS distance FROM (
      SELECT vec_id, dist, ROW_NUMBER() OVER (ORDER BY dist, vec_id) AS rnk FROM cand
    ) WHERE rnk <= 5
    """,
    "SRP-LSH approximate KNN: score only the query's bucket — the candidate "
    "set shrinks ~{}x, the plan shape is identical to exact KNN".format(2**NUM_PLANES),
)
def ann_srp_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    b = e.select("vec_id", "v", srp_bucket_expr(F.col("v")).alias("bucket"))
    qrow = b.filter(F.col("vec_id") == 0).select("v", "bucket").first()
    if qrow is None:  # no query row (empty table or vec_id 0 absent): oracle's q CTE is empty -> 0 rows
        return spark.createDataFrame([], "vec_id long, rnk int, distance double")
    qv, qbucket = qrow["v"], qrow["bucket"]
    cand = b.filter(F.col("bucket") == qbucket).select(
        "vec_id", cosine_distance_lit(F.col("v"), qv).alias("dist")
    )
    topk = cand.orderBy(F.asc("dist"), F.asc("vec_id")).limit(5)
    w = Window.orderBy(F.asc("dist"), F.asc("vec_id"))
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        "vec_id", "rnk", (pround(F.col("dist"), 6) + 0.0).alias("distance")
    )


# ---------------------------------------------------------------------------
# IVF-style coarse quantization
# ---------------------------------------------------------------------------


def _nearest_centroid_expr(vcol) -> F.Column:
    """argmin over fixed centroids of cosine distance, ties to lower id.

    Computed as array_position(dists, array_min(dists)) over one dists array:
    each distance is evaluated once (a CASE-chain fold duplicates subtrees
    exponentially), centroid norms are compile-time Python constants, and the
    vector's own norm is factored out of all 8 distances.
    """
    import math

    vnorm = l2_norm(vcol)
    dists = F.array(
        *[
            F.lit(1.0)
            - dot(vcol, lit_vector(c))
            / (vnorm * F.lit(math.sqrt(sum(x * x for x in c))))
            for c in CENTROIDS
        ]
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _centroid_dist_sql(i: int) -> str:
    c = _sql_vec(CENTROIDS[i])
    return (
        f"1 - list_dot_product(v, {c}) / "
        f"(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product({c}, {c})))"
    )


# argmin unrolled as nested CASE to mirror the Spark fold exactly (strict <)
def _nearest_centroid_sql() -> str:
    expr_id = "0"
    expr_dist = _centroid_dist_sql(0)
    for i in range(1, NUM_CENTROIDS):
        d = _centroid_dist_sql(i)
        expr_id = f"CASE WHEN ({d}) < ({expr_dist}) THEN {i} ELSE ({expr_id}) END"
        expr_dist = f"CASE WHEN ({d}) < ({expr_dist}) THEN ({d}) ELSE ({expr_dist}) END"
    return expr_id


@_register(
    "ann_ivf_cells",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT cell, COUNT(*) AS n, MIN(vec_id) AS min_vec_id
    FROM (SELECT vec_id, ({_nearest_centroid_sql()}) AS cell FROM e)
    GROUP BY cell
    """,
    "IVF coarse assignment: nearest of {} fixed centroids; at scale the cell "
    "id is the partition/cluster key and queries probe nprobe cells".format(NUM_CENTROIDS),
)
def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    return (
        e.select("vec_id", _nearest_centroid_expr(F.col("v")).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"), F.min("vec_id").alias("min_vec_id"))
    )


@_register(
    "ann_ivf_search",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, ({_nearest_centroid_sql()}) AS cell FROM e),
    q AS (SELECT v AS qv, cell AS qcell FROM b WHERE vec_id = 0),
    cand AS (
      SELECT vec_id,
             1 - list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS dist
      FROM b, q WHERE b.cell = q.qcell
    )
    SELECT vec_id, rnk, floor((dist) * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS distance FROM (
      SELECT vec_id, dist, ROW_NUMBER() OVER (ORDER BY dist, vec_id) AS rnk FROM cand
    ) WHERE rnk <= 5
    """,
    "IVF probe search: exact cosine top-5 inside the query's cell only — at "
    "scale the cell is a partition key, so nprobe=1 touches one partition; "
    "same TakeOrderedAndProject plan shape as exact KNN",
)
def ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    b = e.select("vec_id", "v", _nearest_centroid_expr(F.col("v")).alias("cell"))
    qrow = b.filter(F.col("vec_id") == 0).select("v", "cell").first()
    if qrow is None:  # no query row: oracle's q CTE is empty -> 0 rows
        return spark.createDataFrame([], "vec_id long, rnk int, distance double")
    qv, qcell = qrow["v"], qrow["cell"]
    cand = b.filter(F.col("cell") == qcell).select(
        "vec_id", cosine_distance_lit(F.col("v"), qv).alias("dist")
    )
    topk = cand.orderBy(F.asc("dist"), F.asc("vec_id")).limit(5)
    w = Window.orderBy(F.asc("dist"), F.asc("vec_id"))
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        "vec_id", "rnk", (pround(F.col("dist"), 6) + 0.0).alias("distance")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantization ADC search inside the coarse cell (round 7)
# ---------------------------------------------------------------------------
# The production ANN layout at 100 TB is IVF-PQ (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011): the IVF coarse
# quantizer routes a query to one cell, and within the cell vectors are
# represented by M per-subspace code indices (here 64 dims -> M=8 subspaces
# of 8 dims, K=16 codewords each => 8 bytes per vector instead of 512), so
# the scan cost per candidate is M table lookups into a per-query ADC LUT —
# no full-vector reads. Codebooks are deterministic seeded literals (the
# same discipline as PLANES/CENTROIDS: embeddings are ~N(0,1), for which a
# Gaussian codebook is the right distribution; a k-means refinement is an
# offline concern, not a query-semantics one), inlined into BOTH plans so
# correctness stays hash-checkable with zero stored model state.
#
# Self-consistency invariant the behavioral test pins: ADC distance
# sum_m ||q_m - c_{m,code(v,m)}||^2 is globally minimized at code(v) ==
# code(q), so the query vector itself must surface at rank 1.

PQ_M = 8       # subspaces
PQ_SUB = DIM // PQ_M
PQ_K = 16      # codewords per subspace

_pq_rng = np.random.RandomState(43)
CODEBOOKS: list[list[list[float]]] = [
    [[float(x) for x in _pq_rng.randn(PQ_SUB)] for _ in range(PQ_K)]
    for _ in range(PQ_M)
]
# ||c||^2 per codeword, a compile-time Python constant on both sides
_CC: list[list[float]] = [
    [sum(x * x for x in c) for c in CODEBOOKS[m]] for m in range(PQ_M)
]


def _with_pq_codes(df, vcol: str = "v", codebooks=None, cc=None):
    """Append code_0..code_{M-1} via ONE Arrow-batched numpy argmin — the
    semdedup assign_cell pattern.

    The expression-tree alternatives both fail at M*K=128 dots per row: the
    zip_with/aggregate form is a higher-order function (interpreted lambdas
    outside codegen — measured 13 s at sf0.1), and unrolling to plain
    element_at arithmetic builds a ~40k-node plan that Catalyst re-analyzes
    per invocation (measured 130+ s). The batched matmul runs the same
    argmin at blas rate; its comparison keys can differ from the oracle's
    sequential fold only in final ulps, which flips an argmin only on an
    exact inter-codeword tie — and the driver's hash gate re-checks every
    emitted code against the SQL argmin each round, so any drift would
    surface immediately."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    # codebooks/cc default to the seeded literals; the trained-IVFPQ tier
    # (serving.train_pq_codebooks) passes its Lloyd-trained codewords with
    # cc computed by the same left-fold as the oracle's list_dot_product
    cb = np.asarray(CODEBOOKS if codebooks is None else codebooks)  # (M, K, SUB)
    cc = np.asarray(_CC if cc is None else cc)  # (M, K)

    # no type hints: SERIES -> SERIES is the default scalar pandas_udf path
    @pandas_udf("array<int>")
    def encode(vs):
        vm = np.vstack(vs.to_numpy())  # n x DIM
        out = np.empty((len(vs), PQ_M), dtype=np.int32)
        for m in range(PQ_M):
            sub = vm[:, m * PQ_SUB : (m + 1) * PQ_SUB]
            keys = -2.0 * (sub @ cb[m].T) + cc[m][None, :]
            out[:, m] = np.argmin(keys, axis=1)  # ties -> lower j, like both argmin SQLs
        return pd.Series(list(out))

    coded = df.withColumn("_codes", encode(F.col(vcol)))
    return coded.select(
        *df.columns,
        *[F.element_at("_codes", m + 1).alias(f"code_{m}") for m in range(PQ_M)],
    )


def _pq_code_sql(m: int) -> str:
    vm = f"v[{m * PQ_SUB + 1}:{(m + 1) * PQ_SUB}]"
    dists = ", ".join(
        f"-2 * list_dot_product({vm}, {_sql_vec(CODEBOOKS[m][j])}) + {_CC[m][j]!r}"
        for j in range(PQ_K)
    )
    return f"(list_position([{dists}], list_min([{dists}])) - 1)"


@_register(
    "ann_pq_codes",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id, {", ".join(f"({_pq_code_sql(m)}) AS code_{m}" for m in range(PQ_M))}
    FROM e
    """,
    "PQ encoding: per-vector codes over {m} subspaces x {k} codewords "
    "(8 bytes/vector) — the compressed representation an IVF-PQ index "
    "stores; map-only, every code hash-checked".format(m=PQ_M, k=PQ_K),
)
def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    return _with_pq_codes(e).drop("v")


def _py_dot(a: list[float], b: list[float]) -> float:
    """Left fold seeded 0.0 — list_dot_product / dot() accumulation order."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _pq_lut_sql(m: int) -> str:
    """ADC LUT entries for subspace m against the vec_id=0 query: full
    ||q_m - c_j||^2 (the query-side constant ||q_m||^2 is kept so the ADC
    value is the true reconstruction distance, not just a ranking key)."""
    qm = f"qv[{m * PQ_SUB + 1}:{(m + 1) * PQ_SUB}]"
    return ", ".join(
        f"(list_dot_product({qm}, {qm})"
        f" - 2 * list_dot_product({qm}, {_sql_vec(CODEBOOKS[m][j])}))"
        f" + {_CC[m][j]!r}"
        for j in range(PQ_K)
    )


@_register(
    "ann_ivf_pq_search",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, ({_nearest_centroid_sql()}) AS cell FROM e),
    q AS (SELECT v AS qv, cell AS qcell FROM b WHERE vec_id = 0),
    cand AS (
      SELECT vec_id,
             {" + ".join(f"([{_pq_lut_sql(m)}])[({_pq_code_sql(m)}) + 1]" for m in range(PQ_M))}
               AS adc
      FROM b, q WHERE b.cell = q.qcell
    )
    SELECT vec_id, rnk, floor((adc) * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS adc_dist FROM (
      SELECT vec_id, adc, ROW_NUMBER() OVER (ORDER BY adc, vec_id) AS rnk FROM cand
    ) WHERE rnk <= 10
    """,
    "IVF-PQ ADC search: IVF coarse quantizer routes the query to one cell, "
    "candidates inside it are scored by M={m} literal-LUT lookups on their "
    "PQ codes (asymmetric distance, Jegou et al. 2011) instead of full "
    "{d}-dim scans — the plan a 100 TB vector index runs; encode is one "
    "Arrow-batched argmin, scoring/top-k stay JVM-side, hash-checked end "
    "to end".format(m=PQ_M, d=DIM),
)
def ann_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    b = e.select("vec_id", "v", _nearest_centroid_expr(F.col("v")).alias("cell"))
    qrow = b.filter(F.col("vec_id") == 0).select("v", "cell").first()
    if qrow is None:  # no query row: oracle's q CTE is empty -> 0 rows
        return spark.createDataFrame([], "vec_id long, rnk int, adc_dist double")
    qv, qcell = qrow["v"], qrow["cell"]
    # per-subspace ADC LUT computed DRIVER-side from the collected query —
    # 128 Python doubles embedded as literal arrays. Each entry replays the
    # oracle's arithmetic in the same order ((q.q - 2*(q.c)) + c.c, dots as
    # 0.0-seeded left folds), so the values are bit-identical to the SQL
    # side while the per-row plan is just a literal-array lookup per code.
    luts: list[list[float]] = []
    for m in range(PQ_M):
        qm = [float(x) for x in qv[m * PQ_SUB : (m + 1) * PQ_SUB]]
        qq = _py_dot(qm, qm)
        luts.append(
            [
                (qq - 2.0 * _py_dot(qm, CODEBOOKS[m][j])) + _CC[m][j]
                for j in range(PQ_K)
            ]
        )
    cand = _with_pq_codes(b.filter(F.col("cell") == qcell))
    adc = None
    for m in range(PQ_M):
        term = F.element_at(lit_vector(luts[m]), F.col(f"code_{m}") + 1)
        adc = term if adc is None else adc + term
    scored = cand.select("vec_id", adc.alias("adc"))
    topk = scored.orderBy(F.asc("adc"), F.asc("vec_id")).limit(10)
    w = Window.orderBy(F.asc("adc"), F.asc("vec_id"))
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        "vec_id", "rnk", (pround(F.col("adc"), 6) + 0.0).alias("adc_dist")
    )


# ---------------------------------------------------------------------------
# Truncated-prefix search + exact rerank (Matryoshka-style, round 8)
# ---------------------------------------------------------------------------
# Kusupati et al. 2022 (Matryoshka Representation Learning) made prefix-
# truncated embeddings the standard cheap first pass: score every vector on
# its first PREFIX_DIM components (4x fewer FLOPs here; at 100 TB the
# prefix lives in its OWN column so Catalyst column pruning makes the
# coarse scan read 1/4 of the embedding bytes), keep a candidate pool, then
# rerank only the pool with full-dimension exact cosine. Both stages are
# TakeOrderedAndProject top-k — no full sort anywhere — and the pool join
# carries the full vectors of RERANK_POOL rows only. The candidate cut is
# engine-exact: both engines fold the same literal query prefix
# left-to-right over the same doubles (the established ann_* discipline).

PREFIX_DIM = 16
RERANK_POOL = 50
RERANK_K = 10


@_register(
    "ann_truncate_rerank",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    coarse AS (
      SELECT vec_id, v, qv,
             1 - list_dot_product(v[1:{PREFIX_DIM}], qv[1:{PREFIX_DIM}])
                 / (sqrt(list_dot_product(v[1:{PREFIX_DIM}], v[1:{PREFIX_DIM}]))
                    * sqrt(list_dot_product(qv[1:{PREFIX_DIM}], qv[1:{PREFIX_DIM}])))
               AS cdist
      FROM e, q
    ),
    pool AS (
      SELECT vec_id, v, qv, cdist,
             CAST(ROW_NUMBER() OVER (ORDER BY cdist, vec_id) AS BIGINT) AS crnk
      FROM coarse
    ),
    rerank AS (
      SELECT vec_id, crnk,
             1 - list_dot_product(v, qv)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
               AS dist
      FROM pool WHERE crnk <= {RERANK_POOL}
    )
    SELECT vec_id, crnk AS coarse_rnk, rnk,
           floor((dist) * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS distance
    FROM (
      SELECT vec_id, crnk, dist,
             ROW_NUMBER() OVER (ORDER BY dist, vec_id) AS rnk
      FROM rerank
    ) WHERE rnk <= {RERANK_K}
    ORDER BY rnk
    """,
    "Matryoshka truncate-then-rerank search (Kusupati et al. 2022): coarse "
    f"cosine over the first {PREFIX_DIM} of {DIM} dims (4x cheaper scan; a "
    "dedicated prefix column makes it literal column pruning at scale), "
    f"top-{RERANK_POOL} candidate pool, exact full-dimension rerank to "
    f"top-{RERANK_K}. Both stages are TakeOrderedAndProject; full vectors "
    "ship only for the pool.",
)
def ann_truncate_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    qrow = e.filter(F.col("vec_id") == 0).select("v").first()
    if qrow is None:  # no query row: oracle's q CTE is empty -> 0 rows
        return spark.createDataFrame(
            [], "vec_id long, coarse_rnk long, rnk int, distance double"
        )
    qv = qrow["v"]
    coarse = e.select(
        "vec_id",
        "v",
        cosine_distance_lit(
            F.slice(F.col("v"), 1, PREFIX_DIM), qv[:PREFIX_DIM]
        ).alias("cdist"),
    )
    pool = coarse.orderBy(F.asc("cdist"), F.asc("vec_id")).limit(RERANK_POOL)
    crnk = F.row_number().over(Window.orderBy(F.asc("cdist"), F.asc("vec_id")))
    rerank = pool.withColumn("crnk", crnk.cast("long")).select(
        "vec_id",
        "crnk",
        cosine_distance_lit(F.col("v"), qv).alias("dist"),
    )
    rnk = F.row_number().over(Window.orderBy(F.asc("dist"), F.asc("vec_id")))
    return (
        rerank.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= RERANK_K)
        .select(
            "vec_id",
            F.col("crnk").alias("coarse_rnk"),
            "rnk",
            (pround(F.col("dist"), 6) + 0.0).alias("distance"),
        )
        .orderBy("rnk")
    )
