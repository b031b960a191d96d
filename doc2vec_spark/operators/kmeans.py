"""K-means training for the IVF coarse quantizer (round 12).

``ann_ivf_cells``/``ann_ivf_search`` (similarity.py) quantize against
FIXED seeded centroids — the right demonstration of the search plan, but a
production IVF index TRAINS its coarse quantizer (Lloyd's k-means) on the
corpus. This module adds that training loop, deterministic and
hash-checkable across engines:

- **init** = the FPS k-centers (coreset.fps_select / its oracle CTE) — the
  standard good-spread seeding, already engine-exact;
- **KM_ITERS bounded Lloyd iterations** (the fixed-iteration discipline of
  every iterative operator here: TextRank's integer PageRank, BPE's
  NUM_MERGES). Each iteration: assign every vector to its nearest centroid
  on INTEGER micro-unit distances (one MIN(d6 * 100 + cell) per vector —
  the coreset.py trick, no argmin ties possible), then recompute each
  cell's mean IN INTEGER NANO-UNITS: every component is fixed-pointed to
  floor(v * 1e9 + 0.5) BEFORE summing, so the per-cell per-dimension sum
  is an exact integer in BOTH engines regardless of aggregation order —
  the cross-engine float-SUM hazard (partial-agg order, det_avg's reason
  for existing) never arises. The new centroid component is the exact
  floor quotient sum/n — BOTH engines compute floor(s * 1.0 / n), which
  at these magnitudes IS the exact floor (a nonzero remainder shifts the
  true quotient by >= 1/n ~ 5e-4 while the division ulp is ~1e-6). The
  SQL side needs the explicit floor(): DuckDB's BIGINT // truncates
  toward zero on negatives where floor must go to -inf (a one-nano-unit
  centroid skew the parity gate caught);
- empty cells keep their previous centroid (deterministic fallback,
  mirrored in both engines).

Outputs are ALL-INTEGER (cell, dim, fp) centroid rows and (vec_id, cell,
d6) assignments — nothing float crosses the hash gate.

100 TB story: TRAINING runs on a bounded deterministic sample (the
KM_SAMPLE_N-row md5-ordered head — one TakeOrderedAndProject), so the
whole training loop is FLAT in corpus size; only the final assignment
pass scans the corpus, map-only against k broadcast literal centroids.
This is how production IVF quantizers are built (train on sample,
assign everything), and it is also what the 10x rehearsal demanded: the
first cut trained on the full corpus and measured 9.4x at 10x / 17.8 s
at sf0.1 — the scaling harness's fourth catch. Within the loop, the row
norm is materialized ONCE per row and center norms are Python-
precomputed literals (bit-identical to the folds they replace — the
redundant per-center norm folds dominated the first cut's wall time).
The collected state per iteration is k * dim longs (512 here) — the
waterfill/PQ-LUT bounded-driver-state discipline.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark import train_cache
from doc2vec_spark.operators.coreset import (
    _E_CTE,
    _d6_int,
    _fps_recursion,
    dataset_fingerprint,
    embeddings_with_norms,
    fps_select,
)
from doc2vec_spark.spec import registrar

QUERIES, _register = registrar()


KM_K = 8  # cells — matches CORESET_K so the FPS oracle CTE is reused as-is
KM_ITERS = 2  # bounded Lloyd iterations (fixed-iteration discipline)
KM_SAMPLE_N = 512  # bounded training sample (md5-ordered head, both engines)
_FP = 1_000_000_000.0  # nano-unit fixed point for centroid components

# the bounded training sample, mirrored from _sample_e: md5-ordered head
_SAMPLE_CTE = (
    "es AS (SELECT vec_id, v FROM e "
    "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id "
    f"LIMIT {KM_SAMPLE_N})"
)


def _fp_int(v: float) -> int:
    """floor(v * 1e9 + 0.5) — the same IEEE double ops the oracle's SQL
    floor(v * 1000000000.0 + 0.5) performs, so literals agree bitwise."""
    return int(math.floor(v * _FP + 0.5))


def _sample_e(
    spark: SparkSession, sf_dir: str, e: DataFrame | None = None
) -> DataFrame:
    """The bounded training sample: the KM_SAMPLE_N-row head of the table
    ordered by (md5(vec_id), vec_id) — deterministic, engine-mirrorable
    (one TakeOrderedAndProject), and FLAT in corpus size, so training cost
    never grows with the corpus (at sf <= 0.01 the sample IS the whole
    table). Train-on-sample + assign-full-corpus is how production IVF
    quantizers are built; the 10x rehearsal that motivated it measured the
    full-corpus loop at 9.4x. ``e`` overrides the source frame (the
    serving tier trains over chunk embeddings) — it must carry
    (vec_id, v, nv)."""
    src = embeddings_with_norms(spark, sf_dir) if e is None else e
    return src.orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    ).limit(KM_SAMPLE_N)


def train_kmeans(
    spark: SparkSession, sf_dir: str, frame: DataFrame | None = None
) -> dict[int, list[int]]:
    """{cell: [fp components]} after KM_ITERS Lloyd iterations from the FPS
    init, trained on the bounded sample. Driver state per iteration is
    k*dim longs; each iteration costs one sample-sized assignment scan +
    one integer-sum shuffle. A production IVF build trains the quantizer
    ONCE and five registry queries model its downstream passes, so the
    result is cached (train_cache, both tiers) per (sf_dir, dataset
    fingerprint, K, iters). ``frame`` overrides the source (the serving
    tier trains over an arbitrary (vec_id, v, nv) frame) and, like an
    empty fingerprint, bypasses the cache; a serving deployment persists
    the returned centroid table instead (index_store.py)."""
    fp = dataset_fingerprint(sf_dir) if frame is None else ()
    return train_cache.cached(
        "km",
        (sf_dir, fp, KM_K, KM_ITERS) if fp else None,
        lambda: _lloyd(spark, sf_dir, frame),
        lambda p: train_cache.decode_centroids(p, train_cache.integer_components),
    )


def _lloyd(
    spark: SparkSession, sf_dir: str, frame: DataFrame | None
) -> dict[int, list[int]]:
    e = _sample_e(spark, sf_dir, frame).cache()
    try:
        cents: dict[int, list[int]] = {
            rank - 1: [_fp_int(x) for x in vec]
            for rank, _vid, _d6, vec in fps_select(spark, sf_dir, k=KM_K, e=e)
        }
        if not cents:
            return {}  # empty source: the oracle's CTE chain yields 0 rows
        for _it in range(KM_ITERS):
            o = F.least(
                *[
                    _d6_int(F.col("v"), F.col("nv"), [fp / _FP for fp in cents[c]])
                    * F.lit(100)
                    + F.lit(c)
                    for c in sorted(cents)
                ]
            )
            sums = (
                e.select((o % 100).alias("cell"), F.posexplode("v").alias("dim", "val"))
                .select(
                    "cell",
                    "dim",
                    F.floor(F.col("val") * F.lit(_FP) + F.lit(0.5))
                    .cast("long")
                    .alias("fp"),
                )
                .groupBy("cell", "dim")
                .agg(F.sum("fp").alias("s"), F.count(F.lit(1)).alias("n"))
                # exact floor quotient: remainder >= 1 moves the true quotient
                # by >= 1/n (~5e-4) while the double-divide ulp is ~1e-6, so
                # floor(s/n) == s floor-div n for every sign at these magnitudes
                .select(
                    "cell",
                    "dim",
                    F.floor(F.col("s") / F.col("n")).cast("long").alias("fp"),
                )
                .collect()
            )
            new: dict[int, list[int]] = {}
            for r in sums:
                new.setdefault(r["cell"], [0] * len(cents[0]))[r["dim"]] = r["fp"]
            # empty cells keep their previous centroid
            cents = {c: new.get(c, cents[c]) for c in sorted(cents)}
        return cents
    finally:
        e.unpersist(False)


# ---------------------------------------------------------------------------
# oracle SQL — KM_ITERS Lloyd iterations UNROLLED over the FPS init CTE
# ---------------------------------------------------------------------------

_D6_CELL_SQL = (
    "CAST(floor((1.0 - list_dot_product(a.v, c.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v)))) "
    "* 1000000.0 + 0.5) AS BIGINT)"
)


def _lloyd_ctes() -> str:
    """cents0 (FPS init, nano-unit ints) -> [assign_i -> sums_i -> cents_i]
    x KM_ITERS. Each cents_i carries (cell, dim, fp) plus a rebuilt DOUBLE[]
    view cv_i(cell, v) for the next assignment's list_dot_product — the
    same arithmetic the engine's literal-centroid fold performs."""
    parts = [
        f"""cents0 AS (
  SELECT s.rank - 1 AS cell, d.i - 1 AS dim,
         CAST(floor(e.v[d.i] * 1000000000.0 + 0.5) AS BIGINT) AS fp
  FROM sel s JOIN es e ON e.vec_id = s.vec_id,
       unnest(generate_series(1, len(e.v))) d(i))"""
    ]
    for it in range(KM_ITERS):
        prev, cur = f"cents{it}", f"cents{it + 1}"
        parts.append(
            f"""cv{it} AS (
  SELECT cell, list(fp / 1000000000.0 ORDER BY dim) AS v
  FROM {prev} GROUP BY cell)"""
        )
        parts.append(
            f"""assign{it} AS (
  SELECT a.vec_id, MIN({_D6_CELL_SQL} * 100 + c.cell) % 100 AS cell
  FROM es a CROSS JOIN cv{it} c
  GROUP BY a.vec_id)"""
        )
        parts.append(
            f"""sums{it} AS (
  SELECT g.cell, d.i - 1 AS dim,
         CAST(floor(SUM(CAST(floor(e.v[d.i] * 1000000000.0 + 0.5) AS BIGINT))
                    * 1.0 / COUNT(*)) AS BIGINT) AS fp
  FROM assign{it} g JOIN es e ON e.vec_id = g.vec_id,
       unnest(generate_series(1, len(e.v))) d(i)
  GROUP BY g.cell, d.i)"""
        )
        parts.append(
            f"""{cur} AS (
  SELECT p.cell, p.dim, COALESCE(s.fp, p.fp) AS fp
  FROM {prev} p LEFT JOIN sums{it} s ON s.cell = p.cell AND s.dim = p.dim)"""
        )
    return ",\n".join(parts)


_KM_FINAL = f"cents{KM_ITERS}"


@_register(
    "ann_kmeans_train",
    f"""
    WITH RECURSIVE
    {_E_CTE},
    {_SAMPLE_CTE},
    {_fps_recursion('es')},
    {_lloyd_ctes()}
    SELECT CAST(cell AS BIGINT) AS cell, CAST(dim AS BIGINT) AS dim,
           CAST(fp AS BIGINT) AS fp
    FROM {_KM_FINAL} ORDER BY cell, dim
    """,
    f"IVF coarse-quantizer TRAINING: {KM_ITERS} bounded Lloyd iterations "
    f"over {KM_K} centroids seeded by farthest-point sampling — the "
    "trained counterpart of ann_ivf_cells' fixed seeded centroids. Every "
    "mean update sums integer nano-units (components fixed-pointed BEFORE "
    "aggregation), so the centroid table is bit-identical across engines "
    "regardless of partial-agg order — the float-SUM hazard det_avg "
    "exists for never arises. Per iteration: one map-only assignment scan "
    "against broadcast literal centroids + one (cell, dim)-keyed integer "
    "sum; driver state is k*dim longs. All-integer output.",
)
def ann_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = train_kmeans(spark, sf_dir)
    rows = [
        (cell, dim, fp)
        for cell in sorted(cents)
        for dim, fp in enumerate(cents[cell])
    ]
    # r22 batch 7: VALUES LocalRelation instead of a Python-RDD frame —
    # createDataFrame's applySchemaToPythonRDD spawns Python workers on
    # every action (see functions/localframe.py); values identical.
    if not rows:
        return spark.createDataFrame([], "cell long, dim long, fp long")
    from doc2vec_spark.functions.localframe import local_frame

    return local_frame(spark, rows, "cell long, dim long, fp long").orderBy(
        "cell", "dim"
    )


@_register(
    "ann_kmeans_assign",
    f"""
    WITH RECURSIVE
    {_E_CTE},
    {_SAMPLE_CTE},
    {_fps_recursion('es')},
    {_lloyd_ctes()},
    cvf AS (
      SELECT cell, list(fp / 1000000000.0 ORDER BY dim) AS v
      FROM {_KM_FINAL} GROUP BY cell),
    fin AS (
      SELECT a.vec_id, MIN({_D6_CELL_SQL} * 100 + c.cell) AS o
      FROM e a CROSS JOIN cvf c
      GROUP BY a.vec_id)
    SELECT vec_id, CAST(o % 100 AS BIGINT) AS cell,
           CAST(o // 100 AS BIGINT) AS dist_d6
    FROM fin ORDER BY vec_id
    """,
    "Final IVF cell assignment under the TRAINED centroids: every vector "
    "to its nearest trained centroid with the integer micro-unit distance "
    "(one MIN(d6 * 100 + cell) per vector — quotient/remainder recover "
    "distance and cell, argmin ties impossible). One map-only scan "
    "against the k trained literal centroids — the pass that materializes "
    "a real IVF index's posting lists at corpus scale.",
)
def ann_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = train_kmeans(spark, sf_dir)
    if not cents:  # empty embeddings: oracle emits 0 rows
        return spark.createDataFrame([], "vec_id long, cell long, dist_d6 long")
    e = embeddings_with_norms(spark, sf_dir)
    o = F.least(
        *[
            _d6_int(F.col("v"), F.col("nv"), [fp / _FP for fp in cents[c]])
            * F.lit(100)
            + F.lit(c)
            for c in sorted(cents)
        ]
    )
    return (
        e.select("vec_id", o.alias("o"))
        .select(
            "vec_id",
            (F.col("o") % 100).cast("long").alias("cell"),
            F.expr("o div 100").alias("dist_d6"),
        )
        .orderBy("vec_id")
    )


@_register(
    "ann_kmeans_separation",
    f"""
    WITH RECURSIVE
    {_E_CTE},
    {_SAMPLE_CTE},
    {_fps_recursion('es')},
    {_lloyd_ctes()},
    cvf AS (
      SELECT cell, list(fp / 1000000000.0 ORDER BY dim) AS v
      FROM {_KM_FINAL} GROUP BY cell),
    packed AS (
      SELECT a.vec_id,
             list({_D6_CELL_SQL} * 100 + c.cell
                  ORDER BY {_D6_CELL_SQL} * 100 + c.cell) AS l
      FROM e a CROSS JOIN cvf c
      GROUP BY a.vec_id),
    nn AS (
      SELECT vec_id, l[1] % 100 AS cell,
             l[1] // 100 AS d1, l[2] // 100 AS d2
      FROM packed)
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(d1) AS BIGINT) AS sum_d1,
           CAST(SUM(d2) AS BIGINT) AS sum_d2,
           CAST((10000 * SUM(d1)) // greatest(SUM(d2), 1) AS BIGINT)
             AS separation_bp
    FROM nn GROUP BY cell ORDER BY cell
    """,
    "Clustering-quality monitor under the trained centroids: per cell, "
    "population plus the Davies-Bouldin-style ratio of summed nearest vs "
    "second-nearest centroid distances (bp; lower = tighter/better "
    "separated). The O(n^2) true silhouette is unrunnable at corpus scale; "
    "this is the standard O(n*k) proxy an IVF build monitors. Same "
    "map-only pass as ann_kmeans_assign (k folds per vector, sorted packed "
    "ints make nearest/second-nearest tie-free), one bounded k-row agg.",
)
def ann_kmeans_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = train_kmeans(spark, sf_dir)
    if not cents:  # empty embeddings: oracle emits 0 rows
        return spark.createDataFrame(
            [], "cell long, n long, sum_d1 long, sum_d2 long, separation_bp long"
        )
    e = embeddings_with_norms(spark, sf_dir)
    packed = F.array_sort(
        F.array(
            *[
                _d6_int(F.col("v"), F.col("nv"), [fp / _FP for fp in cents[c]])
                * F.lit(100)
                + F.lit(c)
                for c in sorted(cents)
            ]
        )
    )
    # materialize the sorted packed array ONCE per row, then project — the
    # vocab_encode.py plan-linearity rule: three references to `packed` in
    # one select would re-inline all k folds three times
    nn = e.select(packed.alias("p")).select(
        (F.element_at(F.col("p"), 1) % 100).alias("cell"),
        F.expr("element_at(p, 1) div 100").alias("d1"),
        F.expr("element_at(p, 2) div 100").alias("d2"),
    )
    return (
        nn.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("d1").alias("sum_d1"),
            F.sum("d2").alias("sum_d2"),
        )
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n",
            "sum_d1",
            "sum_d2",
            F.expr("(10000 * sum_d1) div greatest(sum_d2, 1L)")
            .cast("long")
            .alias("separation_bp"),
        )
        .orderBy("cell")
    )


@_register(
    "ann_ivf_search_trained",
    f"""
    WITH RECURSIVE
    {_E_CTE},
    {_SAMPLE_CTE},
    {_fps_recursion('es')},
    {_lloyd_ctes()},
    cvf AS (
      SELECT cell, list(fp / 1000000000.0 ORDER BY dim) AS v
      FROM {_KM_FINAL} GROUP BY cell),
    asg AS (
      SELECT a.vec_id, MIN({_D6_CELL_SQL} * 100 + c.cell) % 100 AS cell
      FROM e a CROSS JOIN cvf c
      GROUP BY a.vec_id),
    b AS (SELECT e.vec_id, e.v, asg.cell FROM e JOIN asg USING (vec_id)),
    q AS (SELECT v AS qv, cell AS qcell FROM b WHERE vec_id = 0),
    cand AS (
      SELECT vec_id,
             1 - list_dot_product(v, qv)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
               AS dist
      FROM b, q WHERE b.cell = q.qcell)
    SELECT vec_id, rnk, floor(dist * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS distance
    FROM (SELECT vec_id, dist,
                 ROW_NUMBER() OVER (ORDER BY dist, vec_id) AS rnk
          FROM cand)
    WHERE rnk <= 5
    """,
    "The composed production ANN path: TRAIN the coarse quantizer (bounded-"
    "sample Lloyd from the FPS init), assign the corpus, probe-search the "
    "query's cell — ann_ivf_search's plan shape with ann_kmeans_train's "
    "centroids instead of seeded literals. At scale the trained cell is "
    "the partition key and nprobe=1 touches one partition; training stays "
    "flat in corpus size (the sample), so the whole composition adds one "
    "map-only assignment pass over the seeded variant.",
)
def ann_ivf_search_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    _cents_probe = train_kmeans(spark, sf_dir)
    if not _cents_probe:  # empty embeddings: oracle emits 0 rows
        return spark.createDataFrame([], "vec_id long, rnk int, distance double")
    from pyspark.sql import Window

    from doc2vec_spark.functions.rounding import pround
    from doc2vec_spark.functions.vectors import cosine_distance_lit

    cents = train_kmeans(spark, sf_dir)
    e = embeddings_with_norms(spark, sf_dir)
    o = F.least(
        *[
            _d6_int(F.col("v"), F.col("nv"), [fp / _FP for fp in cents[c]])
            * F.lit(100)
            + F.lit(c)
            for c in sorted(cents)
        ]
    )
    b = e.select("vec_id", "v", (o % 100).alias("cell"))
    # the query is ONE bounded row (the t1/ann_ivf_search probe convention)
    qrow = b.filter(F.col("vec_id") == 0).select("v", "cell").first()
    if qrow is None:  # vec_id 0 absent: oracle's q CTE is empty -> 0 rows
        return spark.createDataFrame([], "vec_id long, rnk int, distance double")
    qv, qcell = list(qrow["v"]), int(qrow["cell"])
    cand = b.filter(F.col("cell") == qcell).select(
        "vec_id", cosine_distance_lit(F.col("v"), qv).alias("dist")
    )
    topk = cand.orderBy(F.asc("dist"), F.asc("vec_id")).limit(5)
    w = Window.orderBy(F.asc("dist"), F.asc("vec_id"))
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        "vec_id", "rnk", (pround(F.col("dist"), 6) + 0.0).alias("distance")
    )


PRUNE_DECILE = 10  # flag the farthest ~1/10 within each cell


@_register(
    "pipe_prototype_prune",
    f"""
    WITH RECURSIVE
    {_E_CTE},
    {_SAMPLE_CTE},
    {_fps_recursion('es')},
    {_lloyd_ctes()},
    cvf AS (
      SELECT cell, list(fp / 1000000000.0 ORDER BY dim) AS v
      FROM {_KM_FINAL} GROUP BY cell),
    fin AS (
      SELECT a.vec_id, MIN({_D6_CELL_SQL} * 100 + c.cell) AS o
      FROM e a CROSS JOIN cvf c
      GROUP BY a.vec_id),
    asg AS (SELECT vec_id, CAST(o % 100 AS BIGINT) AS cell,
                   CAST(o // 100 AS BIGINT) AS dist_d6 FROM fin),
    ranked AS (
      SELECT vec_id, cell, dist_d6,
             ROW_NUMBER() OVER (PARTITION BY cell
                                ORDER BY dist_d6 DESC, vec_id) AS r,
             COUNT(*) OVER (PARTITION BY cell) AS n_cell
      FROM asg)
    SELECT vec_id, cell, dist_d6,
           CAST(CASE WHEN r * {PRUNE_DECILE} <= n_cell THEN 1 ELSE 0 END
                AS BIGINT) AS prune
    FROM ranked
    """,
    "Prototype-distance pruning (Sorscher et al. 2022, 'Beyond neural "
    "scaling laws': prune by distance to the cluster prototype): within "
    "each TRAINED k-means cell, flag the farthest ~1/10 of vectors "
    "(rank * 10 <= cell population — integer-exact decile, no percentile "
    "float). One cell-PARTITIONED window over the map-only assignment "
    "pass; at corpus scale every cell ranks in parallel and the flag is "
    "the data-pruning candidate list.",
)
def pipe_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cents = train_kmeans(spark, sf_dir)
    if not cents:  # empty embeddings: oracle emits 0 rows
        return spark.createDataFrame(
            [], "vec_id long, cell long, dist_d6 long, prune long"
        )
    e = embeddings_with_norms(spark, sf_dir)
    o = F.least(
        *[
            _d6_int(F.col("v"), F.col("nv"), [fp / _FP for fp in cents[c]])
            * F.lit(100)
            + F.lit(c)
            for c in sorted(cents)
        ]
    )
    asg = e.select("vec_id", o.alias("o")).select(
        "vec_id",
        (F.col("o") % 100).cast("long").alias("cell"),
        F.expr("o div 100").alias("dist_d6"),
    )
    w = Window.partitionBy("cell").orderBy(F.col("dist_d6").desc(), F.col("vec_id"))
    wc = Window.partitionBy("cell")
    return (
        asg.withColumn("r", F.row_number().over(w))
        .withColumn("n_cell", F.count(F.lit(1)).over(wc))
        .select(
            "vec_id",
            "cell",
            "dist_d6",
            (F.col("r") * PRUNE_DECILE <= F.col("n_cell")).cast("long").alias("prune"),
        )
    )
