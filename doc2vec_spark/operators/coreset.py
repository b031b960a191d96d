"""Coreset selection: farthest-point-sampling k-centers + coverage audit
(round 12).

The training-data plane here can dedup (dedup_*), sample (pipe_stratified_
sample), budget (pipe_data_budget*), and mix (pipe_mixture_sample) — but it
has no REPRESENTATIVENESS selector: "give me k items that cover the
embedding space", the primitive behind coreset-based data selection
(Sener & Savarese, "Active Learning for CNNs: A Core-Set Approach",
ICLR'18) and diversity-seeded curation. This module adds the classic
2-approximation: greedy farthest-point sampling (Gonzalez 1985) — k
rounds, each picking the point farthest (max-min cosine distance) from
the already-selected centers — plus the coverage audit a curator runs
afterwards (per-center population + mean assignment distance).

Determinism / engine-exactness: every comparison that picks a WINNER
(argmax in selection, argmin in assignment) happens on INTEGER
micro-units — d6 = floor(raw_cosine_distance * 1e6 + 0.5) as a long —
with vec_id / center rank folded into the ordering key, so an ulp-level
float disagreement between engines cannot flip a pick unless the raw
value sits exactly on a rounding boundary (the same exposure every
hash-checked embedding query in dedup.py/similarity.py already carries,
measured stable on this data). Assignment goes further: the per-vector
minimum is ONE integer ``MIN(d6 * 100 + rank)`` whose quotient/remainder
recover the distance and the center — no struct aggregates, no arg_min
tie ambiguity.

100 TB story: selection is k driver-paced rounds (k bounded — the
waterfill/PQ-LUT precedent), each ONE map-only corpus scan (each row
computes <= k fused fold dot-products against BROADCAST literal center
vectors) + a TakeOrderedAndProject head — no shuffle at all inside a
round. The coverage audit is one scan + one center-keyed aggregation of
k*|corpus| narrow rows where the k side is a broadcast literal frame. An
incremental-min variant (materialize the running min column, compute
only the newest center's distance each round) trades k-fold recompute
for per-round checkpoint churn — at bounded k the stateless recompute
wins; for k in the thousands, route to per-cluster FPS over IVF cells
(ann_ivf_cells) instead, which is the standard blocked relaxation.

The reference has no coreset/selection surface at all — this is
LLM-pipeline capability the Spark engine adds (BASELINE.json north
star), alongside dedup/ANN/budget.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark import train_cache
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


CORESET_K = 8  # bounded center count — the driver-paced LUT discipline


def _py_norm(vals: list[float]) -> float:
    """sqrt of the sequential left-fold sum of squares — the SAME IEEE op
    sequence as functions.vectors.l2_norm's fold, so precomputing a center
    norm driver-side yields the bit-identical double the per-row fold
    produced (the fold re-evaluated a CONSTANT per row; 10x probes showed
    the redundant folds dominating wall time)."""
    acc = 0.0
    for x in vals:
        acc += x * x
    return math.sqrt(acc)


def _d6_int(v_col, nv_col, center_vals: list[float]):
    """floor(cosine_distance * 1e6 + 0.5) as a long: the integer micro-unit
    every winner-pick compares on. ONE sequential left-fold dot product
    per (row, center); the row norm arrives as the materialized ``nv``
    attribute (computed once per row, not once per center) and the center
    norm as a Python-precomputed literal — both bit-identical to the
    inline folds they replace."""
    from doc2vec_spark.functions.vectors import dot, lit_vector

    d = F.lit(1.0) - dot(v_col, lit_vector(center_vals)) / (
        nv_col * F.lit(_py_norm(center_vals))
    )
    return F.floor(d * F.lit(1000000.0) + F.lit(0.5)).cast("long")


def embeddings_with_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v double[], nv): the frame every selection/clustering scan
    reads — the norm fold evaluated exactly once per row."""
    from doc2vec_spark.functions.vectors import as_double_array, l2_norm

    return (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_array(F.col("embedding")).alias("v"))
        .select("vec_id", "v", l2_norm(F.col("v")).alias("nv"))
    )


def dataset_fingerprint(sf_dir: str, table: str = "embeddings") -> tuple:
    """Per-FILE (relpath, mtime_ns, size) fold of the table's parquet —
    the data identity in every train_cache key; () for non-local/unreadable
    paths.

    Recurses like measurement.corpus_parquet_bytes (VERDICT r20 #1, fixed
    r22): for a NESTED directory layout (store.py's partitionBy shape) the
    old one-level fold fingerprinted the bucket=K subdirectory inodes, and
    an in-place rewrite of a part file two levels down does not bump the
    parent dir's mtime — the memo would have served stale FPS centers.
    Dot/underscore entries (_SUCCESS, .crc, _delta_log) are pruned at every
    level; any traversal error makes the whole fingerprint () so unknown
    provenance always re-selects (the ADVICE r12 discipline)."""
    import os

    def _raise(err: OSError):
        # os.walk swallows scandir errors by default — that would return a
        # PARTIAL fingerprint that can collide with a complete one. Route
        # every traversal error to the except: unreadable bypasses the memo.
        raise err

    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            parts = []
            for root, dirs, files in os.walk(path, onerror=_raise):
                dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
                for f in files:
                    if f.startswith((".", "_")):
                        continue
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    parts.append(
                        (os.path.relpath(fp, path), st.st_mtime_ns, st.st_size)
                    )
            return tuple(sorted(parts))
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ()


def fps_select(
    spark: SparkSession,
    sf_dir: str,
    k: int = CORESET_K,
    e: DataFrame | None = None,
) -> list[tuple[int, int, int | None, list[float]]]:
    """Greedy FPS: [(rank, vec_id, radius_d6 | None for the seed, vector)].
    Seed = MIN(vec_id) (deterministic, matches the oracle); each later
    round picks argmax over min-distance-to-selected on (d6 DESC, vec_id
    ASC). One map-only job per round; assumes the source holds >= k rows
    (every driver SF does). ``e`` overrides the source frame (kmeans.py
    passes its bounded training sample) — it must carry (vec_id, v, nv).
    A production coreset build selects once and every consumer reuses the
    k centers, so the default corpus path is cached in memory
    (train_cache) per (sf_dir, fingerprint, k); an ``e`` frame or an empty
    fingerprint bypasses the cache."""
    fp = dataset_fingerprint(sf_dir) if e is None else ()
    return train_cache.cached(
        "fps", (sf_dir, fp, k) if fp else None, lambda: _fps(spark, sf_dir, k, e)
    )


def _fps(
    spark: SparkSession, sf_dir: str, k: int, e: DataFrame | None
) -> list[tuple[int, int, int | None, list[float]]]:
    own = e is None
    if own:
        e = embeddings_with_norms(spark, sf_dir).cache()
    try:
        seeds = e.orderBy("vec_id").limit(1).collect()
        if not seeds:
            return []  # empty source: no centers (callers emit 0 rows)
        seed = seeds[0]
        selected: list[tuple[int, int, int | None, list[float]]] = [
            (1, seed["vec_id"], None, list(seed["v"]))
        ]
        for rank in range(2, k + 1):
            ds = [
                _d6_int(F.col("v"), F.col("nv"), vec) for _, _, _, vec in selected
            ]
            mind = ds[0] if len(ds) == 1 else F.least(*ds)
            picked = (
                e.filter(~F.col("vec_id").isin([vid for _, vid, _, _ in selected]))
                .select("vec_id", "v", mind.alias("d6"))
                .orderBy(F.desc("d6"), F.asc("vec_id"))
                .limit(1)
                .collect()
            )
            if not picked:
                # candidate pool exhausted (source < k rows — only possible
                # for caller-supplied frames, e.g. a tiny serving corpus
                # forced onto the IVF tier): every row IS a center
                break
            pick = picked[0]
            selected.append((rank, pick["vec_id"], pick["d6"], list(pick["v"])))
        return selected
    finally:
        if own:
            e.unpersist(False)


# ---------------------------------------------------------------------------
# oracle SQL — the FPS recursion both registered queries build on
# ---------------------------------------------------------------------------
# st(r, ids, radii): selected vec_ids in rank order + the d6 radius each
# arrived with (NULL for the seed). The per-round pick is a correlated
# scalar struct subquery: min-distance-to-selected per candidate (integer
# d6), head by (d6 DESC, vec_id ASC) — the exact engine rule.

_D6_SQL = (
    "CAST(floor((1.0 - list_dot_product(a.v, b.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) "
    "* 1000000.0 + 0.5) AS BIGINT)"
)

_E_CTE = "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"


def _fps_recursion(src: str = "e") -> str:
    """The st/sel recursion over a named source CTE — ``src`` lets
    kmeans.py run the identical FPS seeding over its bounded training
    sample instead of the full table."""
    return f"""st(r, ids, radii) AS (
  SELECT 1, [(SELECT MIN(vec_id) FROM {src})], [CAST(NULL AS BIGINT)]
  UNION ALL
  SELECT r + 1,
         list_append(ids, pick.vec_id),
         list_append(radii, pick.d6)
  FROM (
    SELECT s0.r, s0.ids, s0.radii,
           (SELECT {{'vec_id': x.vec_id, 'd6': x.d6}} FROM (
              SELECT a.vec_id, MIN({_D6_SQL}) AS d6
              FROM {src} a JOIN {src} b ON list_contains(s0.ids, b.vec_id)
              WHERE NOT list_contains(s0.ids, a.vec_id)
              GROUP BY a.vec_id) x
            ORDER BY x.d6 DESC, x.vec_id LIMIT 1) AS pick
    FROM st s0 WHERE s0.r < {CORESET_K})),
sel AS (
  SELECT CAST(i AS BIGINT) AS rank, ids[i] AS vec_id, radii[i] AS radius_d6
  FROM (SELECT ids, radii FROM st WHERE r = {CORESET_K}),
       unnest(generate_series(1, len(ids))) t(i))"""


_FPS_CTES = f"{_E_CTE},\n{_fps_recursion('e')}\n"


@_register(
    "pipe_coreset_fps",
    f"""
    WITH RECURSIVE
    {_FPS_CTES}
    SELECT rank, vec_id,
           radius_d6 * 1.0 / 1000000.0 AS radius
    FROM sel
    WHERE vec_id IS NOT NULL  -- empty corpus: the recursion still counts
                              -- ranks 1..k with NULL aggregates; phantom
                              -- centers of an empty corpus are not rows
    ORDER BY rank
    """,
    f"Coreset selection: greedy farthest-point sampling of {CORESET_K} "
    "k-centers over the embedding table (Gonzalez 1985; the 2-approx "
    "k-center primitive of coreset data selection, Sener & Savarese "
    "ICLR'18). Seed = MIN(vec_id); each round picks the max-min-cosine-"
    "distance point on integer micro-units with vec_id tiebreak — one "
    "map-only scan + TakeOrderedAndProject per round, centers broadcast "
    "as literal vectors, no shuffle inside a round. radius = the coverage "
    "radius the selection had when that center was added (monotone "
    "non-increasing; NULL for the seed).",
)
def pipe_coreset_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        (rank, vid, (d6 / 1000000.0) if d6 is not None else None)
        for rank, vid, d6, _vec in fps_select(spark, sf_dir)
    ]
    # r22 batch 7: VALUES LocalRelation (bit-exact repr-double cells)
    # instead of a Python-RDD frame; see functions/localframe.py.
    if not rows:
        return spark.createDataFrame([], "rank long, vec_id long, radius double")
    from doc2vec_spark.functions.localframe import local_frame

    return local_frame(
        spark, rows, "rank long, vec_id long, radius double"
    ).orderBy("rank")


@_register(
    "pipe_coreset_coverage",
    f"""
    WITH RECURSIVE
    {_FPS_CTES},
    centers AS (
      SELECT s.rank, s.vec_id, e.v FROM sel s JOIN e ON e.vec_id = s.vec_id),
    ord AS (
      SELECT a.vec_id, MIN({_D6_SQL.replace('b.v', 'c.v')} * 100 + c.rank) AS o
      FROM e a CROSS JOIN centers c
      GROUP BY a.vec_id)
    SELECT c.rank AS center_rank, c.vec_id AS center_vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           CAST(SUM(o // 100) // COUNT(*) AS BIGINT) AS mean_dist_ppm
    FROM ord JOIN centers c ON c.rank = ord.o % 100
    GROUP BY c.rank, c.vec_id
    ORDER BY center_rank
    """,
    "Coverage audit of the FPS coreset: every vector assigned to its "
    "nearest center and each center reported with its population and "
    "integer-ppm mean assignment distance. The per-vector winner is ONE "
    "integer MIN(d6 * 100 + rank) — quotient recovers the distance, "
    "remainder the center, so argmin ties are impossible by construction. "
    "One map-only scan against the broadcast literal center frame + one "
    "center-keyed aggregation; the audit a curator runs to see whether k "
    "centers actually span the corpus before trusting the selection.",
)
def pipe_coreset_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    selected = fps_select(spark, sf_dir)
    if not selected:  # empty embeddings: oracle emits 0 rows
        return spark.createDataFrame(
            [],
            "center_rank long, center_vec_id long, n_assigned long, "
            "mean_dist_ppm long",
        )
    e = embeddings_with_norms(spark, sf_dir)
    # o = d6*100 + rank per (vector, center), minimized per vector
    o = F.least(
        *[
            _d6_int(F.col("v"), F.col("nv"), vec) * F.lit(100) + F.lit(rank)
            for rank, _vid, _d6, vec in selected
        ]
    )
    per_vec = e.select(F.col("vec_id"), o.alias("o"))
    rank_to_vid = {rank: vid for rank, vid, _d6, _vec in selected}
    center_vid = F.create_map(
        *[F.lit(x) for kv in rank_to_vid.items() for x in kv]
    )
    return (
        per_vec.select(
            (F.col("o") % 100).alias("center_rank"),
            # integer quotient (o and 100 are longs, so `div` stays exact —
            # a double division + floor can cross an integer boundary by
            # an ulp when the quotient is near-integral)
            F.expr("o div 100").alias("d6"),
        )
        .groupBy("center_rank")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.sum("d6").alias("_s"),
        )
        .select(
            F.col("center_rank").cast("long").alias("center_rank"),
            center_vid[F.col("center_rank")].cast("long").alias("center_vec_id"),
            "n_assigned",
            F.expr("_s div n_assigned").cast("long").alias("mean_dist_ppm"),
        )
        .orderBy("center_rank")
    )
