"""MMR diversified rerank (round 9): Carbonell & Goldstein 1998.

Maximal Marginal Relevance closes the one classic retrieval gap the search
family (BM25 ``doc_bm25_topk``, RRF ``doc_hybrid_search_rrf``, Matryoshka
``ann_truncate_rerank``) still had: the top-k by pure relevance collapses
onto near-duplicates, while MMR greedily selects

    argmax_d  LAMBDA * rel(d)  -  (1 - LAMBDA) * max_{s in S} sim(d, s)

so each pick trades relevance against similarity to what is already chosen.
The reference has no diversified rerank at all (its search surface is a
plain vector MATCH top-k, mcp/src/server.ts:448-476) — this is an engine
capability add, like the rest of the ann_* family.

Engine-exactness: relevance and pairwise similarities are the established
left-fold cosine (``functions/vectors.py`` — bit-identical to DuckDB's
``list_dot_product`` chain, the ann_* discipline); the greedy combination
``0.7*rel - 0.3*maxsim`` is two IEEE multiplies and a subtract with literal
weights, so both engines walk identical doubles and the selection ORDER is
deterministic (score DESC, vec_id ASC). The oracle replays the greedy as a
recursive CTE whose working set is the single latest pick.

100 TB story: the ONLY corpus-sized stage is the relevance scan + top-POOL
cut, which compiles to TakeOrderedAndProject (no full sort, no shuffle of
vectors beyond the per-partition top-POOL rows). The greedy runs on the
collected POOL-row head — bounded by construction (50 rows x 64 doubles,
the pipe_data_budget / KMV bounded-summary precedent) — exactly where real
rerankers run (on the head, never the corpus). Pairwise similarity is
O(POOL^2) scalar folds driver-side; POOL is a constant, independent of
corpus size.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.functions.vectors import as_double_array, dot, l2_norm, lit_vector
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


MMR_POOL = 50  # candidate head reranked (the ann_truncate_rerank pool size)
MMR_K = 10  # picks returned
# literal weights in BOTH engines: never derive 0.3 as 1 - 0.7 in Python
# (that is 0.30000000000000004 and would diverge from the SQL literal)
LAMBDA = 0.7
ONE_MINUS_LAMBDA = 0.3


def _fold_dot(a: list[float], b: list[float]) -> float:
    """Left-fold dot product — the same accumulation order as the JVM
    ``F.aggregate`` fold and DuckDB's list_dot_product chain, so the doubles
    are bit-identical across all three engines."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _cos_sim(a: list[float], b: list[float]) -> float:
    return _fold_dot(a, b) / (math.sqrt(_fold_dot(a, a)) * math.sqrt(_fold_dot(b, b)))


def _p6(x: float) -> float:
    """pround(x, 6) in pure Python: floor(x*1e6 + 0.5)/1e6, -0.0 -> 0.0."""
    return math.floor(x * 1000000.0 + 0.5) / 1000000.0 + 0.0


def mmr_select(
    cands: list[tuple[int, float, list[float]]],
    k: int = MMR_K,
) -> list[tuple[int, int, float, float]]:
    """Greedy MMR over a bounded candidate head: (vec_id, rel, vector) rows
    -> (step, vec_id, rel, mmr_score) picks. Pure driver-side integer/IEEE
    arithmetic over POOL rows; ties break on vec_id ASC (matching the
    oracle's ORDER BY score DESC, vec_id)."""
    remaining = {vid: (rel, v) for vid, rel, v in cands}
    picked: list[tuple[int, list[float]]] = []
    out: list[tuple[int, int, float, float]] = []
    while remaining and len(out) < k:
        best = None
        for vid in sorted(remaining):
            rel, v = remaining[vid]
            if picked:
                maxsim = max(_cos_sim(v, pv) for _, pv in picked)
                score = LAMBDA * rel - ONE_MINUS_LAMBDA * maxsim
            else:
                score = LAMBDA * rel
            if best is None or score > best[0]:
                best = (score, vid, rel, v)
        score, vid, rel, v = best
        picked.append((vid, v))
        del remaining[vid]
        out.append((len(out) + 1, vid, rel, score))
    return out


@_register(
    "ann_mmr_rerank",
    f"""
    WITH RECURSIVE
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    rel AS (
      SELECT vec_id, v,
             list_dot_product(v, qv)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
               AS rel
      FROM e, q WHERE vec_id <> 0),
    pool AS (
      SELECT vec_id, v, rel FROM (
        SELECT vec_id, v, rel,
               ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id) AS rnk
        FROM rel)
      WHERE rnk <= {MMR_POOL}),
    sims AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))) AS sim
      FROM pool a, pool b WHERE a.vec_id <> b.vec_id),
    sel(step, vec_id, rel, score, picked) AS (
      SELECT step, vec_id, rel, score, picked FROM (
        SELECT 1 AS step, vec_id, rel, {LAMBDA} * rel AS score,
               [vec_id] AS picked
        FROM pool ORDER BY score DESC, vec_id LIMIT 1)
      UNION ALL
      SELECT step, vec_id, rel, score, picked FROM (
        SELECT s.step + 1 AS step, p.vec_id, p.rel,
               {LAMBDA} * p.rel - {ONE_MINUS_LAMBDA} * (
                 SELECT MAX(sim) FROM sims
                 WHERE sims.a = p.vec_id AND list_contains(s.picked, sims.b))
                 AS score,
               list_append(s.picked, p.vec_id) AS picked
        FROM sel s, pool p
        WHERE s.step < {MMR_K} AND NOT list_contains(s.picked, p.vec_id)
        ORDER BY score DESC, p.vec_id LIMIT 1))
    SELECT CAST(step AS BIGINT) AS step,
           CAST(vec_id AS BIGINT) AS vec_id,
           floor(rel * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS relevance,
           floor(score * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS mmr_score
    FROM sel ORDER BY step
    """,
    "Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998): exact-"
    f"cosine top-{MMR_POOL} head (TakeOrderedAndProject — the only corpus-"
    f"sized stage), then {MMR_K} greedy picks trading relevance against max "
    "similarity to the already-selected set (lambda=0.7, literal weights "
    "both engines). The oracle replays the greedy as a recursive CTE; the "
    "reference's search surface has no diversification at all "
    "(mcp/src/server.ts:448-476).",
)
def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    qrow = e.filter(F.col("vec_id") == 0).select("v").first()
    if qrow is None:  # no query row: oracle's pool CTE is empty -> 0 picks
        return spark.createDataFrame(
            [], "step long, vec_id long, relevance double, mmr_score double"
        )
    qv = qrow["v"]
    litq = lit_vector(qv)
    # r21: the query norm is a Python constant — the same 0.0-seeded left
    # fold + IEEE-exact sqrt the l2_norm fold computes, so the division is
    # arithmetically identical while the per-row plan loses one interpreted
    # HOF fold (the _q_structs factoring, evalmetrics.py)
    import math

    from doc2vec_spark.operators.similarity import _py_dot

    qn = math.sqrt(_py_dot([float(x) for x in qv], [float(x) for x in qv]))
    rel = e.filter(F.col("vec_id") != 0).select(
        "vec_id", "v", (dot(F.col("v"), litq) / (l2_norm(F.col("v")) * F.lit(qn))).alias("rel")
    )
    # TakeOrderedAndProject: per-partition top-POOL, merged on the driver —
    # the bounded head the greedy runs on (and the only corpus-sized work)
    pool = rel.orderBy(F.desc("rel"), F.asc("vec_id")).limit(MMR_POOL).collect()
    picks = mmr_select([(int(r["vec_id"]), r["rel"], list(r["v"])) for r in pool])
    rows = [(step, vid, _p6(r), _p6(s)) for step, vid, r, s in picks]
    return spark.createDataFrame(
        rows, "step long, vec_id long, relevance double, mmr_score double"
    ).orderBy("step")
