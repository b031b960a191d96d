"""Graded ranking-quality eval (round 13): nDCG@k and MRR of the ANN tier.

``ann_recall_at_k`` (evalmetrics.py) answers "how many of the true top-k
does the index return" — a SET metric, blind to ORDER. Production
retrieval evals (MTEB, BEIR, every search team's dashboard) grade the
returned order too: a system that puts the true #1 first beats one that
buries it at position k, at identical recall. This module adds the two
standard order-aware metrics over the same eval harness:

- **nDCG@k** with graded relevance derived from the exact ranking
  (rel = k+1-exact_rank for the true top-k, 0 beyond — the standard
  label-free grading when no human judgments exist),
- **MRR** (reciprocal rank of the first relevant result).

Float-free discipline: DCG's 1/log2(p+1) discounts are a k-entry integer
ppm LUT computed ONCE driver-side and baked as the same literals into the
Spark plan and the oracle SQL (the PQ-ADC / log-ppm NB precedent — floats
never cross the hash gate, and neither engine's log2 is trusted to agree
in the last ulp). IDCG is a Python-constant integer because the ideal
list is rel k, k-1, ... 1 by construction. ndcg_ppm = dcg * 1e6 // idcg
and mrr_ppm = 1e6 // first_rank are exact BIGINT divisions in both
engines.

Scale shape: identical to ann_recall_at_k — the NUM_Q sample queries are
a bounded literal LUT, corpus-sized work is ONE map-side scoring pass
(explode of a NUM_Q-struct array, no join) and the two ROW_NUMBER windows
partitioned by (qid[, in_bucket]); output is NUM_Q rows. An EVAL job on a
sample, not a serving path.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doc2vec_spark.functions.vectors import (
    as_double_array,
    cosine_distance,
    lit_vector,
)
from doc2vec_spark.operators.evalmetrics import NUM_Q, RECALL_K
from doc2vec_spark.operators.similarity import _SRP_BUCKET_SQL, srp_bucket_expr
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


# integer ppm discount LUT: D[p] = round(1e6 / log2(p+1)), positions 1..k.
# Computed once in Python; the SAME literals appear in the Spark plan and
# the oracle text, so engine log2 differences can never reach the hash gate.
_DISCOUNT_PPM: list[int] = [
    int(math.floor(1_000_000.0 / math.log2(p + 1) + 0.5))
    for p in range(1, RECALL_K + 1)
]
# ideal DCG: rel k, k-1, ..., 1 at positions 1..k (exact integer)
_IDCG: int = sum(
    (RECALL_K - p + 1) * _DISCOUNT_PPM[p - 1] for p in range(1, RECALL_K + 1)
)

_DISCOUNT_SQL = "[" + ", ".join(str(d) for d in _DISCOUNT_PPM) + "]"


@_register(
    "ann_ndcg_at_k",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_SRP_BUCKET_SQL} AS bucket FROM e),
    q AS (SELECT vec_id AS qid, v AS qv, bucket AS qbucket
          FROM b WHERE vec_id < {NUM_Q}),
    scored AS (
      SELECT q.qid, b.vec_id, b.bucket = q.qbucket AS in_bucket,
             1 - list_dot_product(b.v, q.qv)
               / (sqrt(list_dot_product(b.v, b.v))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS dist
      FROM b, q WHERE b.vec_id <> q.qid),
    ranked AS (
      SELECT qid, in_bucket,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vec_id)
               AS exact_rnk,
             ROW_NUMBER() OVER (PARTITION BY qid, in_bucket
                                ORDER BY dist, vec_id) AS ann_rnk
      FROM scored),
    gains AS (
      SELECT qid,
             CASE WHEN in_bucket AND ann_rnk <= {RECALL_K}
                       AND exact_rnk <= {RECALL_K}
                  THEN ({RECALL_K} + 1 - exact_rnk)
                       * ({_DISCOUNT_SQL})[ann_rnk]
                  ELSE 0 END AS gain,
             CASE WHEN in_bucket AND ann_rnk <= {RECALL_K}
                       AND exact_rnk <= {RECALL_K}
                  THEN ann_rnk ELSE NULL END AS rel_rnk
      FROM ranked)
    SELECT qid AS q_vec_id,
           CAST(COUNT(rel_rnk) AS BIGINT) AS n_rel,
           CAST(SUM(gain) AS BIGINT) AS dcg,
           CAST(SUM(gain) * 1000000 // {_IDCG} AS BIGINT) AS ndcg_ppm,
           CAST(coalesce(1000000 // MIN(rel_rnk), 0) AS BIGINT) AS mrr_ppm
    FROM gains GROUP BY qid ORDER BY q_vec_id
    """,
    f"Order-aware ANN quality: nDCG@{RECALL_K} and MRR of the SRP-bucket "
    f"ranking against exact ground truth, {NUM_Q}-query sample. Graded "
    "relevance = k+1-exact_rank; discounts are a baked integer-ppm LUT "
    "(identical literals in both engines), IDCG a Python-constant integer "
    "— the whole metric is exact BIGINT arithmetic. Same bounded map-side "
    "scoring pass + two windows as ann_recall_at_k; NUM_Q output rows.",
)
def ann_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    from doc2vec_spark.functions.vectors import l2_norm
    from doc2vec_spark.operators.evalmetrics import _q_structs

    b = e.select(
        "vec_id",
        "v",
        l2_norm(F.col("v")).alias("nv"),
        srp_bucket_expr(F.col("v")).alias("bucket"),
    )
    qrows = sorted(
        b.filter(F.col("vec_id") < NUM_Q).collect(), key=lambda r: r["vec_id"]
    )
    if not qrows:  # empty embeddings: oracle emits 0 rows
        return spark.createDataFrame(
            [], "q_vec_id long, n_rel long, dcg long, ndcg_ppm long, mrr_ppm long"
        )
    scored = (
        b.select(
            "vec_id",
            "bucket",
            F.explode(_q_structs(qrows, "bucket", "in_bucket").alias("qs")).alias(
                "s"
            ),
        )
        .filter(F.col("vec_id") != F.col("s.qid"))
        .select("vec_id", "s.qid", "s.in_bucket", "s.dist")
    )
    # r21: one window exchange instead of two — see
    # evalmetrics._ranked_single_window (every consumer below gates on
    # in_bucket, for which the conditional running count equals the
    # (qid, in_bucket)-partitioned row_number)
    from doc2vec_spark.operators.evalmetrics import _ranked_single_window

    ranked = _ranked_single_window(scored, "in_bucket")
    relevant = (
        F.col("in_bucket")
        & (F.col("ann_rnk") <= RECALL_K)
        & (F.col("exact_rnk") <= RECALL_K)
    )
    lut = F.array(*[F.lit(d) for d in _DISCOUNT_PPM])
    gain = F.when(
        relevant,
        (F.lit(RECALL_K + 1) - F.col("exact_rnk"))
        * F.element_at(lut, F.col("ann_rnk")),
    ).otherwise(F.lit(0))
    rel_rnk = F.when(relevant, F.col("ann_rnk"))
    gains = ranked.select("qid", gain.alias("gain"), rel_rnk.alias("rel_rnk"))
    return (
        gains.groupBy(F.col("qid").alias("q_vec_id"))
        .agg(
            F.count("rel_rnk").cast("long").alias("n_rel"),
            F.sum("gain").cast("long").alias("dcg"),
            F.expr(f"CAST(sum(gain) * 1000000 div {_IDCG} AS BIGINT)").alias(
                "ndcg_ppm"
            ),
            F.expr(
                "CAST(coalesce(1000000 div min(rel_rnk), 0) AS BIGINT)"
            ).alias("mrr_ppm"),
        )
        .orderBy("q_vec_id")
    )
