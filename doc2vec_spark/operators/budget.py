"""Token-budget allocation across sources (round 8).

The planning step between corpus triage (`pipe_domain_quality`) and mixture
sampling (`pipe_mixture_sample`): given a total training-token budget,
decide how many tokens to draw from each source, weighting by
quality-passing volume but capping repetition per source — the
"repeat good data up to a few epochs, never more" rule from
data-constrained scaling studies (Muennighoff et al. 2023,
arXiv:2305.16264). Everything is 64-bit integer arithmetic (budgets,
caps, floor-divided proportional shares), so the allocation is
hash-identical in both engines.

Allocation: budget B = 2x total corpus tokens; per-source cap = 2.5 epochs
of that source's tokens; round 1 gives each source min(cap, B * W_s // W)
where W_s is its QUALITY-passing token count; the flooring + cap leftovers
are redistributed once over the uncapped sources by the same weights
(bounded waterfilling — one redistribution round, remainder reported).

100 TB story: the corpus collapses to one row per source (ONE map-side
combinable aggregation); the waterfill itself runs on that source-count-
sized table (driver-side here, vocabulary-of-sources scale — the KMV/Q15
bounded-scalar precedent), and the result is a broadcast-sized plan every
downstream sampler joins against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


BUDGET_X2 = 2  # B = 2x total corpus tokens
CAP_NUM, CAP_DEN = 5, 2  # per-source cap = 5/2 = 2.5 epochs
QUALITY_MIN_TOKENS = 50  # inline quality gate: docs with >= 50 tokens count
# toward a source's quality weight (mirrors the shared integer-gate shape in
# curation.pipe_quality_classifier without coupling the module closures)


_BUDGET_ORACLE = f"""
WITH per_doc AS (
  SELECT source,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS toks
  FROM documents
),
per_source AS (
  SELECT source,
         CAST(SUM(toks) AS BIGINT) AS t_s,
         CAST(SUM(CASE WHEN toks >= {QUALITY_MIN_TOKENS} THEN toks
                       ELSE 0 END) AS BIGINT) AS w_s
  FROM per_doc GROUP BY source
),
tot AS (
  SELECT CAST(SUM(t_s) AS BIGINT) AS t,
         CAST(SUM(w_s) AS BIGINT) AS w
  FROM per_source
),
r1 AS (
  -- if NO doc passes the quality gate (w = 0), weights fall back to raw
  -- token mass so the allocator degrades to plain proportional shares
  SELECT source, t_s, w_s,
         (t_s * {CAP_NUM}) // {CAP_DEN} AS cap_s,
         LEAST((t_s * {CAP_NUM}) // {CAP_DEN},
               CASE WHEN t.w > 0 THEN ({BUDGET_X2} * t.t * w_s) // t.w
                    ELSE ({BUDGET_X2} * t.t * t_s) // t.t END) AS a1
  FROM per_source, tot t
),
lo AS (
  SELECT {BUDGET_X2} * (SELECT t FROM tot) - SUM(a1) AS leftover,
         SUM(CASE WHEN a1 < cap_s
                  THEN CASE WHEN (SELECT w FROM tot) > 0 THEN w_s ELSE t_s END
                  ELSE 0 END) AS u
  FROM r1
),
fin AS (
  SELECT source, t_s, w_s, cap_s,
         CASE WHEN a1 < cap_s AND lo.u > 0
              THEN LEAST(cap_s, a1 + (lo.leftover *
                     (CASE WHEN (SELECT w FROM tot) > 0 THEN w_s
                           ELSE t_s END)) // lo.u)
              ELSE a1 END AS alloc
  FROM r1, lo
)
SELECT source,
       t_s AS tokens,
       w_s AS quality_tokens,
       cap_s AS cap_tokens,
       CAST(alloc AS BIGINT) AS alloc_tokens,
       CAST(alloc * 1000000 // t_s AS BIGINT) AS epochs_ppm
FROM fin
ORDER BY source
"""


def waterfill(
    per_source: list[tuple[str, int, int]],
) -> list[tuple[str, int, int, int, int, int]]:
    """The driver-side allocation core over (source, tokens, quality_tokens)
    rows: proportional shares by quality weight (raw-token fallback when no
    document passes the gate), per-source repeat cap, one leftover
    redistribution. Pure integer arithmetic; property-tested directly in
    tests/test_round8_ops.py."""
    if not per_source:
        return []
    t = sum(r[1] for r in per_source)
    w = sum(r[2] for r in per_source)
    b = BUDGET_X2 * t
    # w == 0 (no doc passes the gate): weights fall back to raw token mass
    # so the allocator degrades to plain proportional shares
    widx = 2 if w > 0 else 1
    wt = w if w > 0 else t
    out = []
    for src, t_s, w_s in per_source:
        cap = (t_s * CAP_NUM) // CAP_DEN
        a1 = min(cap, (b * (w_s if widx == 2 else t_s)) // wt)
        out.append([src, t_s, w_s, cap, a1, w_s if widx == 2 else t_s])
    leftover = b - sum(o[4] for o in out)
    u = sum(o[5] for o in out if o[4] < o[3])
    for o in out:
        if o[4] < o[3] and u > 0:
            o[4] = min(o[3], o[4] + (leftover * o[5]) // u)
    return [
        (src, t_s, w_s, cap, alloc, alloc * 1_000_000 // t_s)
        for src, t_s, w_s, cap, alloc, _ in out
    ]



@_register(
    "pipe_data_budget",
    _BUDGET_ORACLE,
    "Token-budget allocation across sources (the Muennighoff et al. 2023 "
    "repeat-cap rule): budget = 2x corpus tokens, shares proportional to "
    "quality-passing token volume, per-source cap at 2.5 epochs, one "
    "integer waterfill redistribution of cap/floor leftovers. One "
    "map-side-combinable per-source aggregation collapses the corpus; the "
    "waterfill runs on the source-count-sized table (bounded-scalar "
    "precedent) and yields the broadcast plan downstream samplers join.",
)
def pipe_data_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    per_source = (
        docs.select("source", toks.alias("toks"))
        .groupBy("source")
        .agg(
            F.sum("toks").alias("t_s"),
            F.sum(
                F.when(F.col("toks") >= QUALITY_MIN_TOKENS, F.col("toks")).otherwise(
                    F.lit(0)
                )
            ).alias("w_s"),
        )
    )
    # the corpus is now |sources| rows — the waterfill is driver-side
    # integer arithmetic over that bounded table (KMV/Q15 precedent)
    rows = sorted(per_source.collect(), key=lambda r: r["source"])
    schema = (
        "source string, tokens long, quality_tokens long, cap_tokens long, "
        "alloc_tokens long, epochs_ppm long"
    )
    if not rows:  # empty corpus -> empty allocation (matches the SQL oracle)
        return spark.createDataFrame([], schema)
    alloc = waterfill([(r["source"], r["t_s"], r["w_s"]) for r in rows])
    # r22 batch 7: VALUES LocalRelation instead of a Python-RDD frame —
    # no Python-worker job per action; see functions/localframe.py.
    from doc2vec_spark.functions.localframe import local_frame

    return local_frame(spark, alloc, schema).orderBy("source")
