"""Filtering-funnel audit (round 13): the stage-by-stage survival report
of the corpus cleaning pipeline.

Every production data team publishes this table: how many documents (and
tokens) survive each successive cleaning gate — it is the first artifact
reviewed when a training corpus shrinks unexpectedly, and the number the
published pipelines report themselves (C4 §2.2's 'we removed X%', CCNet's
per-stage shares, Gopher's Table A1 filter yields). The engine has each
gate as a registered operator; this composes them in the canonical order
and emits the funnel:

  stage 0 ``ingested``    all documents
  stage 1 ``gopher``      + passes the Gopher quality battery
                          (ta_gopher_rules' all-integer verdict)
  stage 2 ``dedup``       + is its normalized-exact group's survivor
                          (dedup_exact_normalized's min-doc_id rule)
  stage 3 ``perplexity``  + not in the CCNet 'tail' tercile of the
                          unigram-LM score (pipe_perplexity_buckets)

Output: four rows (stage, stage_name, n_docs, n_tokens) with cumulative
semantics — a doc counts at stage k iff it passes gates 1..k. Token mass
uses the same word counts the Gopher stats already aggregate, so the
funnel reports exactly what the budget/packing plane would receive.

Scale shape: the three gate passes the pipeline already pays (one
doc-keyed agg; one 256-bit-key shuffle; one lang-keyed window over the LM
pass), two doc-keyed equi-joins to align the flags, a 4-way stage explode
(map-only), and a 4-row aggregate. Nothing new touches the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doc2vec_spark.functions.hashing import sha256_hex
from doc2vec_spark.operators.normdedup import _NORM_SQL, normalized_text
from doc2vec_spark.operators.pipeline import QUERIES as _PIPE_QUERIES
from doc2vec_spark.operators.pipeline import pipe_perplexity_buckets
from doc2vec_spark.operators.quality import QUERIES as _QUALITY_QUERIES
from doc2vec_spark.operators.quality import ta_gopher_rules
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


_STAGE_NAMES = ("ingested", "gopher", "dedup", "perplexity")

_STAGE_NAME_SQL = (
    "CASE s WHEN 0 THEN 'ingested' WHEN 1 THEN 'gopher' "
    "WHEN 2 THEN 'dedup' ELSE 'perplexity' END"
)


@_register(
    "pipe_filter_funnel",
    f"""
    WITH g AS MATERIALIZED ({_QUALITY_QUERIES["ta_gopher_rules"].oracle}),
    norm AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
    surv AS (
      SELECT doc_id,
             (doc_id = MIN(doc_id) OVER (PARTITION BY sha256(nt))) AS kp
      FROM norm),
    px AS MATERIALIZED ({_PIPE_QUERIES["pipe_perplexity_buckets"].oracle}),
    base AS (
      SELECT g.doc_id, g.n_words, g.gopher_pass AS gp, surv.kp,
             (px.bucket <> 'tail') AS pp
      FROM g JOIN surv USING (doc_id) JOIN px USING (doc_id)),
    lab AS (
      SELECT s,
             CASE WHEN s = 0 THEN true
                  WHEN s = 1 THEN gp
                  WHEN s = 2 THEN gp AND kp
                  ELSE gp AND kp AND pp END AS ok,
             n_words
      FROM base, unnest([0, 1, 2, 3]) t(s))
    SELECT CAST(s AS BIGINT) AS stage,
           {_STAGE_NAME_SQL} AS stage_name,
           CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN ok THEN n_words ELSE 0 END) AS BIGINT)
             AS n_tokens
    FROM lab
    GROUP BY s
    """,
    "The corpus-cleaning funnel: cumulative doc/token survival through "
    "Gopher quality -> normalized-exact dedup survivorship -> CCNet "
    "perplexity-tail drop, composed from the three registered gates in "
    "their canonical order. Four output rows; adds only two doc-keyed "
    "joins and a 4-row aggregate on top of passes the pipeline already "
    "pays. The first table a data team reads when the corpus shrinks.",
)
def pipe_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = ta_gopher_rules(spark, sf_dir).select("doc_id", "n_words", "gopher_pass")

    docs = load(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id", sha256_hex(normalized_text(F.col("text"))).alias("norm_hash")
    )
    w = Window.partitionBy("norm_hash")
    surv = norm.select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("kp"),
    )

    px = pipe_perplexity_buckets(spark, sf_dir).select(
        "doc_id", (F.col("bucket") != "tail").alias("pp")
    )

    base = (
        g.withColumnRenamed("gopher_pass", "gp")
        .join(surv, "doc_id")
        .join(px, "doc_id")
    )
    # r22 batch 4 (guide §2.3, aggregate before you multiply): the old
    # shape exploded every base row 4x (one copy per funnel stage) and
    # grouped by the stage id — 4x the rows through the partial aggregate
    # for an output the 8 conditional sums below compute in ONE pass. The
    # cumulative stage predicates evaluate per row exactly as the explode's
    # CASE did; the 4-row reshape now explodes a literal 4-struct array
    # over the SINGLE aggregate row. Empty-corpus contract preserved: the
    # oracle's GROUP BY over an empty lab emits 0 rows, and sum() over an
    # empty frame is NULL, so the d0-isNotNull filter drops the one
    # all-NULL aggregate row (guarded by test_filter_funnel_empty_corpus).
    oks = (
        F.lit(True),
        F.col("gp"),
        F.col("gp") & F.col("kp"),
        F.col("gp") & F.col("kp") & F.col("pp"),
    )
    agg_row = base.agg(
        *[F.sum(ok.cast("long")).cast("long").alias(f"d{s}") for s, ok in enumerate(oks)],
        *[
            F.sum(F.when(ok, F.col("n_words")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"t{s}")
            for s, ok in enumerate(oks)
        ],
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(s).cast("long").alias("stage"),
                F.lit(_STAGE_NAMES[s]).alias("stage_name"),
                F.col(f"d{s}").alias("n_docs"),
                F.col(f"t{s}").alias("n_tokens"),
            )
            for s in range(4)
        ]
    )
    return (
        agg_row.where(F.col("d0").isNotNull())
        .select(F.explode(stages).alias("r"))
        .select("r.stage", "r.stage_name", "r.n_docs", "r.n_tokens")
    )
