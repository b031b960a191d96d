"""Dedup-tier audit (round 13): per-language precision/recall of the
MinHash-LSH near-dup tier against normalized-exact ground truth.

A production curation pipeline runs several dedup tiers (exact,
normalized-exact, MinHash-LSH, SimHash, embedding) and has to answer the
operational question "what does the fuzzy tier actually flag, relative to
a tier we trust?" before anyone deletes data. This is the standard audit:
treat the normalized-exact groups (the C4/CCNet fuzzy-exact tier,
``dedup_exact_normalized``) as ground truth — a document is a TRUE dup iff
it is a non-minimal member of its normalized-hash group — and score the
LSH tier's doc-level flags (a document is FLAGGED iff it appears as the
larger id in any candidate pair at or above the Jaccard threshold, the
min-id-survivor convention) as a classifier: TP/FP/FN and integer-ppm
precision/recall per language.

A false positive here is not necessarily a mistake — LSH exists to catch
near-dups the exact tier cannot see — which is exactly why the audit is
reported per language with raw confusion counts rather than one opaque
F-score: FP mass quantifies how much extra the fuzzy tier would remove,
FN mass how much exact-dup structure slips under the shingle threshold.

Scale shape: both inputs are the registered tiers' own plans (the banded
candidate join and the one 256-bit-key shuffle), the flag join is a
doc_id equi-join against the DISTINCT flagged set (bounded by the
candidate-pair population LSH already bounds), and the output is one row
per language. Nothing here adds a pass over text that the tiers don't
already make. Denominators are clamped with greatest(x, 1) in BOTH
engines (Spark integer `div 0` yields NULL silently while DuckDB raises —
the established cross-engine divergence guard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doc2vec_spark.functions.hashing import sha256_hex
from doc2vec_spark.operators.dedup import (
    _BAND_JOIN_SQL,
    JACCARD_THRESHOLD,
    dedup_minhash_lsh,
)
from doc2vec_spark.operators.dedup import _MINHASH_SIG_SQL
from doc2vec_spark.operators.normdedup import _NORM_SQL, normalized_text
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


@_register(
    "dedup_tier_audit",
    f"""
    WITH sig AS ({_MINHASH_SIG_SQL}),
    cand AS (
      SELECT DISTINCT doc_b
      FROM ({_BAND_JOIN_SQL})
      WHERE est_jaccard >= {JACCARD_THRESHOLD}),
    norm AS (SELECT doc_id, lang, {_NORM_SQL} AS nt FROM documents),
    truth AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id > MIN(doc_id) OVER (PARTITION BY sha256(nt))
                  THEN 1 ELSE 0 END AS is_dup
      FROM norm),
    lab AS (
      SELECT t.lang, t.is_dup,
             CASE WHEN c.doc_b IS NOT NULL THEN 1 ELSE 0 END AS flagged
      FROM truth t LEFT JOIN cand c ON t.doc_id = c.doc_b)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS true_dups,
           CAST(SUM(flagged) AS BIGINT) AS flagged,
           CAST(SUM(is_dup * flagged) AS BIGINT) AS tp,
           CAST(SUM((1 - is_dup) * flagged) AS BIGINT) AS fp,
           CAST(SUM(is_dup * (1 - flagged)) AS BIGINT) AS fn,
           CAST(SUM(is_dup * flagged) * 1000000
                // greatest(SUM(flagged), 1) AS BIGINT) AS precision_ppm,
           CAST(SUM(is_dup * flagged) * 1000000
                // greatest(SUM(is_dup), 1) AS BIGINT) AS recall_ppm
    FROM lab
    GROUP BY lang
    """,
    "Doc-level audit of the MinHash-LSH tier against normalized-exact "
    "ground truth: per-language confusion counts (TP/FP/FN) plus integer-"
    "ppm precision/recall, min-id-survivor convention on both tiers. FP "
    "mass = extra removal the fuzzy tier would add; FN mass = exact-dup "
    "structure under the shingle threshold. Reuses the two registered "
    "tiers' own plans; one equi-join on the bounded flagged set; one row "
    "per language.",
)
def dedup_tier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")

    # ground truth: non-minimal member of a normalized-hash group
    norm = docs.select(
        "doc_id",
        "lang",
        sha256_hex(normalized_text(F.col("text"))).alias("norm_hash"),
    )
    w = Window.partitionBy("norm_hash")
    truth = norm.select(
        "doc_id",
        "lang",
        (F.col("doc_id") > F.min("doc_id").over(w)).cast("long").alias("is_dup"),
    )

    # the LSH tier's doc-level flags: larger-id side of any kept pair
    flagged = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("flagged", F.lit(1).cast("long"))
    )

    lab = truth.join(flagged, "doc_id", "left").select(
        "lang",
        "is_dup",
        F.coalesce(F.col("flagged"), F.lit(0)).alias("flagged"),
    )
    tp = F.sum(F.col("is_dup") * F.col("flagged"))
    return lab.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("is_dup").cast("long").alias("true_dups"),
        F.sum("flagged").cast("long").alias("flagged"),
        tp.cast("long").alias("tp"),
        F.sum((1 - F.col("is_dup")) * F.col("flagged")).cast("long").alias("fp"),
        F.sum(F.col("is_dup") * (1 - F.col("flagged"))).cast("long").alias("fn"),
        F.expr(
            "CAST(sum(is_dup * flagged) * 1000000 div greatest(sum(flagged), 1) AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            "CAST(sum(is_dup * flagged) * 1000000 div greatest(sum(is_dup), 1) AS BIGINT)"
        ).alias("recall_ppm"),
    )
