"""Normalized ("fuzzy-exact") deduplication (round 12).

Between byte-exact dedup (dedup_exact) and near-dup detection
(minhash/simhash/jaccard) sits the tier every production corpus pipeline
runs FIRST: hash after cheap text normalization, so documents differing
only in case, punctuation, or whitespace collapse into one group. C4
(Raffel et al. 2020) and CCNet (Wenzek et al. 2020) both deduplicate on
normalized content precisely because raw-byte hashing misses the most
common near-identical pairs while MinHash is overkill for them.

Normalization here (applied identically in both engines — every step is
an ASCII-safe operation with identical semantics in Java regex and RE2):
lower-case, replace every char outside [a-z0-9\\s] with a space, collapse
whitespace runs to one space, trim. The per-doc normalized form is also
emitted as a length so the oracle hash-checks the normalization itself,
not just the grouping.

100 TB shape: identical to dedup_exact — one map-only normalize+hash
projection, one shuffle on a uniformly distributed 256-bit key (no skew),
map-side-combinable aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.functions.hashing import sha256_hex
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


def normalized_text(col) -> F.Column:
    """lower -> non-[a-z0-9\\s] to space -> collapse \\s+ -> trim. ASCII-safe
    steps only, so Java regex (Spark) and RE2 (DuckDB) agree byte-for-byte;
    non-Latin codepoints are outside the keep-class in both engines."""
    lowered = F.lower(col)
    stripped = F.regexp_replace(lowered, r"[^a-z0-9\s]", " ")
    collapsed = F.regexp_replace(stripped, r"\s+", " ")
    return F.trim(collapsed)


_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)


@_register(
    "dedup_exact_normalized",
    f"""
    WITH norm AS (
      SELECT doc_id, {_NORM_SQL} AS nt FROM documents
    )
    SELECT sha256(nt) AS norm_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(MIN(length(nt)) AS BIGINT) AS norm_len
    FROM norm
    GROUP BY sha256(nt)
    """,
    "Normalized exact dedup (the C4/CCNet fuzzy-exact tier): sha256 of the "
    "lower/punct-strip/whitespace-collapse form, deterministic min-doc_id "
    "representative, with the normalized length emitted so the hash gate "
    "checks the normalization itself. Same scale shape as dedup_exact: one "
    "map-only projection + one no-skew 256-bit-key shuffle.",
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    norm = docs.select("doc_id", normalized_text(F.col("text")).alias("nt"))
    return norm.groupBy(sha256_hex(F.col("nt")).alias("norm_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("group_size"),
        F.min(F.length("nt")).alias("norm_len"),
    )
