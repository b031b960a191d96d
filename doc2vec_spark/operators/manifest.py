"""Corpus shard manifest — reproducibility fingerprints (round 8).

Training-data pipelines need corpus VERSIONING: after every
curation/dedup/mixing change, a manifest that proves two corpus builds are
byte-identical (or pinpoints which shard diverged) without comparing any
data. The manifest row per shard is (doc count, token count, content
fingerprint), where the fingerprint is a bit_xor of per-document content
hashes — XOR is commutative/associative, so the digest is ORDER-INDEPENDENT
and map-side combinable: Spark's partial aggregation computes it with no
extra shuffle, shard manifests merge into a corpus manifest by XOR again,
and a re-run on differently-partitioned input provably produces the same
fingerprint. (The same idea as content-addressed chunk ids in the
reference, utils.ts:6-8, lifted to corpus granularity.)

Sharding is the deterministic md5-bucket assignment the packing/split
operators share, so the manifest is stable across runs and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


MANIFEST_SHARDS = 8
_H_HEX = 15  # 60-bit md5 prefix per document


@_register(
    "pipe_shard_manifest",
    f"""
    WITH per_doc AS (
      SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % {MANIFEST_SHARDS} AS shard,
             ('0x' || substr(md5(text), 1, {_H_HEX}))::BIGINT AS h,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS toks
      FROM documents
    ),
    shards AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(toks) AS BIGINT) AS n_tokens,
             CAST(bit_xor(h) AS BIGINT) AS fp_xor
      FROM per_doc GROUP BY shard
    )
    SELECT shard, n_docs, n_tokens, fp_xor,
           CAST((SELECT bit_xor(fp_xor) FROM shards) AS BIGINT)
             AS corpus_fp
    FROM shards
    ORDER BY shard
    """,
    "Corpus shard manifest for reproducibility audits: deterministic "
    f"md5-bucket sharding into {MANIFEST_SHARDS}, per-shard doc/token "
    "counts and a bit_xor content fingerprint over 60-bit per-document "
    "hashes. XOR is commutative/associative -> the digest is order- and "
    "partitioning-independent, map-side combinable, and shard fingerprints "
    "fold into the corpus fingerprint (emitted on every row) by XOR again "
    "— two corpus builds compare by 8 manifest rows, not by data.",
)
def pipe_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % MANIFEST_SHARDS
        ).alias("shard"),
        F.conv(F.substring(F.md5(F.col("text")), 1, _H_HEX), 16, 10)
        .cast("long")
        .alias("h"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("toks"),
    )
    shards = per_doc.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("n_tokens"),
        F.expr("bit_xor(h)").alias("fp_xor"),
    )
    # r22 batch 6 (guide §1.2, fewer passes): the fingerprint fold was a
    # separate bounded action and the returned plan then recomputed the
    # whole shard aggregation — TWO corpus passes. The <= MANIFEST_SHARDS
    # rows are now collected ONCE and the XOR fold runs driver-side
    # (Python ^ on ints IS two's-complement bitwise XOR, bit-identical to
    # bit_xor on the same signed-64 values; NULL fp_xor rows — all-NULL-h
    # shards — are skipped exactly as bit_xor skips NULLs). bit_xor over
    # ZERO non-NULL rows is NULL (empty corpus): short-circuit to the
    # empty manifest the SQL oracle also returns, mirroring
    # pipe_data_budget's empty-corpus branch (ADVICE r8).
    shard_rows = sorted(shards.collect(), key=lambda r: r["shard"])
    non_null = [int(r["fp_xor"]) for r in shard_rows if r["fp_xor"] is not None]
    if not non_null:
        return spark.createDataFrame(
            [], "shard long, n_docs long, n_tokens long, fp_xor long, corpus_fp long"
        )
    corpus_fp = 0
    for v in non_null:
        corpus_fp ^= v
    from doc2vec_spark.functions.localframe import local_frame

    return local_frame(
        spark,
        [
            (
                int(r["shard"]),
                int(r["n_docs"]),
                int(r["n_tokens"]),
                None if r["fp_xor"] is None else int(r["fp_xor"]),
                corpus_fp,
            )
            for r in shard_rows
        ],
        "shard long, n_docs long, n_tokens long, fp_xor long, corpus_fp long",
    )
