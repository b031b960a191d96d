"""JVM-native stub-embedding path (round 9, VERDICT r8 #6).

``embedding.py``'s digest-arithmetic embedding was designed to be
SQL-expressible (its docstring derives the exact integer/IEEE chain); the
executor stage nevertheless ran as an Arrow pandas UDF with a per-row
Python md5 loop. This module expresses the SAME math as pure Catalyst
column expressions — ``md5``/``conv``/``substring`` for the 16-bit integer
components, an ``aggregate`` fold for the exact-integer norm, one
``transform`` for the correctly-rounded divide + float32 cast — so the
batch-ingest embed stage stays inside whole-stage codegen with NO Python
boundary. The pandas UDF in ``embedding.py`` remains the pluggable-provider
seam (a real OpenAI/Azure endpoint replaces ``embed_texts``; a hash chain
obviously cannot be a column expression then).

Equivalence is pinned three ways:
- bit-exact vector parity with ``embed_texts`` (pytest, float32-exact);
- a plan test proving the native ingest plan carries no Python eval node
  beyond the chunker's mapInPandas;
- ``doc_knn_query_native`` below registers the VERBATIM oracle SQL of
  ``doc_knn_query_documentation`` (imported, not copied), so the driver
  hash-checks both embed paths against the same DuckDB ground truth.

Round 11 flipped the DEFAULTS: ``operators/domain.py`` (KNN plane, hybrid
corpus leg) and ``sync.py`` (incremental ingest) now embed via
``with_embeddings_native``; ``doc_knn_query_native`` correspondingly
swapped to exercising the Arrow-UDF provider seam, keeping one driver
entry per path.

Component math (embedding.py:12-24, mirrored):
  comps[i] = int16(md5(text[:32764] + '#' + str(i // 8)).hex[4*(i%8):+4]) - 32768
  vec[i]   = float32(comps[i] / sqrt(sum(comps[j]^2)))
Every step is integer arithmetic or a correctly-rounded IEEE op, so the
JVM, Python, and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.embedding import (
    DEFAULT_DIM,
    MAX_EMBED_CHARS,
    _COMPS_PER_DIGEST,
)
from doc2vec_spark.spec import registrar

QUERIES, _register = registrar()


def _embedding_sql(text_sql: str, dim: int) -> str:
    """``embedding.embed_text`` as ONE fused SQL fold, parsed once (r22
    batch 8, the vocab-encode batch-5 precedent) instead of a Python-lambda
    HOF tree rebuilt through dozens of py4j round trips per consumer
    (~0.33 s of construction each).

    Expression-shape note (the round-9 lesson): a 64-element array of
    ``conv(substring(md5(...)))`` components plus a separate norm fold
    collapses into one Project in which every component re-inlines its
    block digest and every divide re-inlines the norm fold — measured 6x
    SLOWER than the Arrow UDF. Here the 8 block digests are the elements of
    ONE array (each md5 evaluated once per row), an ``aggregate`` fold
    builds (components, exact-integer norm^2) in a struct accumulator, and
    the finish lambda does the correctly-rounded divide + float32 cast over
    the accumulator VALUE. The Column-built twin of this tree lives in
    ``tests/test_round22_opt.py``, where
    ``test_embedding_sql_bitwise_equals_column_form`` pins bit-parity."""
    assert dim % _COMPS_PER_DIGEST == 0
    t = f"substring(coalesce({text_sql}, ''), 1, {MAX_EMBED_CHARS})"
    digests = ", ".join(
        f"md5(CAST(concat({t}, '#{j}') AS BINARY))"
        for j in range(dim // _COMPS_PER_DIGEST)
    )
    c8 = (
        f"transform(sequence(0, {_COMPS_PER_DIGEST - 1}), k -> "
        "CAST(conv(substring(d, k * 4 + 1, 4), 16, 10) AS BIGINT) - 32768)"
    )
    return (
        f"aggregate(array({digests}), "
        "named_struct('cs', CAST(array() AS ARRAY<BIGINT>), "
        "'n', CAST(0 AS BIGINT)), "
        f"(acc, d) -> named_struct('cs', concat(acc.cs, {c8}), "
        f"'n', acc.n + aggregate({c8}, CAST(0 AS BIGINT), "
        "(a, c) -> a + c * c)), "
        "acc -> CASE WHEN acc.n = 0 "
        "THEN transform(acc.cs, c -> CAST(0.0D AS FLOAT)) "
        "ELSE transform(acc.cs, c -> "
        "CAST(c / sqrt(CAST(acc.n AS DOUBLE)) AS FLOAT)) END)"
    )


def with_embeddings_native(
    df: DataFrame,
    text_col: str = "content",
    out_col: str = "embedding",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Drop-in for ``embedding.with_embeddings`` on the stub provider: one
    whole-stage-codegen projection, no Python boundary, no Arrow transfer.
    (r22 batch 8: the projection arrives via the single-parse SQL template
    above — identical tree, one parser call.)"""
    quoted = text_col.replace("`", "``")
    return df.withColumn(out_col, F.expr(_embedding_sql(f"`{quoted}`", dim)))


def _knn_native_oracle() -> str:
    # the VERBATIM doc_knn_query_documentation oracle — imported so the two
    # paths are pinned to the identical DuckDB ground truth (same hashes)
    from doc2vec_spark.operators.domain import _doc_knn_oracle

    return _doc_knn_oracle()


@_register(
    "doc_knn_query_native",
    _knn_native_oracle(),
    "Both-paths pin for the KNN plane (chunk -> embed -> filter -> exact "
    "cosine top-4). Since round 11 the DEFAULT plane "
    "(doc_knn_query_documentation) runs the native column-expression embed "
    "this module introduced; this entry therefore now exercises the "
    "PLUGGABLE-PROVIDER Arrow-UDF seam (embedding.with_embeddings — the "
    "path a real OpenAI/Azure endpoint plugs into) against the VERBATIM "
    "same oracle, so the driver keeps hash-checking BOTH embed paths, one "
    "registry slot each. The name records the entry's round-9 origin "
    "(proving native parity); the roles swapped in round 11, the oracle "
    "and hashes did not.",
)
def doc_knn_query_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding import with_embeddings
    from doc2vec_spark.operators.domain import _doc_corpus
    from doc2vec_spark.query import query_documentation

    corpus = _doc_corpus(spark, sf_dir)
    qrow = corpus.filter(F.col("doc_id") == 7).select("text").first()
    if qrow is None:  # no probe doc: oracle's qc CTE is empty -> 0 rows
        return spark.createDataFrame(
            [], "url string, chunk_id string, chunk_index int, distance double"
        )
    query_text = qrow["text"]
    chunks = with_embeddings(chunk_documents(corpus))
    out = query_documentation(chunks, query_text, k=4)
    return out.select(
        "url",
        "chunk_id",
        "chunk_index",
        (F.floor(F.col("distance") * 1e6 + 0.5) / 1e6).alias("distance"),
    )
