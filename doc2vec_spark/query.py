"""Query plane: the MCP tool semantics as engine API functions
(SURVEY 3.2; reference mcp/src/server.ts:117-606).

- query_documentation / query_code: embed query -> metadata pre-filter (P1)
  -> URL-prefix + extension filters (P2/P3) -> non-empty guard (P4) ->
  exact cosine top-k (T1). Unlike the reference, post-filters are pushed
  BELOW the top-k, so the 3x over-fetch dance (mcp/src/server.ts:134-135)
  is unnecessary — Catalyst prunes columns (P8) and the ordered limit
  compiles to TakeOrderedAndProject. A ``norm`` column on the input (the
  chunk store's ``serving()`` frame stores it) is taken as each row's
  embedding L2 norm in place of the per-row fold, and is dropped from the
  output like ``embedding``.
- get_chunks: exact (url [, chunk_index range]) scan ordered by index (T3).
- reconstruct_page: ordered concat of a url's chunks (T4, README.md:85-103).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from doc2vec_spark.embedding import DEFAULT_DIM, embed_text
from doc2vec_spark.functions import has_extension
from doc2vec_spark.functions.vectors import as_double_array, cosine_distance_lit

DEFAULT_K = 4  # mcp/src/index.ts:209


def query_documentation(
    chunks: DataFrame,
    query_text: str,
    product_name: str | None = None,
    version: str | None = None,
    url_prefix: str | None = None,
    extensions: Sequence[str] | None = None,
    k: int = DEFAULT_K,
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    qvec = [float(x) for x in embed_text(query_text, dim)]
    df = chunks
    if product_name is not None:
        df = df.filter(F.col("product_name") == product_name)
    if version is not None:
        df = df.filter(F.col("version") == version)
    if url_prefix is not None:
        df = df.filter(F.col("url").startswith(url_prefix))
    if extensions:
        df = df.filter(has_extension(F.col("url"), list(extensions)))
    df = df.filter(F.trim(F.col("content")) != "")
    norm = F.col("norm") if "norm" in df.columns else None
    dist = cosine_distance_lit(as_double_array(F.col("embedding")), qvec, norm)
    # Fully deterministic top-k: chunk_id is a content hash, so a corpus of
    # duplicated content ties at identical (distance, chunk_id) and the cut
    # would pick arbitrary urls (blanktext sweep, r16) — url + chunk_index
    # complete a key that is unique per stored chunk, making the k-boundary
    # well-defined under ties on every input.
    return (
        df.withColumn("distance", dist)
        .drop("embedding", "norm")  # P8: never ship the heavy column to the driver
        .orderBy(
            F.asc("distance"), F.asc("chunk_id"), F.asc("url"), F.asc("chunk_index")
        )
        .limit(k)
    )


def query_code(
    chunks: DataFrame,
    query_text: str,
    product_name: str | None = None,
    repo: str | None = None,
    branch: str | None = None,
    k: int = DEFAULT_K,
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Code-source variant (mcp/src/server.ts:154-195): same KNN with
    repo/branch equality filters."""
    df = chunks
    if repo is not None:
        df = df.filter(F.col("repo") == repo)
    if branch is not None:
        df = df.filter(F.col("branch") == branch)
    return query_documentation(df, query_text, product_name=product_name, k=k, dim=dim)


def get_chunks(
    chunks: DataFrame,
    url: str,
    start_index: int | None = None,
    end_index: int | None = None,
) -> DataFrame:
    # each bound is independently optional (mcp/src/index.ts:237-238;
    # the Qdrant provider honors one-sided ranges, mcp/src/server.ts:719-723)
    df = chunks.filter(F.col("url") == url)
    if start_index is not None:
        df = df.filter(F.col("chunk_index") >= start_index)
    if end_index is not None:
        df = df.filter(F.col("chunk_index") <= end_index)
    return df.drop("embedding").orderBy("chunk_index", "chunk_id")


def reconstruct_page(chunks: DataFrame, url: str | None = None) -> DataFrame:
    """(url, page) with chunks concatenated in index order (T4)."""
    df = chunks if url is None else chunks.filter(F.col("url") == url)
    piece = F.struct(F.col("chunk_index").alias("idx"), F.col("content").alias("c"))
    return (
        df.groupBy("url")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(piece)), lambda s: s.c), "\n\n"
            ).alias("page")
        )
    )
