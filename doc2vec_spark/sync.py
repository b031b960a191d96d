"""Incremental change detection + sync (SURVEY J5/W3/A3; the heart of the
reference: processChunksForUrl, doc2vec.ts:1927-2000).

The reference diffs each URL's new chunk-hash multiset against the stored
one (getChunkHashesByUrl, database.ts:726-770), then: unchanged -> skip
(no embed, no write); changed -> delete url + embed + insert; absent ->
insert. Spark-first this is ONE grouped set-equality diff for the whole
corpus (not a per-url loop): ``diff_status`` returns one decision row per
url, ``(url, status, n_new, n_stored, listed)``, where a NULL-hash row makes
its url present on its side but never enters the multiset comparison.
``sync_documents`` adds the deletion rule as one boolean column on that
table, derives every counter from it in one aggregate, and embeds — the
expensive operator, exactly as the reference treats it (W3) — only the
chunks of new/updated urls.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.chunking import chunk_documents
from doc2vec_spark.embedding import DEFAULT_DIM
from doc2vec_spark.embedding_native import with_embeddings_native
from doc2vec_spark.store import ChunkStore


def diff_status(
    new_chunks: DataFrame, stored_chunks: DataFrame, listed_urls: DataFrame | None = None
) -> DataFrame:
    """The per-url decision table of a sync via the J5 grouped hash-multiset
    comparison (doc2vec.ts:1936-1955): one row per url with
    ``(url, status, n_new, n_stored, listed)``.

    - ``status`` is ``new`` (no stored rows), ``deleted`` (no new rows),
      ``unchanged`` (every non-NULL hash count-matches) or ``updated``.
    - ``n_new`` / ``n_stored`` count the url's rows on each side.
    - ``listed`` says whether the url appears in ``listed_urls`` (the docs a
      sync was given, including those that chunk to zero rows); always false
      when ``listed_urls`` is None. A listed url with no row on either side
      is dropped.

    NULL-hash presence rule: a NULL-hash row counts toward ``n_new`` /
    ``n_stored``, so it makes its url present on that side, but it never
    takes part in the multiset comparison (the r21 collect_list shape
    dropped NULLs: a url whose only row has a NULL hash grouped to an empty,
    not NULL, list).

    Count-equality shape (r22, guide §2.3/§2.4): equality of the two sorted
    hash lists is exactly per-(url, hash) count equality. Tag each side,
    union, ONE hash-partition exchange on url, then the per-(url, hash)
    and per-url aggregations both reuse that partitioning: no collect_list
    buffers, no full-outer SortMergeJoin, no sorts."""
    sides = [(new_chunks, 1, 0, 0), (stored_chunks, 0, 1, 0)]
    if listed_urls is not None:
        sides.append((listed_urls.withColumn("hash", F.lit(None).cast("string")), 0, 0, 1))
    tagged = reduce(
        DataFrame.unionByName,
        [
            side.select(
                "url", "hash", F.lit(nn).alias("nn"), F.lit(no).alias("no"), F.lit(nl).alias("nl")
            )
            for side, nn, no, nl in sides
        ],
    )
    per_h = (
        tagged.repartition("url")
        .groupBy("url", "hash")
        .agg(F.sum("nn").alias("nn"), F.sum("no").alias("no"), F.max("nl").alias("nl"))
    )
    per_url = per_h.groupBy("url").agg(
        F.sum("nn").alias("n_new"),
        F.sum("no").alias("n_stored"),
        (F.max("nl") > 0).alias("listed"),
        F.max(
            ((F.col("nn") != F.col("no")) & F.col("hash").isNotNull()).cast("int")
        ).alias("mm"),
    )
    status = (
        F.when(F.col("n_stored") == 0, "new")
        .when(F.col("n_new") == 0, "deleted")
        .when(F.col("mm") == 0, "unchanged")
        .otherwise("updated")
    )
    return per_url.filter((F.col("n_new") > 0) | (F.col("n_stored") > 0)).select(
        "url", status.alias("status"), "n_new", "n_stored", "listed"
    )


@dataclass
class SyncCounters:
    """SourceRunCounters (types.ts:158-178) derived declaratively (A3)."""

    items_new: int = 0
    items_updated: int = 0
    items_unchanged: int = 0
    items_deleted: int = 0
    chunks_added: int = 0
    chunks_deleted: int = 0


def sync_documents(
    spark: SparkSession,
    store: ChunkStore,
    docs: DataFrame,
    dim: int = DEFAULT_DIM,
    cleanup_prefix: str | None = None,
    full_listing: bool = True,
    embed_fn=None,
) -> SyncCounters:
    """One ingestion run: chunk -> diff -> embed only changed -> commit.

    ``embed_fn(df, text_col=, dim=)`` is the pluggable embedding provider.
    Default: the JVM-native column-expression path
    (``embedding_native.with_embeddings_native`` — bit-identical to the
    stub Arrow UDF, proven by the doc_knn_query_native oracle hashes, with
    no Python boundary in the ingest plan). A real provider (OpenAI/Azure:
    an API call per Arrow batch) plugs in ``embedding.with_embeddings``
    with its ``embed_texts`` swapped — that seam is WHY the UDF path stays.

    ``docs`` carries (url, markdown, product_name, version). The diff (and
    therefore every deletion and counter) is SCOPED to the store rows whose
    product_name appears in ``docs`` — the reference's per-product-database
    granularity (mcp/src/server.ts:417-430). Without that scope, syncing one
    source of a shared store would see every other product's urls as
    "absent from docs" and purge them.

    ``full_listing=True`` (the default; engine sources list their complete
    current set) deletes scoped urls absent from ``docs``. Pass False for a
    PARTIAL batch (e.g. a git-diff changed-file set): absences then mean
    "not in this batch", not "gone", so nothing is deleted implicitly —
    deletions must arrive explicitly (store.delete_by_urls / cleanup_prefix).
    ``cleanup_prefix`` narrows deletion to stored urls under the prefix that
    were not visited, plus listed docs that chunk to zero rows (K4; gated on
    success like W9 — any failure raises before the commit, so
    watermarks/state never advance past one).
    """
    new_chunks = chunk_documents(docs).cache()
    products = docs.select("product_name").distinct()
    stored = store.read().join(F.broadcast(products), "product_name", "left_semi")
    # Deletion rule, one column for all three modes (everything already
    # product-scoped). Only 'deleted' urls (stored rows, no new rows) can go:
    #  - cleanup_prefix given: the caller declared its url territory — listed
    #    docs whose new content chunked to zero rows (their stale chunks must
    #    go) plus unvisited urls UNDER THE PREFIX; never product-wide, or two
    #    same-product sources would purge each other.
    #  - no prefix + full listing: docs is the product's complete set, so
    #    every 'deleted' url goes.
    #  - no prefix + partial batch: absence just means "not in this batch" —
    #    only listed zero-chunk docs go.
    deleted = F.col("status") == "deleted"
    if cleanup_prefix is not None:
        purge = deleted & (F.col("listed") | F.col("url").startswith(cleanup_prefix))
    elif full_listing:
        purge = deleted
    else:
        purge = deleted & F.col("listed")
    table = (
        diff_status(new_chunks, stored.select("url", "hash"), docs.select("url"))
        .withColumn("purge", purge)
        .cache()
    )
    try:
        # ONE action decides the run. The counters describe what the COMMIT
        # does, not the raw diff: under full_listing=False or cleanup_prefix
        # scoping many 'deleted' urls are kept. Stored chunks disappear for
        # purged urls and for 'updated' urls (the upsert replaces them).
        def n_status(s):
            return F.sum((F.col("status") == s).cast("long"))

        changed = F.col("status").isin("new", "updated")
        c = table.agg(
            n_status("new").alias("items_new"),
            n_status("updated").alias("items_updated"),
            n_status("unchanged").alias("items_unchanged"),
            F.sum(F.col("purge").cast("long")).alias("items_deleted"),
            F.sum(F.when(changed, F.col("n_new"))).alias("chunks_added"),
            F.sum(
                F.when(F.col("purge") | (F.col("status") == "updated"), F.col("n_stored"))
            ).alias("chunks_deleted"),
        ).first()
        counters = SyncCounters(**{k: v or 0 for k, v in c.asDict().items()})

        # ONE commit for the whole sync: upserts + deletions flip together,
        # so a reader never sees the half-applied intermediate state and the
        # store rewrites each affected url-bucket at most once per run. The
        # embed batch goes in unpersisted: apply persists a batch it does not
        # own, so each changed chunk is embedded once. url sets scale with
        # the corpus (a first sync routes EVERY url through them) — no
        # broadcast hints; AQE broadcasts when actually small.
        if counters.chunks_added or counters.items_deleted:
            embed = embed_fn if embed_fn is not None else with_embeddings_native
            to_embed = new_chunks.join(table.filter(changed).select("url"), "url", "left_semi")
            store.apply(
                embed(to_embed, text_col="content", dim=dim) if counters.chunks_added else None,
                table.filter("purge").select("url") if counters.items_deleted else None,
            )
        return counters
    finally:
        # MUST unpersist: Spark's CacheManager matches cached data by logical
        # plan, so a later sync over the same source path would silently read
        # this run's (stale) cached chunks instead of the files on disk
        table.unpersist()
        new_chunks.unpersist()
