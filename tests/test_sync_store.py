"""Multi-sync change-detection matrix over the store — mirrors the
reference's e2e invariants (tests/README.md:591-686): unchanged docs keep
byte-identical chunks, updated docs are re-embedded and replaced, deleted
docs are purged, counters are exact, and no orphaned chunks remain."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import jobs_in_group


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "url string, markdown string, product_name string, version string"
    )


BODY_A = "intro text for doc a. " * 40  # > MIN_CHARS so it stands alone
BODY_B = "details about doc b. " * 40
BODY_C = "reference for doc c. " * 40

# Spark jobs of a no-op re-sync of one doc: the chunker, the diff table and
# its one counting aggregate (the same count at 2, 4 and 8 CPUs).
NOOP_SYNC_JOBS = 7


@pytest.fixture()
def store(spark, tmp_path):
    from doc2vec_spark.store import ChunkStore

    return ChunkStore(spark, str(tmp_path / "chunks"))


def test_initial_sync_all_new(spark, store):
    from doc2vec_spark.sync import sync_documents

    docs = _docs(
        spark,
        [
            ("https://d/a", f"# A\n{BODY_A}", "prod", "1.0"),
            ("https://d/b", f"# B\n{BODY_B}", "prod", "1.0"),
        ],
    )
    c = sync_documents(spark, store, docs)
    assert c.items_new == 2 and c.items_updated == 0 and c.items_deleted == 0
    stored = store.read()
    assert stored.count() == c.chunks_added > 0
    assert stored.filter(F.col("embedding").isNull()).count() == 0


def test_incremental_sync_matrix(spark, store):
    from doc2vec_spark.sync import sync_documents

    v1 = _docs(
        spark,
        [
            ("https://d/a", f"# A\n{BODY_A}", "prod", "1.0"),
            ("https://d/b", f"# B\n{BODY_B}", "prod", "1.0"),
            ("https://d/c", f"# C\n{BODY_C}", "prod", "1.0"),
        ],
    )
    sync_documents(spark, store, v1)
    before = {r["url"]: sorted(r["ids"]) for r in store.read().groupBy("url").agg(F.collect_list("chunk_id").alias("ids")).collect()}

    # v2: a unchanged, b edited, c dropped, d new
    v2 = _docs(
        spark,
        [
            ("https://d/a", f"# A\n{BODY_A}", "prod", "1.0"),
            ("https://d/b", f"# B\n{BODY_B} now edited.", "prod", "1.0"),
            ("https://d/d", f"# D\nnew doc body. {BODY_A}", "prod", "1.0"),
        ],
    )
    c = sync_documents(spark, store, v2, cleanup_prefix="https://d/")
    assert c.items_new == 1
    assert c.items_updated == 1
    assert c.items_unchanged == 1
    assert c.items_deleted == 1

    after = {r["url"]: sorted(r["ids"]) for r in store.read().groupBy("url").agg(F.collect_list("chunk_id").alias("ids")).collect()}
    # unchanged doc: byte-identical chunk ids (reference invariant)
    assert after["https://d/a"] == before["https://d/a"]
    # updated doc: replaced, ids differ
    assert after["https://d/b"] != before["https://d/b"]
    # deleted doc gone; new doc present
    assert "https://d/c" not in after
    assert "https://d/d" in after

    # invariant: chunk_index/total_chunks consistency, no orphans
    bad = (
        store.read()
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n"), F.max("total_chunks").alias("t"), F.max("chunk_index").alias("mx"))
        .filter((F.col("n") != F.col("t")) | (F.col("mx") != F.col("n") - 1))
        .count()
    )
    assert bad == 0


def test_unchanged_sync_writes_nothing(spark, store):
    from doc2vec_spark.sync import sync_documents

    docs = _docs(spark, [("https://d/a", f"# A\n{BODY_A}", "prod", "1.0")])
    sync_documents(spark, store, docs)
    token = store.version_token()
    c, jobs = jobs_in_group(
        spark, "noop_sync", lambda: sync_documents(spark, store, docs)
    )
    assert c.items_unchanged == 1 and c.chunks_added == 0
    # W3: no embed, no write — the store version did not advance
    assert store.version_token() == token
    assert jobs <= NOOP_SYNC_JOBS, f"no-op sync launched {jobs} Spark jobs"


def test_partial_batch_counters_match_commit(spark, store):
    """ADVICE r03: under full_listing=False a stored url absent from the
    batch gets status 'deleted' but is intentionally KEPT — the deletion
    counters must report what the commit removed (nothing), not the raw
    diff statuses."""
    from doc2vec_spark.sync import sync_documents

    v1 = _docs(
        spark,
        [
            ("https://d/a", f"# A\n{BODY_A}", "prod", "1.0"),
            ("https://d/b", f"# B\n{BODY_B}", "prod", "1.0"),
        ],
    )
    sync_documents(spark, store, v1)
    n_before = store.read().count()

    # partial batch: only b, edited; a is absent but must survive
    v2 = _docs(spark, [("https://d/b", f"# B\n{BODY_B} edited.", "prod", "1.0")])
    c = sync_documents(spark, store, v2, full_listing=False)
    assert c.items_deleted == 0 and c.items_updated == 1
    a_chunks = store.read().filter(F.col("url") == "https://d/a").count()
    assert a_chunks > 0  # absent-from-batch url survived
    # chunks_deleted = b's replaced chunks only; store = a's kept + b's new
    assert n_before == a_chunks + c.chunks_deleted
    assert store.read().count() == a_chunks + c.chunks_added


def test_sync_state_watermarks(tmp_path):
    from doc2vec_spark.store import SyncStateStore

    s = SyncStateStore(str(tmp_path / "state.json"))
    assert s.get("etag:https://d/a") is None
    s.put("etag:https://d/a", 'W/"abc"')
    s.put_many({"last_run_repo": "2024-01-01T00:00:00Z", "sync_complete:https://d/": "true"})
    assert s.get("etag:https://d/a") == 'W/"abc"'
    assert s.get("last_run_repo") == "2024-01-01T00:00:00Z"
    s.delete("sync_complete:https://d/")
    assert s.get("sync_complete:https://d/") is None


def test_sync_state_unreadable_file_raises_and_keeps_bytes(tmp_path):
    """A state file that is not a JSON object raises on put instead of
    being rewritten with only the new key; a missing file is empty."""
    from doc2vec_spark.store import SyncStateStore

    path = tmp_path / "state.json"
    s = SyncStateStore(str(path))
    assert s.get("etag:https://d/a") is None
    s.put_many({"etag:https://d/a": "1", "etag:https://d/b": "2"})
    with open(path, "a") as f:
        f.write("x")
    corrupt = path.read_bytes()
    with pytest.raises(ValueError):
        s.put("etag:https://d/c", "3")
    assert path.read_bytes() == corrupt
    path.write_text("[1]")
    with pytest.raises(ValueError):
        s.get("etag:https://d/a")
