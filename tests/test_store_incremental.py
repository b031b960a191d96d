"""Incremental bucketed store commits: an upsert touching one url rewrites
only that url's bucket (not the table), superseded versions are
garbage-collected, one sync = one commit, and the embedding UDF runs exactly
once per changed chunk (VERDICT r01 findings 1-2; ADVICE store.py items)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F


BODY = "body text for incremental store tests. " * 40


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "url string, markdown string, product_name string, version string"
    )


def _data_files(root):
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.join(dirpath, f))
    return sorted(out)


def _version_dirs(root):
    return sorted(
        d for d in os.listdir(root) if d.startswith("v") and os.path.isdir(os.path.join(root, d))
    )


def test_single_url_upsert_rewrites_one_bucket(spark, tmp_path):
    from doc2vec_spark.store import ChunkStore
    from doc2vec_spark.sync import sync_documents

    root = str(tmp_path / "chunks")
    store = ChunkStore(spark, root, num_buckets=16)
    docs = _docs(
        spark,
        [(f"https://d/{i}", f"# Doc {i}\n{BODY} doc {i}.", "prod", "1.0") for i in range(64)],
    )
    sync_documents(spark, store, docs)
    before = set(_data_files(root))
    n_before = store.count()

    one = _docs(spark, [("https://d/7", f"# Doc 7\n{BODY} doc 7 EDITED.", "prod", "1.0")])
    store.upsert_documents(
        __import__("doc2vec_spark.embedding", fromlist=["with_embeddings"]).with_embeddings(
            __import__("doc2vec_spark.chunking", fromlist=["chunk_documents"]).chunk_documents(one)
        )
    )
    after = set(_data_files(root))
    # unchanged buckets keep their exact old files; only 1 of 16 buckets is new
    surviving = before & after
    new_files = after - before
    assert len(surviving) >= len(before) * 0.8, (len(before), len(surviving))
    assert 0 < len(new_files) <= max(2, len(before) // 8)
    # contents correct
    assert store.count() >= n_before  # doc 7 re-chunked, others intact
    got = store.read().filter(F.col("url") == "https://d/7").select("content").collect()
    assert any("EDITED" in r["content"] for r in got)
    assert store.read().select("url").distinct().count() == 64


def test_version_gc_bounds_disk(spark, tmp_path):
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding import with_embeddings
    from doc2vec_spark.store import ChunkStore

    root = str(tmp_path / "chunks")
    store = ChunkStore(spark, root, num_buckets=4)
    for i in range(5):
        docs = _docs(spark, [(f"https://d/{i}", f"# D{i}\n{BODY} v{i}.", "prod", "1.0")])
        store.upsert_documents(with_embeddings(chunk_documents(docs)))
    # every version dir still on disk is referenced by the manifest or was
    # retired by the LAST commit only (GC deferred one commit for in-flight
    # readers); monotonic counter names mean no collisions possible
    manifest = store._manifest()
    live = set(manifest["buckets"].values())
    retired = set(manifest.get("retired", []))
    assert set(_version_dirs(root)) == live | retired
    assert len(live) <= 4  # at most one live version per bucket
    assert manifest["counter"] == 5
    assert store.read().select("url").distinct().count() == 5


def test_sync_is_single_commit_and_deletes_fold_in(spark, tmp_path):
    from doc2vec_spark.store import ChunkStore
    from doc2vec_spark.sync import sync_documents

    root = str(tmp_path / "chunks")
    store = ChunkStore(spark, root, num_buckets=4)
    v1 = _docs(
        spark,
        [
            ("https://d/a", f"# A\n{BODY} a.", "prod", "1.0"),
            ("https://d/b", f"# B\n{BODY} b.", "prod", "1.0"),
            ("https://d/c", f"# C\n{BODY} c.", "prod", "1.0"),
        ],
    )
    sync_documents(spark, store, v1)
    c1 = store._manifest()["counter"]
    # v2: a edited, b unchanged, c dropped -> upsert + delete in ONE commit
    v2 = _docs(
        spark,
        [
            ("https://d/a", f"# A\n{BODY} a EDITED.", "prod", "1.0"),
            ("https://d/b", f"# B\n{BODY} b.", "prod", "1.0"),
        ],
    )
    c = sync_documents(spark, store, v2, cleanup_prefix="https://d/")
    assert c.items_updated == 1 and c.items_deleted == 1
    assert store._manifest()["counter"] == c1 + 1  # exactly one commit
    urls = {r["url"] for r in store.read().select("url").distinct().collect()}
    assert urls == {"https://d/a", "https://d/b"}


def test_embed_udf_runs_once_per_changed_chunk(spark, tmp_path):
    """W3 at provider-cost level: counting via accumulator, each changed chunk
    is embedded exactly once per sync (not once for the counter and again for
    the store write — the r01 double-materialization bug). Since the r11
    native flip, the counting provider is injected through the
    ``sync_documents(embed_fn=...)`` seam — the same seam a real
    OpenAI/Azure provider uses — instead of monkeypatching a module
    attribute (ADVICE r11 high: the old monkeypatch target no longer
    exists)."""
    from doc2vec_spark.store import ChunkStore
    from doc2vec_spark.sync import sync_documents
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    acc = spark.sparkContext.accumulator(0)

    def counting_with_embeddings(df, text_col="content", out_col="embedding", dim=64):
        from doc2vec_spark.embedding import embed_text

        @pandas_udf(T.ArrayType(T.FloatType()))
        def _embed(texts):
            import pandas as pd

            acc.add(len(texts))
            return pd.Series([embed_text(t, dim).tolist() for t in texts])

        return df.withColumn(out_col, _embed(F.col(text_col)))

    store = ChunkStore(spark, str(tmp_path / "chunks"), num_buckets=4)
    docs = _docs(
        spark,
        [(f"https://d/{i}", f"# D{i}\n{BODY} doc {i}.", "prod", "1.0") for i in range(8)],
    )
    c1 = sync_documents(spark, store, docs, embed_fn=counting_with_embeddings)
    assert acc.value == c1.chunks_added > 0

    # second sync: one url changed -> only its chunks embed, once each
    acc.value = 0
    docs2 = _docs(
        spark,
        [
            (
                f"https://d/{i}",
                f"# D{i}\n{BODY} doc {i}." + (" EDITED" if i == 3 else ""),
                "prod",
                "1.0",
            )
            for i in range(8)
        ],
    )
    c2 = sync_documents(spark, store, docs2, embed_fn=counting_with_embeddings)
    assert c2.items_updated == 1 and c2.items_unchanged == 7
    assert acc.value == c2.chunks_added > 0


def test_default_ingest_embed_plan_has_no_python_stage(spark):
    """The flip's companion invariant: the DEFAULT ingest embedding path
    (embed_fn=None -> with_embeddings_native) plans as pure JVM column
    expressions — no ArrowEvalPython / BatchEvalPython stage. An
    accumulator can't count a native fold, so W3's provider-cost
    invariant splits into (a) the embed_fn-seam count above and (b) this
    plan assertion that the default path never crosses into Python."""
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding_native import with_embeddings_native

    docs = _docs(spark, [("https://d/p", f"# P\n{BODY} plan.", "prod", "1.0")])
    embedded = with_embeddings_native(chunk_documents(docs), text_col="content", dim=64)
    plan = embedded._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    # and it actually produces normalized vectors of the requested dim
    row = embedded.select("embedding").first()
    assert len(row["embedding"]) == 64


def test_gc_defers_one_commit_for_inflight_readers(spark, tmp_path):
    """ADVICE r02: a version superseded by commit N stays on disk until
    commit N+1, so a reader that resolved paths from the pre-N manifest can
    finish scanning."""
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding import with_embeddings
    from doc2vec_spark.store import ChunkStore

    root = str(tmp_path / "chunks")
    store = ChunkStore(spark, root, num_buckets=2)

    def put(i, body):
        docs = _docs(spark, [(f"https://d/{i}", f"# D\n{BODY} {body}.", "p", "1")])
        store.upsert_documents(with_embeddings(chunk_documents(docs)))

    put(0, "v1")
    v1 = set(store._manifest()["buckets"].values())
    # in-flight reader resolves the v1 manifest NOW
    reader = store.read().select("url", "content")
    put(0, "v2")  # supersedes v1's bucket
    assert v1 <= set(_version_dirs(root))  # still on disk (retired, not GC'd)
    assert reader.count() == 1  # the old snapshot still scans cleanly
    put(0, "v3")  # next commit retires v2 -> v1 is now collectable
    assert not (v1 & set(_version_dirs(root)))


def test_rebucket_migration_preserves_contents(spark, tmp_path):
    """VERDICT r02 #7: 16 -> 64 buckets in one rewrite; counter continuity,
    identical read() contents, and subsequent commits use the new layout."""
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding import with_embeddings
    from doc2vec_spark.store import ChunkStore

    root = str(tmp_path / "chunks")
    store = ChunkStore(spark, root, num_buckets=16)
    docs = _docs(
        spark,
        [(f"https://d/{i}", f"# D{i}\n{BODY} doc {i}.", "prod", "1.0") for i in range(12)],
    )
    store.upsert_documents(with_embeddings(chunk_documents(docs)))
    before = sorted(
        (r["url"], r["chunk_id"]) for r in store.read().select("url", "chunk_id").collect()
    )
    c_before = store._manifest()["counter"]

    store.rebucket(64)
    m = store._manifest()
    assert m["num_buckets"] == 64 and m["counter"] == c_before + 1
    after = sorted(
        (r["url"], r["chunk_id"]) for r in store.read().select("url", "chunk_id").collect()
    )
    assert after == before

    # a fresh handle picks the migrated bucket count up from the manifest,
    # and a touched-url commit under the new layout still works
    store2 = ChunkStore(spark, root)
    one = _docs(spark, [("https://d/3", f"# D3\n{BODY} EDITED.", "prod", "1.0")])
    store2.upsert_documents(with_embeddings(chunk_documents(one)))
    urls = {r["url"] for r in store2.read().select("url").distinct().collect()}
    assert len(urls) == 12
    assert store2._manifest()["num_buckets"] == 64


def test_concurrent_commits_serialize_on_lock(spark, tmp_path):
    """ADVICE r02: two commits racing on the manifest must both land (the
    unlocked read-modify-write silently dropped one commit's pointers)."""
    from concurrent.futures import ThreadPoolExecutor

    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding import with_embeddings
    from doc2vec_spark.store import ChunkStore

    root = str(tmp_path / "chunks")
    store = ChunkStore(spark, root, num_buckets=4)

    def commit(i):
        docs = _docs(spark, [(f"https://d/{i}", f"# D{i}\n{BODY} doc {i}.", "p", "1")])
        store.upsert_documents(with_embeddings(chunk_documents(docs)))

    with ThreadPoolExecutor(max_workers=2) as ex:
        list(ex.map(commit, range(2)))

    m = store._manifest()
    assert m["counter"] == 2  # both commits flipped
    urls = {r["url"] for r in store.read().select("url").distinct().collect()}
    assert urls == {"https://d/0", "https://d/1"}


def test_incremental_rebucket_reads_green_throughout(spark, tmp_path):
    """VERDICT r03 #8: 16 -> 64 buckets in 4 batched commits behind the same
    lock; read() returns identical contents after every step, a
    mid-migration upsert commits correctly (and opportunistically migrates
    the old buckets it touches), and the final manifest matches the target
    layout."""
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding import with_embeddings
    from doc2vec_spark.store import ChunkStore

    root = str(tmp_path / "chunks")
    store = ChunkStore(spark, root, num_buckets=16)
    docs = _docs(
        spark,
        [(f"https://d/{i}", f"# D{i}\n{BODY} doc {i}.", "prod", "1.0") for i in range(40)],
    )
    store.upsert_documents(with_embeddings(chunk_documents(docs)))

    def snapshot():
        return sorted(
            (r["url"], r["chunk_id"])
            for r in store.read().select("url", "chunk_id").collect()
        )

    before = snapshot()
    store.rebucket_start(64)

    remaining = 16
    steps = 0
    while remaining:
        remaining = store.rebucket_step(max_buckets=4)
        steps += 1
        assert snapshot() == before, f"read drifted after step {steps}"
        m = store._manifest()
        if remaining:
            assert m["num_buckets"] == 16 and m["migration"]["target"] == 64
            # mixed manifest invariant: a key outside the old layout's range
            # may only exist if its owning old bucket (key % 16) has been
            # migrated — otherwise a row could resolve through both layouts
            migrated = set(m["migration"]["migrated"])
            for k in m["buckets"]:
                if int(k) >= 16:
                    assert int(k) % 16 in migrated, (k, sorted(migrated))
    assert steps <= 4 + 1  # 16 buckets / 4 per commit (+1 no-op tolerance)
    m = store._manifest()
    assert m["num_buckets"] == 64 and "migration" not in m
    assert snapshot() == before

    # post-migration commit uses the 64-bucket layout
    one = _docs(spark, [("https://d/3", f"# D3\n{BODY} EDITED.", "prod", "1.0")])
    store.upsert_documents(with_embeddings(chunk_documents(one)))
    assert {r["url"] for r in store.read().select("url").distinct().collect()} == {
        f"https://d/{i}" for i in range(40)
    }


def test_upsert_during_migration_commits_and_migrates_touched(spark, tmp_path):
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding import with_embeddings
    from doc2vec_spark.store import ChunkStore

    root = str(tmp_path / "chunks")
    store = ChunkStore(spark, root, num_buckets=16)
    docs = _docs(
        spark,
        [(f"https://d/{i}", f"# D{i}\n{BODY} doc {i}.", "prod", "1.0") for i in range(24)],
    )
    store.upsert_documents(with_embeddings(chunk_documents(docs)))
    store.rebucket_start(64)
    store.rebucket_step(max_buckets=6)  # partial: 6 of 16 migrated
    migrated_before = set(store._manifest()["migration"]["migrated"])

    # pick a url living in a NOT-yet-migrated old bucket
    buckets = {
        r["url"]: r["b"]
        for r in docs.select("url", F.pmod(F.xxhash64("url"), F.lit(16)).cast("int").alias("b")).collect()
    }
    url = next(u for u, b in buckets.items() if b not in migrated_before)
    edited = _docs(spark, [(url, f"# E\n{BODY} EDITED.", "prod", "1.0")])
    store.upsert_documents(with_embeddings(chunk_documents(edited)))
    m = store._manifest()
    assert m["num_buckets"] == 16 and m.get("migration") is not None
    # the touched url's old bucket was migrated opportunistically
    assert set(m["migration"]["migrated"]) == migrated_before | {buckets[url]}
    urls = {r["url"] for r in store.read().select("url").distinct().collect()}
    assert urls == {f"https://d/{i}" for i in range(24)}

    # drain the rest; reads stay green and the store finalizes
    while store.rebucket_step(max_buckets=6):
        pass
    m = store._manifest()
    assert m["num_buckets"] == 64 and "migration" not in m
    assert {r["url"] for r in store.read().select("url").distinct().collect()} == urls


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under a dedicated job group; return (result, #jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-count probe", False)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None, False)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_read_launches_no_job(spark, tmp_path):
    """Resolving a snapshot is driver-side listing under the declared schema:
    read() launches no Spark job however many version directories are live,
    so a query's job count does not grow with the live-version count."""
    from doc2vec_spark.engine import Doc2VecSparkEngine
    from doc2vec_spark.store import STORE_SCHEMA
    from doc2vec_spark.sync import sync_documents

    engine = Doc2VecSparkEngine(spark, str(tmp_path / "eng"))
    store = engine.store
    sync_documents(
        spark,
        store,
        _docs(
            spark,
            [(f"https://d/{i}", f"# Doc {i}\n{BODY} doc {i}.", "prod", "1.0") for i in range(32)],
        ),
        full_listing=False,
    )

    def live():
        return len(set(store._manifest()["buckets"].values()))

    def query():
        return engine.query_documentation("doc 5 body").collect()

    assert live() == 1
    rows_1, jobs_1 = _jobs_in_group(spark, "store_read_q1", query)

    # single-url upserts into distinct buckets until 3 versions are live
    i = 0
    while live() < 3:
        sync_documents(
            spark,
            store,
            _docs(spark, [(f"https://d/{i}", f"# Doc {i}\n{BODY} doc {i} v2.", "prod", "1.0")]),
            full_listing=False,
        )
        i += 1
    assert live() == 3

    frame, read_jobs = _jobs_in_group(spark, "store_read_only", store.read)
    assert read_jobs == 0, f"store.read() launched {read_jobs} Spark jobs"
    assert frame.schema == STORE_SCHEMA

    rows_3, jobs_3 = _jobs_in_group(spark, "store_read_q3", query)
    assert len(rows_1) == len(rows_3) > 0
    assert jobs_3 == jobs_1, f"query jobs grew with live versions: {jobs_1} -> {jobs_3}"


def test_numeric_looking_product_name_round_trips_as_string(spark, tmp_path):
    """product_name is a partition column: with an inferred partition type a
    store whose only product is "007" read back IntegerType 7, so lookups
    returned 7. The declared type keeps "007", and a re-sync still matches
    every stored url."""
    from pyspark.sql import types as T

    from doc2vec_spark.query import get_chunks
    from doc2vec_spark.store import ChunkStore
    from doc2vec_spark.sync import sync_documents

    store = ChunkStore(spark, str(tmp_path / "chunks"))
    docs = _docs(
        spark,
        [(f"https://d/{i}", f"# Doc {i}\n{BODY} doc {i}.", "007", "1.0") for i in range(8)],
    )
    sync_documents(spark, store, docs)
    stored = store.read()
    assert isinstance(stored.schema["product_name"].dataType, T.StringType)
    rows = get_chunks(stored, "https://d/3").collect()
    assert rows and {r["product_name"] for r in rows} == {"007"}

    token = store.version_token()
    counters = sync_documents(spark, store, docs)
    assert counters.items_unchanged == 8, counters
    assert counters.items_new == counters.items_updated == counters.items_deleted == 0
    assert counters.chunks_added == counters.chunks_deleted == 0, counters
    assert store.version_token() == token
