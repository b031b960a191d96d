"""Incremental bucketed store commits: an upsert touching one url rewrites
only that url's bucket (not the table), superseded versions are
garbage-collected, one sync = one commit, and the embedding UDF runs exactly
once per changed chunk (VERDICT r01 findings 1-2; ADVICE store.py items)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from tests.conftest import jobs_in_group


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
    held = store.read().select("url", "chunk_id")  # a reader mid-flight

    store.rebucket(64)
    m = store._manifest()
    assert m["num_buckets"] == 64 and m["counter"] == c_before + 1
    after = sorted(
        (r["url"], r["chunk_id"]) for r in store.read().select("url", "chunk_id").collect()
    )
    assert after == before
    # the old layout's files outlive the flip: the held snapshot still scans
    assert sorted((r["url"], r["chunk_id"]) for r in held.collect()) == before

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


def _put(spark, store, ids, body):
    """One upsert commit of one hand-built chunk per url (no chunker or
    embedder stage, so a commit costs only the store's own jobs)."""
    from doc2vec_spark.store import STORE_SCHEMA

    rows = [
        (f"https://d/{i}", "p", "1", None, None, [f"D{i}"], f"D{i}", f"d{i}-0",
         f"doc {i} {body}", f"h{i}-{body}", 0, 1, [1.0, 0.0])
        for i in ids
    ]
    store.upsert_documents(spark.createDataFrame(rows, STORE_SCHEMA))


def _rows(store):
    return sorted(
        (r["url"], r["chunk_id"], r["content"])
        for r in store.read().select("url", "chunk_id", "content").collect()
    )


def test_commit_crash_before_flip_keeps_previous_version(spark, tmp_path, monkeypatch):
    """A commit that dies between the data write and the manifest flip
    changes nothing readers see, releases the write lock, and leaves an
    orphan version dir that the next commit's GC removes."""
    import fcntl

    from doc2vec_spark import store as store_mod
    from doc2vec_spark.store import ChunkStore

    root = str(tmp_path / "chunks")
    store = ChunkStore(spark, root, num_buckets=2)
    _put(spark, store, [0, 1], "v1")
    token, before, dirs = store.version_token(), _rows(store), set(_version_dirs(root))

    def crash(path, obj):
        raise OSError("simulated crash before the manifest flip")

    with monkeypatch.context() as m:
        m.setattr(store_mod, "_write_json", crash)
        with pytest.raises(OSError, match="simulated crash"):
            _put(spark, store, [0], "v2")
    orphans = set(_version_dirs(root)) - dirs
    assert len(orphans) == 1  # the data write landed, the flip did not
    assert store.version_token() == token
    assert _rows(store) == before

    with open(os.path.join(root, ".lock"), "w") as f:  # lock was released
        fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
        fcntl.flock(f, fcntl.LOCK_UN)

    _put(spark, store, [0], "v3")
    assert store.version_token()[0] == token[0] + 1
    assert not orphans & set(_version_dirs(root))
    assert any("v3" in c for u, _, c in _rows(store) if u == "https://d/0")


def test_corrupt_manifest_raises_instead_of_wiping_the_store(spark, tmp_path):
    """An unreadable MANIFEST is an error, not an empty store: read() and
    apply() raise, and no version dir is collected."""
    from doc2vec_spark.store import ChunkStore

    root = str(tmp_path / "chunks")
    store = ChunkStore(spark, root, num_buckets=2)
    _put(spark, store, [0, 1], "v1")
    dirs = _version_dirs(root)
    manifest = os.path.join(root, "MANIFEST")
    for junk in ("[1]", "{"):
        with open(manifest, "w") as f:
            f.write(junk)
        with pytest.raises(ValueError):
            store.read()
    with pytest.raises(ValueError):
        store.apply(None, spark.createDataFrame([("https://d/0",)], "url string"))
    assert _version_dirs(root) == dirs


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
    rows_1, jobs_1 = jobs_in_group(spark, "store_read_q1", query)

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

    frame, read_jobs = jobs_in_group(spark, "store_read_only", store.read)
    assert read_jobs == 0, f"store.read() launched {read_jobs} Spark jobs"
    assert frame.schema == STORE_SCHEMA

    rows_3, jobs_3 = jobs_in_group(spark, "store_read_q3", query)
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


def test_commit_write_jobs_do_not_grow_with_live_versions(spark, tmp_path, monkeypatch):
    """A commit's write runs the same number of jobs whether the touched
    buckets live in one version directory or in three: the kept rows'
    join runs once over the union of version scans, not once per version."""
    import hashlib

    from doc2vec_spark.store import STORE_SCHEMA, ChunkStore

    def rows(urls, tag):
        out = []
        for u in urls:
            for i in range(3):
                c = f"{u} chunk {i} {tag}"
                h = hashlib.sha256(c.encode()).hexdigest()
                out.append((u, "prod", "1.0", "", "", [u], "", h, c, h, i, 3, [float(i + 1)] * 8))
        return spark.createDataFrame(out, STORE_SCHEMA)

    store = ChunkStore(spark, str(tmp_path / "chunks"), num_buckets=8)
    writes = []
    real = store._commit

    def counted(manifest, out, nb, buckets):
        versions = len({manifest["buckets"].get(str(b)) for b in buckets} - {None})
        _, jobs = jobs_in_group(
            spark, f"commit_write_{len(writes)}", lambda: real(manifest, out, nb, buckets)
        )
        writes.append((versions, jobs))

    urls = [f"https://d/{i}" for i in range(120)]
    store.apply(rows(urls, "v0"), None)
    monkeypatch.setattr(store, "_commit", counted)
    live = list(urls)
    for c in range(1, 4):
        dels = live[60 + c * 5: 60 + c * 5 + 2]
        live = [u for u in live if u not in dels]
        store.apply(
            rows(live[c * 7: c * 7 + 3], f"v{c}"),
            spark.createDataFrame([(u,) for u in dels], "url string"),
        )
    assert store.count() == 3 * len(live)
    assert writes[0][0] == 1 and max(v for v, _ in writes) >= 3, writes
    assert len({jobs for _, jobs in writes}) == 1, writes
