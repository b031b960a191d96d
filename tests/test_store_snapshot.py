"""Snapshot reuse, the serving frame and bucket-pruned url reads in the
chunk store.

``ChunkStore.read()`` keeps the snapshot it resolved last, keyed by the
manifest token, ``serving()`` keeps that snapshot persisted with a stored
norm for top-k, and ``read_url`` reads one url from its one bucket. These
tests pin the driver-side bucket id to Spark's, the memo's visibility and
corruption contract, top-k over the serving frame against the scan, the
serving frame's release, lookup equality with the full-snapshot path, and
readers racing a commit on one session.
"""

from __future__ import annotations

import gc
import hashlib
import os
import sys
import threading

import pytest

from tests.conftest import jobs_in_group


def _chunks(spark, pages, repo="", vectors=None):
    """Hand-built store rows: each page is a list of chunk contents, each
    embedded with the engine's own ``embed_text`` unless ``vectors`` maps
    the content to its vector."""
    from doc2vec_spark.embedding import embed_text
    from doc2vec_spark.store import STORE_SCHEMA

    vectors = vectors or {}
    rows = []
    for url, parts in pages.items():
        for i, content in enumerate(parts):
            h = hashlib.sha256(content.encode()).hexdigest()
            vec = vectors.get(content) or [float(x) for x in embed_text(content)]
            rows.append(
                (url, "prod", "1.0", "", repo, [url], "", h, content, h, i, len(parts), vec)
            )
    return spark.createDataFrame(rows, STORE_SCHEMA)


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _pages(n, tag=""):
    return {
        f"https://d/{i}": [f"doc {i} part {s} {tag}".strip() for s in range(3)]
        for i in range(n)
    }


def test_driver_bucket_equals_spark_bucket(spark, tmp_path):
    """``_url_bucket`` equals ``pmod(xxhash64(url), nb)`` on 1,000+
    urls with edge cases, for nb in {1, 16, 64}, with no Spark job on the
    driver side."""
    from doc2vec_spark.store import ChunkStore

    store = ChunkStore(spark, str(tmp_path / "chunks"))
    urls = [
        "",
        "007",
        "https://d/😀𝄞",
        "https://例え.jp/文書/索引",
        "https://d/" + "x" * 4086,
        "https://d/é/ß",
    ] + [f"https://d/{i}/p{i * 7919 % 1000}" for i in range(1000)]
    nbs = (1, 16, 64)
    frame = spark.createDataFrame([(u,) for u in urls], "url string")
    want = {
        r["url"]: tuple(r[f"b{nb}"] for nb in nbs)
        for r in frame.select(
            "url", *(store._bucket_expr(nb).alias(f"b{nb}") for nb in nbs)
        ).collect()
    }
    got, jobs = jobs_in_group(
        spark,
        "url_bucket_probe",
        lambda: {u: tuple(store._url_bucket(u, nb) for nb in nbs) for u in urls},
    )
    assert jobs == 0
    assert len(want) == len(urls)
    assert got == want


def test_read_memo_reuses_snapshot_and_sees_other_writers(spark, tmp_path, monkeypatch):
    """A second read() at the same token returns the same frame with
    no job and no listing; a commit through a second ChunkStore on the path
    shows in the engine's next query; a corrupt MANIFEST raises after a
    memo hit."""
    from doc2vec_spark.engine import Doc2VecSparkEngine
    from doc2vec_spark.store import ChunkStore

    engine = Doc2VecSparkEngine(spark, str(tmp_path / "eng"))
    store = engine.store
    store.upsert_documents(_chunks(spark, _pages(3)))
    first = store.read()

    listings = []
    real = store._read_buckets
    monkeypatch.setattr(store, "_read_buckets", lambda m, b: listings.append(b) or real(m, b))
    again, jobs = jobs_in_group(spark, "memo_hit", store.read)
    assert again is first
    assert jobs == 0 and listings == []

    other = ChunkStore(spark, store.path)
    other.upsert_documents(_chunks(spark, {"https://d/zebra": ["zebra stripes"]}))
    rows = engine.query_documentation("zebra", url_prefix="https://d/zebra").collect()
    assert [r["url"] for r in rows] == ["https://d/zebra"]
    assert len(listings) == 1 and store.read() is not first

    store.read()  # memo hit at the new token
    with open(os.path.join(store.path, "MANIFEST"), "w") as f:
        f.write("{")
    with pytest.raises(ValueError):
        store.read()


def _top_k(df):
    """(url, chunk_index, chunk_id, distance) per row, the distance as the
    hex of its double so equality is bit for bit."""
    return [
        (r["url"], r["chunk_index"], r["chunk_id"], None if r["distance"] is None else r["distance"].hex())
        for r in df.collect()
    ]


def test_serving_top_k_is_bit_identical_to_the_scan(spark, tmp_path):
    """Top-k over the serving frame returns the rows and distances of
    ``query.query_documentation`` / ``query_code`` over ``read()``, each
    distance the same double: plain, url_prefix, extensions and code
    variants, on a store with an all-zero embedding (NULL distance on both
    paths) and a blank-content chunk. A never-committed store returns no
    rows."""
    from doc2vec_spark import query
    from doc2vec_spark.embedding import DEFAULT_DIM
    from doc2vec_spark.engine import Doc2VecSparkEngine

    empty = Doc2VecSparkEngine(spark, str(tmp_path / "empty"))
    assert empty.query_documentation("anything").collect() == []
    assert empty.query_code("anything", repo="o/r").collect() == []

    engine = Doc2VecSparkEngine(spark, str(tmp_path / "eng"))
    store = engine.store
    docs = {
        f"https://d/guide/{i}{ext}": [f"guide {i} part {s} {ext}" for s in range(3)]
        for i, ext in enumerate([".md", ".markdown"] * 3)
    }
    docs["https://d/blank.md"] = ["blank neighbour", "   "]
    code = {
        "https://d/src/a.py": ["def parse args", "zero"],
        "https://d/src/b.py": ["def main loop"],
    }
    store.upsert_documents(
        _chunks(spark, docs).unionByName(
            _chunks(spark, code, repo="o/r", vectors={"zero": [0.0] * DEFAULT_DIM})
        )
    )
    assert "norm" in store.serving().columns

    variants = [
        ("plain", {}),
        ("prefix", {"url_prefix": "https://d/guide/"}),
        ("ext", {"extensions": [".markdown"]}),
        ("code", {"repo": "o/r"}),
    ]
    blank = hashlib.sha256(b"   ").hexdigest()
    saw_null = False
    for text in ("guide 3 part 1", "parse args", "blank"):
        for variant, kw in variants:
            if variant == "code":
                got = _top_k(engine.query_code(text, k=5, **kw))
                want = _top_k(query.query_code(store.read(), text, k=5, **kw))
            else:
                got = _top_k(engine.query_documentation(text, k=5, **kw))
                want = _top_k(query.query_documentation(store.read(), text, k=5, **kw))
            assert got == want, (text, variant)
            assert len(got) == (3 if variant == "code" else 5), (text, variant)
            assert blank not in {row[2] for row in got}
            saw_null |= any(row[3] is None for row in got)
    assert saw_null


def test_serving_frame_is_released_when_the_token_moves(spark, tmp_path):
    """10 commits, each followed by 3 queries, leave at most one more
    persistent RDD than before. A commit through a second ChunkStore on the
    path shows in the first store's next query, which releases the old
    serving frame; a store that is collected releases its last one."""
    from pyspark import StorageLevel

    from doc2vec_spark.engine import Doc2VecSparkEngine
    from doc2vec_spark.store import ChunkStore

    gc.collect()
    base = _persisted(spark)
    engine = Doc2VecSparkEngine(spark, str(tmp_path / "eng"))
    store = engine.store
    for c in range(10):
        store.upsert_documents(_chunks(spark, {f"https://d/{c}": [f"page {c} part {s}" for s in range(2)]}))
        for q in range(3):
            rows = engine.query_documentation(f"page {c} q{q}", url_prefix=f"https://d/{c}").collect()
            assert [r["url"] for r in rows] == [f"https://d/{c}"] * 2, (c, q)
    assert _persisted(spark) <= base + 1

    held = store.serving()
    assert held.storageLevel != StorageLevel.NONE
    other = ChunkStore(spark, store.path)
    other.upsert_documents(_chunks(spark, {"https://d/zebra": ["zebra stripes"]}))
    rows = engine.query_documentation("zebra", url_prefix="https://d/zebra").collect()
    assert [r["url"] for r in rows] == ["https://d/zebra"]
    assert held.storageLevel == StorageLevel.NONE
    assert _persisted(spark) <= base + 1

    del engine, store, other
    gc.collect()
    assert _persisted(spark) <= base


def _full_path(store):
    """Every url's chunks, ranged chunks and page, from two actions over
    the full snapshot."""
    from doc2vec_spark.query import reconstruct_page

    stored = store.read()
    rows = stored.drop("embedding").orderBy("url", "chunk_index", "chunk_id").collect()
    pages = {r["url"]: r["page"] for r in reconstruct_page(stored).collect()}

    def lookups(url):
        chunks = [r for r in rows if r["url"] == url]
        return chunks, [r for r in chunks if 1 <= r["chunk_index"] <= 2], pages.get(url)

    return lookups


def test_pruned_lookups_equal_full_snapshot(spark, tmp_path):
    """Engine lookups read only the url's bucket and return the rows
    of the full-snapshot path: for every url, for a deleted url, and after
    rebucket(64)."""
    from doc2vec_spark.engine import Doc2VecSparkEngine

    engine = Doc2VecSparkEngine(spark, str(tmp_path / "eng"))
    store = engine.store
    pages = _pages(3)
    store.upsert_documents(_chunks(spark, pages))
    gone = "https://d/2"
    store.delete_by_urls(spark.createDataFrame([(gone,)], "url string"))

    for nb in (16, 64):
        if nb == 64:
            store.rebucket(64)
        want = _full_path(store)
        for url in pages:
            got = (
                engine.get_chunks(url).collect(),
                engine.get_chunks(url, 1, 2).collect(),
                engine.reconstruct_page(url),
            )
            assert got == want(url), (nb, url)
            if url == gone:
                assert got == ([], [], None)
                continue
            assert len(got[0]) == 3 and len(got[1]) == 2 and got[2]
            bucket = store._url_bucket(url, nb)
            files = store.read_url(url).inputFiles()
            assert files and all(f"/bucket={bucket}/" in f for f in files), (nb, url)


def test_readers_racing_a_commit_see_one_snapshot(spark, tmp_path):
    """8 threads query (rows and distances) and look up while one thread
    commits: no call raises, each result equals the serial answer on the
    snapshot before or after the commit, and a call that starts after the
    commit sees it."""
    from doc2vec_spark.engine import Doc2VecSparkEngine

    engine = Doc2VecSparkEngine(spark, str(tmp_path / "eng"))
    store = engine.store
    store.upsert_documents(_chunks(spark, _pages(3)))
    edited = "https://d/1"

    ops = [
        ("query", "doc 1 part 2 fresh"),
        ("chunks", edited),
        ("page", edited),
        ("chunks", "https://d/new"),
    ]

    def run(op):
        kind, arg = op
        if kind == "query":
            rows = engine.query_documentation(arg, k=3).collect()
            return [(r["url"], r["chunk_index"], r["content"], r["distance"]) for r in rows]
        if kind == "chunks":
            return [(r["chunk_index"], r["content"]) for r in engine.get_chunks(arg).collect()]
        return engine.reconstruct_page(arg)

    before = [run(op) for op in ops]
    results: list[tuple[int, bool, object]] = []
    errors: list[BaseException] = []
    start = threading.Barrier(9, timeout=60)
    committed = threading.Event()

    def reader(t):
        # read until the commit is done, then once more: every thread's last
        # call starts after the flip
        start.wait()
        try:
            i = t
            while True:
                last = committed.is_set()
                results.append((i % len(ops), last, run(ops[i % len(ops)])))
                i += 1
                if last:
                    break
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    def writer():
        start.wait()
        try:
            fresh = {edited: _pages(2, "fresh")[edited], "https://d/new": ["new page"]}
            store.upsert_documents(_chunks(spark, fresh))
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)
        finally:
            committed.set()

    threads = [threading.Thread(target=reader, args=(t,)) for t in range(8)]
    threads.append(threading.Thread(target=writer))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []

    after = [run(op) for op in ops]
    assert all(before[i] != after[i] for i in range(len(ops)))
    assert sum(last for _, last, _ in results) == 8
    for i, last, got in results:
        assert got == after[i] if last else got in (before[i], after[i]), ops[i]
