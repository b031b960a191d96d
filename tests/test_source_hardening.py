"""Regression tests for the round-3 source/sync hardening review:
multi-source stores must not cross-delete, zero-chunk docs must purge,
partial batches must not treat absence as deletion, the W8 dirty gate must
actually fire, git-relative allow-lists must match absolute scan paths,
extension admission must be case-insensitive, and sitemap/link parsing must
survive real-world variance (missing xmlns, fragment hrefs)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

BODY = "sync hardening test body text. " * 40


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "url string, markdown string, product_name string, version string"
    )


def test_multi_source_store_sync_does_not_cross_delete(spark, tmp_path):
    """Syncing one product of a shared store must leave other products'
    rows untouched and report counters scoped to its own product."""
    from doc2vec_spark.store import ChunkStore
    from doc2vec_spark.sync import sync_documents

    store = ChunkStore(spark, str(tmp_path / "chunks"), num_buckets=4)
    a = _docs(spark, [(f"https://a/{i}", f"# A{i}\n{BODY}", "prod-a", "1") for i in range(3)])
    b = _docs(spark, [("https://b/0", f"# B\n{BODY}", "prod-b", "1")])
    sync_documents(spark, store, a)
    c = sync_documents(spark, store, b)  # no url_prefix configured
    urls = {r["url"] for r in store.read().select("url").distinct().collect()}
    assert {f"https://a/{i}" for i in range(3)} <= urls  # A survived
    assert c.items_deleted == 0 and c.chunks_deleted == 0  # counters scoped


@pytest.mark.parametrize(
    "kw, deleted",
    [
        # prefix: the zero-chunk doc and the unvisited url under the prefix
        ({"cleanup_prefix": "https://d/"}, {"https://d/a", "https://d/b"}),
        # full listing: every stored url of the product that was not listed
        ({}, {"https://d/a", "https://d/b", "https://e/c"}),
        # partial batch: absence is not deletion, only the zero-chunk doc goes
        ({"full_listing": False}, {"https://d/a"}),
    ],
    ids=["prefix", "full_listing", "partial"],
)
def test_zero_chunk_doc_purges_stale_chunks_under_prefix(spark, tmp_path, kw, deleted):
    """A doc whose new content chunks to zero rows must lose its stored
    chunks in every deletion mode; an unlisted url outside the prefix (same
    product) goes only under a full listing. The counters report exactly the
    urls and chunks the commit removed."""
    from doc2vec_spark.store import ChunkStore
    from doc2vec_spark.sync import sync_documents

    store = ChunkStore(spark, str(tmp_path / "chunks"), num_buckets=4)
    v1 = _docs(
        spark,
        [(u, f"# {u}\n{BODY}", "p", "1") for u in ("https://d/a", "https://d/b", "https://e/c")],
    )
    sync_documents(spark, store, v1)
    before = {r["url"]: r["n"] for r in store.read().groupBy("url").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(before) == {"https://d/a", "https://d/b", "https://e/c"}
    v2 = _docs(spark, [("https://d/a", "   ", "p", "1")])  # now empty
    c = sync_documents(spark, store, v2, **kw)
    after = {r["url"] for r in store.read().select("url").distinct().collect()}
    assert after == set(before) - deleted
    assert c.items_deleted == len(deleted)
    assert c.chunks_deleted == sum(before[u] for u in deleted)
    assert (c.items_new, c.items_updated, c.chunks_added) == (0, 0, 0)


def test_partial_batch_does_not_delete_absent_urls(spark, tmp_path):
    """full_listing=False: absence from the batch is not deletion."""
    from doc2vec_spark.store import ChunkStore
    from doc2vec_spark.sync import sync_documents

    store = ChunkStore(spark, str(tmp_path / "chunks"), num_buckets=4)
    full = _docs(spark, [(f"https://d/{i}", f"# D{i}\n{BODY} {i}", "p", "1") for i in range(4)])
    sync_documents(spark, store, full)
    one = _docs(spark, [("https://d/0", f"# D0\n{BODY} EDITED", "p", "1")])
    c = sync_documents(spark, store, one, full_listing=False)
    assert c.items_updated == 1
    urls = {r["url"] for r in store.read().select("url").distinct().collect()}
    assert urls == {f"https://d/{i}" for i in range(4)}  # 1..3 intact


def test_w8_dirty_gate_fires_after_crashed_sync(spark, tmp_path):
    """plan -> record_start -> (crash) -> next plan must force full fetch;
    plan -> record_start -> record_success -> next plan may skip."""
    from doc2vec_spark.store import SyncStateStore
    from doc2vec_spark.watermarks import plan_fetches, record_start, record_success

    state = SyncStateStore(str(tmp_path / "state.json"))
    pages = spark.createDataFrame([("https://p/x", "2024-01-01")], "url string, lastmod string")

    record_start(state, "https://p/")
    record_success(state, [("https://p/x", "2024-01-01")], "https://p/")
    plan = {r["url"]: r["action"] for r in plan_fetches(spark, pages, state, "https://p/").collect()}
    assert plan["https://p/x"] == "skip"  # clean state + matching lastmod

    record_start(state, "https://p/")  # sync begins... and crashes here
    plan = {r["url"]: r["action"] for r in plan_fetches(spark, pages, state, "https://p/").collect()}
    assert plan["https://p/x"] == "fetch"  # dirty state forces full


def test_code_allowlist_matches_git_relative_paths(spark, tmp_path):
    from doc2vec_spark.sources.local import read_code_directory

    d = tmp_path / "repo" / "src"
    d.mkdir(parents=True)
    (d / "a.py").write_text("print('a')\n")
    (d / "b.py").write_text("print('b')\n")
    allowed = spark.createDataFrame([("src/a.py",)], "path string")  # git-relative
    got = read_code_directory(
        spark, str(tmp_path / "repo"), allowed_files=allowed
    ).collect()
    assert [r["path"].endswith("src/a.py") for r in got] == [True]


def test_code_allowlist_handles_file_uri_root(spark, tmp_path):
    """ADVICE r03: a 'file:///abs' input must anchor relative allow-list
    entries at '/abs' — 'file:'-stripping alone left '///abs/...', which
    matched nothing and silently emptied the incremental scan."""
    from doc2vec_spark.sources.local import read_code_directory

    d = tmp_path / "repo" / "src"
    d.mkdir(parents=True)
    (d / "a.py").write_text("print('a')\n")
    (d / "b.py").write_text("print('b')\n")
    allowed = spark.createDataFrame([("src/a.py",)], "path string")
    for uri in (f"file://{tmp_path}/repo", f"file:{tmp_path}/repo"):
        got = read_code_directory(spark, uri, allowed_files=allowed).collect()
        assert [r["path"].endswith("src/a.py") for r in got] == [True], uri
    # absolute allow-list entries in file-URI form normalize the same way
    allowed_abs = spark.createDataFrame(
        [(f"file://{tmp_path}/repo/src/a.py",)], "path string"
    )
    got = read_code_directory(
        spark, str(tmp_path / "repo"), allowed_files=allowed_abs
    ).collect()
    assert [r["path"].endswith("src/a.py") for r in got] == [True]


def test_extension_admission_case_insensitive_single_ext(spark, tmp_path):
    from doc2vec_spark.sources.local import read_local_directory

    (tmp_path / "README.MD").write_text("# upper")
    (tmp_path / "notes.md").write_text("# lower")
    (tmp_path / "skip.txt").write_text("no")
    urls = {
        r["url"].rsplit("/", 1)[-1]
        for r in read_local_directory(spark, str(tmp_path), include_extensions=[".md"]).collect()
    }
    assert urls == {"README.MD", "notes.md"}


def test_sitemap_parses_without_xmlns():
    from doc2vec_spark.sources.sitemap import parse_sitemap_xml

    no_ns = """<urlset><url><loc>https://s/a</loc><lastmod>2024-01-01</lastmod></url></urlset>"""
    pages, nested = parse_sitemap_xml(no_ns)
    assert pages == [("https://s/a", "2024-01-01")] and nested == []

    https_ns = (
        '<urlset xmlns="https://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>https://s/b</loc></url></urlset>"
    )
    pages, _ = parse_sitemap_xml(https_ns)
    assert pages == [("https://s/b", None)]


def test_fragment_links_are_stripped_not_dropped():
    from doc2vec_spark.sources.crawler import extract_links

    html = '<a href="guide.html#install">x</a> <a href="#top">y</a>'
    links = extract_links(html, "https://site/docs/")
    assert links == ["https://site/docs/guide.html"]  # fragment stripped,
    # pure-fragment self-link skipped entirely
