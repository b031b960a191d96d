"""Round-17 determinism fixes (VERDICT r16 #1, ADVICE r15 #3).

The blanktext sweep (r16) exposed that the KNN top-k was underdetermined
under distance ties and that two chunk-plane oracles disagreed with the
chunker's empty-content contract; the dup-PK probe showed the hybrid
oracle's probe CTE fanning out. Each fix gets a behavioral pin here; the
cross-engine hash parity itself is test_parity.py + degenerate_sweep.py.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.test_parity import _normalize


def test_knn_topk_deterministic_under_ties(spark):
    """A corpus of identical chunks ties at identical (distance, chunk_id);
    the url tie-break must make the k-cut well-defined: the k
    lexicographically-smallest urls, stable across runs."""
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding_native import with_embeddings_native
    from doc2vec_spark.query import query_documentation

    docs = spark.createDataFrame(
        [(f"https://d/p{i:02d}.md", "identical content everywhere", "prod", "1.0")
         for i in range(12)],
        "url string, markdown string, product_name string, version string",
    )
    chunks = with_embeddings_native(chunk_documents(docs))
    expected = [f"https://d/p{i:02d}.md" for i in range(4)]
    for _ in range(2):  # stable, not luck-of-the-partition-order
        rows = query_documentation(chunks, "identical content everywhere", k=4).collect()
        assert [r["url"] for r in rows] == expected
        assert all(r["distance"] == pytest.approx(0.0, abs=1e-12) for r in rows)


def test_chunk_oracle_trim_guard_is_python_strip():
    """The oracle's whitespace-only exclusion must match str.strip(): a
    '\\n\\t'-padded doc is blank on both sides (DuckDB's one-arg trim strips
    spaces only — the r17 guard uses the ASCII-whitespace charset form)."""
    import duckdb

    from doc2vec_spark.operators.domain import QUERIES

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(0, '', 'en', 'a', 0), (1, '   ', 'en', 'a', 3), "
        "(2, e' \\n\\t ', 'en', 'a', 4), (3, e'\\n keepme \\t', 'en', 'a', 10)"
        ") AS t(doc_id, text, lang, source, n_chars)"
    )
    chunk = con.sql(QUERIES["doc_chunk_pipeline"].oracle).df()
    assert list(chunk["content"]) == ["keepme"]  # python-strip, not space-trim
    page = con.sql(QUERIES["doc_reconstruct_pages"].oracle).df()
    assert list(page["page"]) == ["keepme"]


def test_hybrid_engine_matches_oracle_on_duplicate_probe_id(spark, tmp_path):
    """ADVICE r15 #3: a duplicated probe doc_id must not fan the oracle's q
    CTE out through the cross joins. With the dup rows carrying identical
    text (the only deterministic dup shape), engine and oracle agree
    row-for-row; before the LIMIT 1 fix the oracle diverged silently."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [f"alpha beta w{i} x{i % 3} y{i % 5} gamma" for i in range(30)]
    ids = list(range(30)) + [7]
    rows = {
        "doc_id": ids,
        "text": [texts[i] for i in ids],
        "lang": ["en"] * len(ids),
        "source": ["s"] * len(ids),
        "n_chars": [len(texts[i]) for i in ids],
    }
    pq.write_table(pa.table(rows), tmp_path / "documents.parquet")

    from doc2vec_spark.operators.domain import QUERIES

    spec = QUERIES["doc_hybrid_search_rrf"]
    engine, e_cols = _normalize(spec.fn(spark, str(tmp_path)).toPandas())
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path / 'documents.parquet'}'"
    )
    oracle, o_cols = _normalize(con.sql(spec.oracle).df())
    assert e_cols == o_cols
    assert engine == oracle


# ---------------------------------------------------------------------------
# train_cache per-entry-file layout (VERDICT r16 #4) + shared validators
# (ADVICE r16 #1/#2)
# ---------------------------------------------------------------------------


def test_train_cache_two_writers_lose_nothing(tmp_path, monkeypatch):
    """The r16 single-JSON layout read-merge-wrote the whole store, so two
    concurrent writers could drop each other's entry. Per-entry files make
    every put an independent atomic replace: after two threads write
    disjoint key sets concurrently, EVERY entry is present."""
    import threading

    from doc2vec_spark import train_cache

    monkeypatch.setenv(train_cache.CACHE_ENV, str(tmp_path / "tc"))
    per_writer = train_cache.MAX_ENTRIES // 2  # stay inside the bound

    def writer(tag):
        for i in range(per_writer):
            train_cache.put("km", (tag, i), [tag, i])

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for tag in ("a", "b"):
        for i in range(per_writer):
            assert train_cache.get("km", (tag, i)) == [tag, i], (tag, i)


def test_train_cache_entry_key_verified_on_read(tmp_path, monkeypatch):
    """Each entry file records its full logical key; a mismatch (hand edit,
    hash-prefix collision) reads as absent — never the wrong artifact."""
    from doc2vec_spark import train_cache

    monkeypatch.setenv(train_cache.CACHE_ENV, str(tmp_path / "tc"))
    train_cache.put("km", ("x",), [1])
    p = train_cache._entry_path(tmp_path / "tc", "km:('x',)")
    assert train_cache.get("km", ("x",)) == [1]
    import json

    payload = json.loads(p.read_text())
    payload["k"] = "km:('other',)"
    p.write_text(json.dumps(payload))
    assert train_cache.get("km", ("x",)) is None
    p.write_text("{not json")  # corrupt file also reads as absent
    assert train_cache.get("km", ("x",)) is None


def test_train_cache_eviction_bound_on_files(tmp_path, monkeypatch):
    """Same MAX_ENTRIES bound as r16, now enforced as an oldest-mtime file
    sweep; a vanished file mid-eviction is skipped, not raised."""
    import os

    from doc2vec_spark import train_cache

    root = tmp_path / "tc"
    monkeypatch.setenv(train_cache.CACHE_ENV, str(root))
    for i in range(train_cache.MAX_ENTRIES + 5):
        train_cache.put("km", ("k", i), [i])
        # distinct mtimes so "oldest" is well-defined on coarse filesystems
        p = train_cache._entry_path(root, f"km:{('k', i)!r}")
        os.utime(p, (i, i))
    train_cache.put("km", ("fresh",), [99])
    files = list(root.glob("*.json"))
    assert len(files) <= train_cache.MAX_ENTRIES
    assert train_cache.get("km", ("fresh",)) == [99]
    assert train_cache.get("km", ("k", 0)) is None  # oldest gone


@pytest.mark.parametrize(
    "fn,val,ok",
    [
        ("finite_components", [1, 2.5], [1.0, 2.5]),
        ("finite_components", ["1.5"], None),  # numeric string rejected
        ("finite_components", [True], None),
        ("finite_components", [float("inf")], None),
        ("finite_components", [float("nan")], None),
        ("finite_components", [], None),
        ("integer_components", [1, -2], [1, -2]),
        ("integer_components", [1.0], None),  # float means not-our-writer
        ("integer_components", [float("inf")], None),  # r16 OverflowError shape
        ("integer_components", ["5"], None),
        ("integer_components", [True], None),
        ("cell_id", "7", 7),
        ("cell_id", 99, 99),
        ("cell_id", 100, None),  # %100 packing cap
        ("cell_id", -1, None),
        ("cell_id", "-1", None),
        ("cell_id", "07x", None),
        ("cell_id", True, None),
        # r17 review: str.isdigit() alone accepts unicode digits — int()
        # RAISES on '²' (superscript two) and silently normalizes
        # '٧' (Arabic-Indic 7) to a key we never wrote
        ("cell_id", "²", None),
        ("cell_id", "٧", None),
        ("cell_id", " 7", None),
        ("cell_id", "+7", None),
    ],
)
def test_shared_validators(fn, val, ok):
    from doc2vec_spark import train_cache

    assert getattr(train_cache, fn)(val) == ok


def test_kmeans_hit_survives_infinity_payload(spark, tmp_path, monkeypatch):
    """ADVICE r16 #1 exactly: a JSON ``Infinity`` component used to raise
    OverflowError inside int() on the query path; it must read as absent
    and retrain."""
    from doc2vec_spark import train_cache
    from doc2vec_spark.operators import kmeans as km
    from doc2vec_spark.operators.coreset import dataset_fingerprint

    monkeypatch.setenv(train_cache.CACHE_ENV, str(tmp_path / "tc"))
    train_cache.clear()
    kd = train_cache.module_digest("doc2vec_spark.operators.kmeans")
    from tests.conftest import SF_DIR

    key = (SF_DIR, dataset_fingerprint(SF_DIR), km.KM_K, km.KM_ITERS) + (kd,)
    for bad in (
        {"0": [float("inf")]},          # the OverflowError crash shape
        {"0": [1.5]},                   # non-integer component
        {"0": ["5"]},                   # numeric string
        {"150": [1]},                   # cell id past the %100 packing cap
        {"-1": [1]},                    # negative cell id
    ):
        train_cache.put("km", key, bad)
        cents = km.train_kmeans(spark, SF_DIR)  # retrains, no crash
        assert cents and all(isinstance(v[0], int) for v in cents.values())
        train_cache.clear()


def test_index_store_validator_is_the_shared_one(tmp_path):
    """index_store and train_cache must enforce ONE value discipline
    (ADVICE r16 #2): every corrupt payload below is rejected both by
    AnnIndexStore.load/load_pq and by the disk tier's decoder for the same
    shape, and a valid payload decodes identically on both planes."""
    import json

    from doc2vec_spark import train_cache
    from doc2vec_spark.index_store import INDEX_KEY, PQ_KEY, AnnIndexStore

    tok = ("v", 1)
    ixs = AnnIndexStore(str(tmp_path / "kv.json"))

    def via_store(kv_key, field, payload):
        ixs.kv.put(kv_key, json.dumps({"version": repr(tok), field: payload}))
        return ixs.load(tok) if kv_key == INDEX_KEY else ixs.load_pq(tok)

    def centroids(p):
        return train_cache.decode_centroids(p, train_cache.finite_components)

    bad_centroids = [
        "abc", [], {}, {"0": "abc"}, {"0": []}, {"0": [True]}, {"0": ["1.5"]},
        {"0": [float("inf")]}, {"x": [1.0]}, {"100": [1.0]}, {"-1": [1.0]},
        {" 7": [1.0]}, {"+7": [1.0]}, {"7_0": [1.0]}, {"²": [1.0]},
        {"7": [1.0], "07": [2.0]},  # two keys alias one cell id
    ]
    for bad in bad_centroids:
        assert via_store(INDEX_KEY, "centroids", bad) is None, bad
        assert centroids(bad) is None, bad
        # the k-means disk tier's variant of the same decoder
        assert train_cache.decode_centroids(bad, train_cache.integer_components) is None
    bad_codebooks = [
        "abc", [], [[]], [["abc"]], [[[0.1, "x"]]], [[[0.1]], "not-a-subspace"],
        [[[float("nan")]]], [[[True]]], [5], {"0": [[0.1]]},
    ]
    for bad in bad_codebooks:
        assert via_store(PQ_KEY, "codebooks", bad) is None, bad
        assert train_cache.decode_codebooks(bad) is None, bad
    good = {"3": [0.5, -0.25], "0": [1, 2.0]}
    assert via_store(INDEX_KEY, "centroids", good) == centroids(good)
    assert centroids(good) == {3: [0.5, -0.25], 0: [1.0, 2.0]}
    cbs = [[[0.1, 0.2]], [[0.3, 0.4]]]
    assert via_store(PQ_KEY, "codebooks", cbs) == train_cache.decode_codebooks(cbs)
    assert train_cache.decode_codebooks(cbs) == cbs


# ---------------------------------------------------------------------------
# ingest-time key-uniqueness gate (VERDICT r16 #8)
# ---------------------------------------------------------------------------


def test_upsert_rejects_duplicate_chunk_keys(spark, tmp_path):
    """The r16 dup-PK probe showed duplicated keys fanning silently through
    14 downstream queries; the DECIDED contract makes ingest the enforcement
    point (the reference's url-keyed upsert cannot represent duplicates,
    database.ts:339-472). A batch with a duplicated (url, chunk_index) must
    be rejected whole — nothing ingested — and a clean batch still lands."""
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding_native import with_embeddings_native
    from doc2vec_spark.store import ChunkStore

    store = ChunkStore(spark, str(tmp_path / "chunks"), num_buckets=4)
    docs = spark.createDataFrame(
        [("https://d/a", "doc a body", "p", "1"), ("https://d/b", "doc b body", "p", "1")],
        "url string, markdown string, product_name string, version string",
    )
    good = with_embeddings_native(chunk_documents(docs))
    store.upsert_documents(good)
    n = store.count()
    assert n > 0

    dup = good.filter(F.col("url") == "https://d/b").unionByName(
        good.filter(F.col("url") == "https://d/b")
    )  # same (url, chunk_index) twice — the planted duplicate
    with pytest.raises(ValueError, match="duplicate chunk keys"):
        store.upsert_documents(dup)
    assert store.count() == n  # rejected batch ingested NOTHING
    # the gate lives in apply() itself (r17 review: sync.sync_documents
    # commits through apply, not the upsert wrapper — a wrapper-only gate would
    # let the main ingest path bypass the contract)
    with pytest.raises(ValueError, match="duplicate chunk keys"):
        store.apply(dup, None)
    assert store.count() == n


def test_dupkey_dataset_builder_shape(tmp_path):
    """The fifth sweep mode's corpus: the doc_id 0/7 rows appear exactly
    twice, everything else once, non-documents tables byte-identical."""
    import sys
    from pathlib import Path

    import pyarrow.parquet as pq

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import degenerate_sweep as ds

    out = ds.build_dataset("dupkey")
    src = pq.read_table(f"{ds.SRC_SF}/documents.parquet")
    new = pq.read_table(str(out / "documents.parquet"))
    assert new.num_rows == src.num_rows + 2
    assert new.schema.equals(src.schema)
    from collections import Counter

    counts = Counter(new.column("doc_id").to_pylist())
    assert counts[0] == 2 and counts[7] == 2
    assert all(v == 1 for k, v in counts.items() if k not in (0, 7))
    emb_src = pq.read_table(f"{ds.SRC_SF}/embeddings.parquet")
    emb_new = pq.read_table(str(out / "embeddings.parquet"))
    assert emb_new.equals(emb_src)


# ---------------------------------------------------------------------------
# validator total-function properties: the reads-as-absent contract means
# NEVER RAISE, on any JSON-decodable input whatsoever
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _json_scalars = (
        st.none()
        | st.booleans()
        | st.integers()
        | st.floats(allow_nan=True, allow_infinity=True)
        | st.text()
    )
    _json_values = st.recursive(
        _json_scalars,
        lambda child: st.lists(child, max_size=4)
        | st.dictionaries(st.text(max_size=8), child, max_size=4),
        max_leaves=12,
    )

    @given(_json_values)
    @settings(max_examples=300, deadline=None)
    def test_validators_are_total_functions(v):
        """Any corrupt payload shape must map to a value or None — an
        exception here IS the r16 OverflowError bug class."""
        from doc2vec_spark import train_cache

        for fn in (
            train_cache.finite_components,
            train_cache.integer_components,
            train_cache.cell_id,
        ):
            out = fn(v)  # must not raise
            assert out is None or isinstance(out, (int, list))

    @given(st.text(max_size=12))
    @settings(max_examples=300, deadline=None)
    def test_cell_id_on_text_never_raises_and_roundtrips(s):
        from doc2vec_spark import train_cache

        out = train_cache.cell_id(s)
        if out is not None:  # accepted keys are canonical ASCII decimals
            assert 0 <= out < train_cache.CELL_ID_CAP
            assert s.isascii() and s.isdigit() and int(s) == out

except ImportError:  # hypothesis is baked into this env; belt and braces
    pass
