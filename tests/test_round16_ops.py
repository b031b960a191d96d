"""Round-16 behavioral tests: PQ-codebook persistence
(index_store.ensure_pq_codebooks — VERDICT r15 #3), value-level
index-store validation and the caller-frame persistence bypass (ADVICE
r14 #1/#3 via VERDICT r15 #4), the cross-session trained-quantizer disk
tier (train_cache.py), and the unigram piece-cost broadcast-join plan
assertion promised by test_round15_ops's docstring.
"""

from __future__ import annotations

import json

import pytest

from tests.conftest import SF_DIR


def _sync_store(spark, tmp_path, markdowns):
    from doc2vec_spark.store import ChunkStore
    from doc2vec_spark.sync import sync_documents

    store = ChunkStore(spark, str(tmp_path / "chunks"))
    docs = spark.createDataFrame(
        [(f"https://d/{i}", md, "prod", "1.0") for i, md in enumerate(markdowns)],
        "url string, markdown string, product_name string, version string",
    )
    sync_documents(spark, store, docs)
    return store


# ---------------------------------------------------------------------------
# PQ-codebook persistence (the seam serving.train_chunk_pq_codebooks
# documents; reference parity: database.ts:36-52 persists the whole index)
# ---------------------------------------------------------------------------


def test_pq_codebooks_persist_and_serve_without_retraining(
    spark, tmp_path, monkeypatch
):
    """A fresh consumer over the same KV path must LOAD the trained
    codebooks, never retrain (the BENCH_r15 8.6 s first-rep stall); a
    rewrite of the chunk data moves the version token and retrains."""
    from doc2vec_spark import index_store as ixs_mod
    from doc2vec_spark.index_store import AnnIndexStore, ensure_pq_codebooks
    from doc2vec_spark.operators import serving
    from doc2vec_spark.sync import sync_documents

    bodies = [f"# D{i}\ndocumentation paragraph about topic {i}. " * 25 for i in range(6)]
    store = _sync_store(spark, tmp_path, bodies)
    kv_path = str(tmp_path / "sync_state.json")

    cbs1 = ensure_pq_codebooks(store, AnnIndexStore(kv_path))
    assert cbs1 and all(isinstance(w[0], float) for m in cbs1 for w in m)

    def _no_train(*a, **k):
        raise AssertionError("retrained despite current persisted codebooks")

    monkeypatch.setattr(serving, "train_chunk_pq_codebooks", _no_train)
    cbs2 = ensure_pq_codebooks(store, AnnIndexStore(kv_path))
    assert cbs2 == cbs1
    monkeypatch.undo()

    docs2 = spark.createDataFrame(
        [
            (f"https://d/{i}", f"# D{i}\nreplaced corpus text {i}. " * 30, "prod", "2.0")
            for i in range(6)
        ],
        "url string, markdown string, product_name string, version string",
    )
    sync_documents(spark, store, docs2)
    assert AnnIndexStore(kv_path).load_pq(store.version_token()) is None
    cbs3 = ensure_pq_codebooks(store, AnnIndexStore(kv_path))
    assert cbs3 != cbs1
    assert AnnIndexStore(kv_path).load_pq(store.version_token()) == cbs3


def test_pq_and_coarse_persist_side_by_side(spark, tmp_path):
    """One KV file holds both quantizers under independent keys; invalidate
    clears both."""
    from doc2vec_spark.index_store import (
        AnnIndexStore,
        ensure_chunk_ann_index,
        ensure_pq_codebooks,
    )

    store = _sync_store(
        spark, tmp_path, [f"# D{i}\ncorpus text {i}. " * 25 for i in range(4)]
    )
    ixs = AnnIndexStore(str(tmp_path / "kv.json"))
    idx = ensure_chunk_ann_index(store, ixs)
    cbs = ensure_pq_codebooks(store, ixs)
    tok = store.version_token()
    assert ixs.load(tok) == idx and ixs.load_pq(tok) == cbs
    ixs.invalidate()
    assert ixs.load(tok) is None and ixs.load_pq(tok) is None


def test_caller_frame_bypasses_persistence(spark, tmp_path, monkeypatch):
    """ADVICE r14 #3: a caller-supplied chunks frame has no verifiable
    derivation from the committed store — it must neither read nor write
    the persisted index (a mispaired index would become 'current' for
    every later session)."""
    from doc2vec_spark.index_store import (
        AnnIndexStore,
        ensure_chunk_ann_index,
        ensure_pq_codebooks,
    )

    store = _sync_store(
        spark, tmp_path, [f"# D{i}\nsome corpus text {i}. " * 25 for i in range(4)]
    )
    ixs = AnnIndexStore(str(tmp_path / "kv.json"))
    # a filtered frame — NOT the committed chunk set
    subset = store.read().limit(2)
    idx = ensure_chunk_ann_index(store, ixs, chunks=subset)
    cbs = ensure_pq_codebooks(store, ixs, chunks=subset)
    assert idx and cbs
    # nothing persisted under the committed token
    tok = store.version_token()
    assert ixs.load(tok) is None and ixs.load_pq(tok) is None
    # and a persisted full-store index is NOT served to a caller frame:
    full = ensure_chunk_ann_index(store, ixs)
    assert ixs.load(tok) == full
    from doc2vec_spark.operators import serving

    calls = []
    real = serving.build_chunk_ann_index
    monkeypatch.setattr(
        serving, "build_chunk_ann_index", lambda f: calls.append(1) or real(f)
    )
    ensure_chunk_ann_index(store, ixs, chunks=subset)
    assert calls, "caller frame must train fresh, not read the persisted index"


# ---------------------------------------------------------------------------
# value-level load validation (ADVICE r14 #1): corrupt payloads read as
# absent — never load, never crash later inside cell_assignment_col
# ---------------------------------------------------------------------------


def _kv_with(tmp_path, key, payload):
    from doc2vec_spark.index_store import AnnIndexStore

    ixs = AnnIndexStore(str(tmp_path / "kv.json"))
    ixs.kv.put(key, json.dumps(payload))
    return ixs


@pytest.mark.parametrize(
    "cents",
    [
        {"0": "abc"},  # list("abc") passed the r14 shape check
        {"0": [0.1, "x"]},  # non-numeric component
        {"0": [0.1, float("inf")] if True else None},  # non-finite
        {"0": []},  # empty vector
        {"0": [0.1, True]},  # bool masquerading as a number
        {"101": [0.1, 0.2]},  # cell id outside the %100 packing range
        {"-1": [0.1, 0.2]},
        {"x": [0.1, 0.2]},  # non-int cell key
        {},  # empty centroid map
    ],
)
def test_corrupt_centroid_values_read_as_absent(tmp_path, cents):
    from doc2vec_spark.index_store import INDEX_KEY, _token_str

    tok = ("v", 1)
    ixs = _kv_with(
        tmp_path, INDEX_KEY, {"version": _token_str(tok), "centroids": cents}
    )
    assert ixs.load(tok) is None


def test_nan_centroid_reads_as_absent(tmp_path):
    # NaN survives json round-trips as a non-finite float
    from doc2vec_spark.index_store import AnnIndexStore, INDEX_KEY, _token_str

    ixs = AnnIndexStore(str(tmp_path / "kv.json"))
    tok = ("v", 1)
    ixs.kv.put(
        INDEX_KEY,
        '{"version": %s, "centroids": {"0": [NaN, 0.2]}}'
        % json.dumps(_token_str(tok)),
    )
    assert ixs.load(tok) is None


@pytest.mark.parametrize(
    "cbs",
    [
        "abc",
        [],
        [[]],
        [["abc"]],
        [[[0.1, "x"]]],
        [[[0.1]], "not-a-subspace"],
    ],
)
def test_corrupt_pq_payloads_read_as_absent(tmp_path, cbs):
    from doc2vec_spark.index_store import PQ_KEY, _token_str

    tok = ("v", 1)
    ixs = _kv_with(
        tmp_path, PQ_KEY, {"version": _token_str(tok), "codebooks": cbs}
    )
    assert ixs.load_pq(tok) is None


def test_valid_payload_still_loads(tmp_path):
    from doc2vec_spark.index_store import AnnIndexStore

    ixs = AnnIndexStore(str(tmp_path / "kv.json"))
    tok = ("v", 7)
    ixs.save({3: [0.5, -0.25], 0: [1.0, 2.0]}, tok)
    ixs.save_pq([[[0.1, 0.2]], [[0.3, 0.4]]], tok)
    assert ixs.load(tok) == {0: [1.0, 2.0], 3: [0.5, -0.25]}
    assert ixs.load_pq(tok) == [[[0.1, 0.2]], [[0.3, 0.4]]]
    assert ixs.load(("other", 1)) is None  # stale-by-commit unchanged


# ---------------------------------------------------------------------------
# cross-session trained-quantizer disk tier (train_cache.py)
# ---------------------------------------------------------------------------


def test_train_cache_round_trip_and_eviction(tmp_path, monkeypatch):
    from doc2vec_spark import train_cache

    path = tmp_path / "cache"  # r17: a DIRECTORY of per-entry files
    monkeypatch.setenv(train_cache.CACHE_ENV, str(path))
    assert train_cache.get("km", ("a",)) is None
    train_cache.put("km", ("a",), {"0": [1, 2]})
    assert train_cache.get("km", ("a",)) == {"0": [1, 2]}
    # kind separates namespaces
    assert train_cache.get("pq", ("a",)) is None
    # eviction keeps the most recent MAX_ENTRIES (oldest-mtime swept; give
    # each entry a distinct mtime so "oldest" is filesystem-independent)
    import os

    os.utime(train_cache._entry_path(path, "km:('a',)"), (1, 1))
    for i in range(train_cache.MAX_ENTRIES + 5):
        train_cache.put("km", ("k", i), [i])
        os.utime(train_cache._entry_path(path, f"km:{('k', i)!r}"), (i + 2, i + 2))
    assert train_cache.get("km", ("a",)) is None  # oldest evicted
    assert train_cache.get("km", ("k", train_cache.MAX_ENTRIES + 4)) == [
        train_cache.MAX_ENTRIES + 4
    ]
    # corrupt entry file reads as absent, then heals on the next put
    key = ("k", train_cache.MAX_ENTRIES + 3)
    train_cache._entry_path(path, f"km:{key!r}").write_text("{not json")
    assert train_cache.get("km", key) is None
    train_cache.put("km", ("z",), [9])
    assert train_cache.get("km", ("z",)) == [9]
    # empty env value disables the tier
    monkeypatch.setenv(train_cache.CACHE_ENV, "")
    train_cache.put("km", ("d",), [1])
    assert train_cache.get("km", ("d",)) is None


def test_trained_quantizers_served_from_disk_in_fresh_process_state(
    spark, tmp_path, monkeypatch
):
    """Simulate a fresh session: clear the in-process memos, point the disk
    tier at a private file, train once, clear memos again, and prove the
    second call does not run the Lloyd loop (sample collection raises)."""
    from doc2vec_spark import train_cache
    from doc2vec_spark.operators import kmeans as km
    from doc2vec_spark.operators import serving as sv

    monkeypatch.setenv(train_cache.CACHE_ENV, str(tmp_path / "tc.json"))
    train_cache.clear()
    cents1 = km.train_kmeans(spark, SF_DIR)
    cbs1 = sv.train_pq_codebooks(spark, SF_DIR)
    assert cents1 and cbs1

    def _no_sample(*a, **k):
        raise AssertionError("retrained despite a current disk-tier entry")

    train_cache.clear()
    monkeypatch.setattr(km, "_sample_e", _no_sample)
    assert km.train_kmeans(spark, SF_DIR) == cents1
    assert sv.train_pq_codebooks(spark, SF_DIR) == cbs1


def test_disk_tier_key_carries_the_spec_digest(spark, tmp_path, monkeypatch):
    """Both staleness sources must MISS: an algorithm edit (different
    module digest) on disk, and a same-path rewrite of the data in the
    same process (the key's dataset fingerprint moves). A stale trained
    artifact served across either would silently diverge from the
    oracle."""
    from doc2vec_spark import train_cache

    monkeypatch.setenv(train_cache.CACHE_ENV, str(tmp_path / "tc.json"))
    d1 = train_cache.module_digest("doc2vec_spark.operators.kmeans")
    # the digest folds the spec-hash closure digest (what the driver-stamp
    # discipline reopens on) WITH the universal-module stamp: closure
    # digests deliberately exclude tables/session/spec/caching, but a
    # loader edit changes training inputs, so the disk key must move too
    from doc2vec_spark import spec_hashes

    closure = spec_hashes._closure_digests()["doc2vec_spark.operators.kmeans"]
    assert d1 == closure + ":" + spec_hashes.universal_hash()
    train_cache.put("km", ("sf", "fp", d1), {"0": [1]})
    assert train_cache.get("km", ("sf", "fp", "other-digest")) is None
    # unknown module: digest falls back to the dotted name (still a key,
    # still universal-stamped)
    assert train_cache.module_digest("not.a.module").startswith("not.a.module:")

    # end to end through train_kmeans on a private copy of the table, with
    # the part file one level down (the store's directory layout)
    import shutil

    import pyarrow.parquet as pq

    from doc2vec_spark.operators import kmeans as km

    sf = tmp_path / "sf"
    part = sf / "embeddings.parquet" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    shutil.copy(f"{SF_DIR}/embeddings.parquet", part)
    trained = []
    real = km._lloyd
    monkeypatch.setattr(km, "_lloyd", lambda *a: trained.append(1) or real(*a))
    first = km.train_kmeans(spark, str(sf))
    assert km.train_kmeans(spark, str(sf)) == first and len(trained) == 1
    pq.write_table(pq.read_table(part).slice(1), part)  # in place, same path
    km.train_kmeans(spark, str(sf))
    assert len(trained) == 2  # the memo missed: retrained on the new data


def test_value_corrupt_disk_entries_fall_through_to_retrain(
    spark, tmp_path, monkeypatch
):
    """A valid-JSON cache entry with wrong-typed values must read as
    absent (retrain), never raise into the query path (round-16 review:
    the index_store value-validation lesson applies to this tier too)."""
    from doc2vec_spark import train_cache
    from doc2vec_spark.operators import kmeans as km
    from doc2vec_spark.operators import serving as sv

    monkeypatch.setenv(train_cache.CACHE_ENV, str(tmp_path / "tc.json"))
    train_cache.clear()
    kd = train_cache.module_digest("doc2vec_spark.operators.kmeans")
    sd = train_cache.module_digest("doc2vec_spark.operators.serving")
    from doc2vec_spark.operators.coreset import dataset_fingerprint
    from doc2vec_spark.operators.kmeans import KM_ITERS, KM_K
    from doc2vec_spark.operators.similarity import PQ_K, PQ_M

    fp = dataset_fingerprint(SF_DIR)
    km_key = (SF_DIR, fp, KM_K, KM_ITERS) + (kd,)
    pq_key = (SF_DIR, fp, PQ_M, PQ_K, sv.PQ_TRAIN_ITERS) + (sd,)
    for bad in ({"0": "abc"}, {"0": 5}, {"x": [1]}, {"0": []}):
        train_cache.put("km", km_key, bad)
        cents = km.train_kmeans(spark, SF_DIR)  # retrains, no crash
        assert cents and all(isinstance(v[0], int) for v in cents.values())
        train_cache.clear()
    for bad in ("abc", [[]], [["ab"]], [[[1, "x"]]], [5]):
        train_cache.put("pq", pq_key, bad)
        cbs = sv.train_pq_codebooks(spark, SF_DIR)  # retrains, no crash
        assert cbs and isinstance(cbs[0][0][0], float)
        train_cache.clear()


# ---------------------------------------------------------------------------
# unigram piece-cost broadcast plan (the r15 fix: alphabet-sized map
# literal -> broadcast hash join; promised by test_round15_ops's docstring)
# ---------------------------------------------------------------------------


def test_unigram_segment_plans_a_broadcast_piece_cost_join(spark):
    from doc2vec_spark.registry import all_queries

    df = all_queries()["ta_unigram_segment"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the old shape carried a vocab-sized map literal into codegen; the
    # plan string stays bounded now (no thousand-entry literal dump)
    assert len(plan) < 200_000


def test_train_cache_round_trips_arbitrary_json_values(tmp_path, monkeypatch):
    """Hypothesis property: any JSON-representable artifact survives
    put/get bitwise (the disk tier's 'hit is bitwise the retrain result'
    claim rests on exact JSON float round-trips)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from doc2vec_spark import train_cache

    monkeypatch.setenv(train_cache.CACHE_ENV, str(tmp_path / "tc.json"))

    leaf = st.one_of(
        st.integers(min_value=-(2**53), max_value=2**53),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(max_size=8),
    )
    value = st.one_of(
        st.lists(st.lists(leaf, max_size=4), max_size=4),
        st.dictionaries(st.text(max_size=6), st.lists(leaf, max_size=4), max_size=4),
    )

    @settings(max_examples=60, deadline=None)
    @given(v=value, key_i=st.integers(min_value=0, max_value=5))
    def prop(v, key_i):
        train_cache.put("km", ("prop", key_i), v)
        assert train_cache.get("km", ("prop", key_i)) == v

    prop()


def test_blanktext_dataset_builder_shape(tmp_path):
    """The fourth sweep mode's corpus: same row count and schema as the
    source, every text degenerate, probe anchors still present."""
    import sys
    from pathlib import Path

    import pyarrow.parquet as pq

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import degenerate_sweep as ds

    out = ds.build_dataset("blanktext")
    src = pq.read_table(f"{ds.SRC_SF}/documents.parquet")
    new = pq.read_table(str(out / "documents.parquet"))
    assert new.num_rows == src.num_rows
    assert new.schema.equals(src.schema)
    texts = set(new.column("text").to_pylist())
    assert texts <= {"", "   ", " \n\t ", "x"}
    ids = set(new.column("doc_id").to_pylist())
    assert 0 in ids and 7 in ids  # probe anchors intact
    # non-documents tables are byte-identical copies
    emb_src = pq.read_table(f"{ds.SRC_SF}/embeddings.parquet")
    emb_new = pq.read_table(str(out / "embeddings.parquet"))
    assert emb_new.equals(emb_src)
