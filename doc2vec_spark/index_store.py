"""Persisted ANN index lifecycle (VERDICT r13 #2).

The reference persists its vector index IN the store itself and rebuilds it
per sync (``database.ts:36-52`` creates the vec0 table beside the chunks;
``database.ts:89-94`` builds the Qdrant collection once and every query
probes it). Round 13's serving API only had an in-session memo keyed on the
chunk frame's plan semantic hash — a plan-identical rewrite of the
underlying files served stale centroids (documented, not enforced), and a
new session retrained from scratch.

This module closes both holes by storing the trained coarse-quantizer
centroids beside the sync watermarks:

- ``AnnIndexStore`` serializes the k x dim centroid floats into the same
  atomic-replace JSON KV the sync watermarks use (``SyncStateStore``), keyed
  by the ``ChunkStore.version_token()`` of the chunk data they were trained
  on. JSON float round-trips are exact (repr-based), so a reloaded index is
  bitwise the trained one.
- Staleness is INVALIDATION BY COMMIT, not by plan identity: every
  ``ChunkStore.apply`` bumps the manifest counter, so the token of a
  rewritten store never matches and ``load`` refuses to serve the old
  centroids — the same advance-on-success discipline the watermarks follow
  (W3/W4): an index version only becomes current when the sync that built
  it committed.
- ``ensure_chunk_ann_index`` is the build-once/probe-per-query seam: load
  if current, else train on the committed chunks and persist. A new
  SparkSession (or process) loads without retraining; a rewrite under the
  SAME logical plan retrains because the token moved.
- ``ensure_pq_codebooks`` (round 16) is the product-quantizer sibling:
  the M x K x SUB trained codeword floats persist under the same version
  token beside the coarse centroids, so a fresh session serves trained-PQ
  ADC scans without re-paying the per-subspace Lloyd loop.

At 100 TB the payload is still k * dim floats (tiny, driver-side); the
expensive artifact it guards — the per-row cell assignment — is persisted
as a partition/bucket column at ingest (serving.cell_assignment_col), and
this token discipline is exactly what tells a deployment when that column
must be recomputed.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from doc2vec_spark.store import ChunkStore, SyncStateStore
from doc2vec_spark.train_cache import (
    decode_centroids,
    decode_codebooks,
    finite_components,
)

INDEX_KEY = "ann_index"
PQ_KEY = "ann_pq_codebooks"


def _token_str(version_token: tuple) -> str:
    return repr(version_token)


class AnnIndexStore:
    """Trained-quantizer persistence beside the sync watermarks. One JSON
    KV entry: {"version": <store version token>, "centroids": {cell: [f]}}."""

    def __init__(self, path: str):
        self.kv = SyncStateStore(path)

    def save(self, index: dict[int, list[float]], version_token: tuple) -> None:
        payload = {
            "version": _token_str(version_token),
            "centroids": {str(c): list(v) for c, v in sorted(index.items())},
        }
        self.kv.put(INDEX_KEY, json.dumps(payload))

    def _load(self, kv_key: str, field: str, version_token: tuple):
        """The raw ``field`` of the entry trained on this committed version,
        else None; a non-JSON or non-object payload reads as absent. The
        caller decodes the field with the train_cache decoder for its
        shape."""
        raw = self.kv.get(kv_key)
        try:
            payload = None if raw is None else json.loads(raw)
        except ValueError:
            return None
        if not isinstance(payload, dict):
            return None
        if payload.get("version") != _token_str(version_token):
            return None
        return payload.get(field)

    def load(self, version_token: tuple) -> dict[int, list[float]] | None:
        """The persisted index, or None when absent, value-corrupt or
        trained on a different committed version of the chunk data
        (stale-by-commit)."""
        return decode_centroids(
            self._load(INDEX_KEY, "centroids", version_token), finite_components
        )

    def save_pq(
        self, codebooks: list[list[list[float]]], version_token: tuple
    ) -> None:
        """Persist trained PQ codebooks ([m][j][sub] floats) under the same
        commit-version discipline as the coarse centroids. The reference
        persists its entire index structure in the store
        (database.ts:36-52); splitting the key lets a deployment train the
        two quantizers in either order while one atomic-replace KV holds
        both."""
        payload = {
            "version": _token_str(version_token),
            "codebooks": [[list(w) for w in m_] for m_ in codebooks],
        }
        self.kv.put(PQ_KEY, json.dumps(payload))

    def load_pq(self, version_token: tuple) -> list[list[list[float]]] | None:
        """The persisted PQ codebooks, or None when absent, stale-by-commit,
        or value-corrupt (same corrupt-reads-as-absent contract as load)."""
        return decode_codebooks(self._load(PQ_KEY, "codebooks", version_token))

    def invalidate(self) -> None:
        self.kv.delete(INDEX_KEY)
        self.kv.delete(PQ_KEY)


def ensure_chunk_ann_index(
    store: ChunkStore,
    index_store: AnnIndexStore,
    chunks: DataFrame | None = None,
) -> dict[int, list[float]]:
    """Build-once / probe-per-query: return the persisted index if it was
    trained on the store's CURRENT committed version, else train on the
    committed chunks (or the caller's ``chunks`` frame over them) and
    persist under that version token. Pass the result as ``index=`` to
    serving.query_documentation_routed — the plan-hash memo is then never
    consulted, so rewrites can't serve stale centroids.

    A caller-supplied ``chunks`` frame has no verifiable derivation from the
    store's committed data (it may be filtered, stale, or unrelated), so it
    BYPASSES persistence entirely — trains fresh, loads nothing, saves
    nothing (ADVICE r14: a mispaired index persisted under the committed
    token would become "current" for every later session)."""
    from doc2vec_spark.operators.serving import build_chunk_ann_index

    if chunks is not None:
        return build_chunk_ann_index(chunks)
    token = store.version_token()
    cached = index_store.load(token)
    if cached is not None:
        return cached
    index = build_chunk_ann_index(store.read())
    # empty store -> empty index: return it (the routed API falls through
    # to the exact scan on a falsy index) but persist nothing — there is
    # no training to reuse, and a later non-empty sync must retrain anyway
    if not index:
        return index
    # the sync that commits DURING training moves the token; persisting the
    # fresh centroids under the PRE-training token would mispair them with
    # the old committed data (review r14 TOCTOU). Save only when the commit
    # state is unchanged; the caller still gets the index either way, and
    # the next call retrains against the new commit.
    if store.version_token() == token:
        index_store.save(index, token)
    return index


def ensure_pq_codebooks(
    store: ChunkStore,
    index_store: AnnIndexStore,
    chunks: DataFrame | None = None,
) -> list[list[list[float]]]:
    """The PQ sibling of ensure_chunk_ann_index (the seam
    serving.train_chunk_pq_codebooks documents): return the persisted
    codebooks if trained on the store's CURRENT committed version, else
    train on the committed chunks and persist under that version token.
    Same contracts: caller-supplied frames bypass persistence, empty
    corpora return [] without persisting, and the TOCTOU re-check refuses
    to pair fresh codebooks with a token that moved during training. A new
    SparkSession serves trained-PQ without re-paying the per-subspace
    Lloyd loop (the BENCH_r15 8.6 s first-rep stall)."""
    from doc2vec_spark.operators.serving import train_chunk_pq_codebooks

    if chunks is not None:
        return train_chunk_pq_codebooks(chunks)
    token = store.version_token()
    cached = index_store.load_pq(token)
    if cached is not None:
        return cached
    cbs = train_chunk_pq_codebooks(store.read())
    if not cbs:
        return cbs
    if store.version_token() == token:
        index_store.save_pq(cbs, token)
    return cbs
