"""Reference answers computed outside Spark.

``ChunkModel`` holds what the store must contain for the current corpus:
``chunking.chunk_markdown`` run over every page in plain Python, and each
chunk's ``embedding.embed_text`` vector. ``exact_topk`` is the exact
cosine top-k over those rows in numpy, using the same left-to-right double
fold as the engine's distance expression, so distances agree bit for bit
and the ordering (distance, chunk_id, url, chunk_index) is exact.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np


@dataclass
class _Chunk:
    chunk_id: str
    chunk_index: int
    total_chunks: int
    content: str


class ChunkModel:
    def __init__(self, url_of):
        """``url_of(path)``: corpus-relative path -> the url the source
        scan gives that file."""
        from doc2vec_spark.chunking import chunk_markdown
        from doc2vec_spark.embedding import embed_text

        self._chunk = chunk_markdown
        self._embed = embed_text
        self._url_of = url_of
        self.by_url: dict[str, list[_Chunk]] = {}
        self._vecs: dict[str, np.ndarray] = {}
        self._arrays = None

    def set_pages(self, pages: dict[str, str]) -> None:
        for path, text in pages.items():
            url = self._url_of(path)
            chunks = [
                _Chunk(c.chunk_id, c.chunk_index, c.total_chunks, c.content)
                for c in self._chunk(text)
            ]
            self.by_url[url] = chunks
            self._vecs[url] = np.array(
                [self._embed(c.content) for c in chunks], dtype=np.float32
            ).reshape(len(chunks), -1)
        self._arrays = None

    def drop_pages(self, paths) -> None:
        for p in paths:
            url = self._url_of(p)
            self.by_url.pop(url, None)
            self._vecs.pop(url, None)
        self._arrays = None

    def chunk_count(self, paths=None) -> int:
        """Chunks of the given corpus paths, or of the whole corpus."""
        urls = self.by_url if paths is None else [self._url_of(p) for p in paths]
        return sum(len(self.by_url.get(u, ())) for u in urls)

    def chunk_ids(self, paths=None) -> set[str]:
        """Chunk ids of the given corpus paths, or of the whole corpus."""
        urls = self.by_url if paths is None else [self._url_of(p) for p in paths]
        return {c.chunk_id for u in urls for c in self.by_url.get(u, ())}

    def new_chunk_count(self, paths, known: set[str]) -> int:
        """Chunks of the given corpus paths whose id is not in ``known``:
        the chunks a sync that embeds only new content would embed."""
        return sum(
            c.chunk_id not in known
            for p in paths
            for c in self.by_url.get(self._url_of(p), ())
        )

    def _flat(self):
        if self._arrays is None:
            urls, rows, vecs = [], [], []
            for url in sorted(self.by_url):
                for c in self.by_url[url]:
                    urls.append(url)
                    rows.append(c)
                if len(self.by_url[url]):
                    vecs.append(self._vecs[url])
            mat = np.concatenate(vecs).astype(np.float64) if vecs else np.zeros((0, 1))
            self._arrays = (urls, rows, mat, _fold_norms(mat))
        return self._arrays

    def exact_topk(
        self,
        query_text: str,
        k: int,
        url_prefix: str | None = None,
        extensions: list[str] | None = None,
    ) -> list[tuple[str, int]]:
        """(url, chunk_index) of the exact top-k, in rank order."""
        urls, rows, mat, norms = self._flat()
        q = [float(x) for x in self._embed(query_text)]
        acc = 0.0
        for x in q:
            acc += x * x
        qn = math.sqrt(acc)
        dot = np.zeros(len(rows))
        for i, x in enumerate(q):
            dot = dot + mat[:, i] * x
        dist = 1.0 - dot / (norms * qn)
        exts = [e.lower() if e.startswith(".") else "." + e.lower() for e in extensions or []]
        cand = []
        for j, (url, c) in enumerate(zip(urls, rows)):
            if url_prefix is not None and not url.startswith(url_prefix):
                continue
            if exts and not any(url.lower().endswith(e) for e in exts):
                continue
            if c.content.strip(" ") == "":
                continue
            cand.append((dist[j], c.chunk_id, url, c.chunk_index))
        cand.sort()
        return [(u, i) for _, _, u, i in cand[:k]]


def _fold_norms(mat: np.ndarray) -> np.ndarray:
    """sqrt of the sequential sum of squares, column by column."""
    acc = np.zeros(mat.shape[0])
    for i in range(mat.shape[1]):
        acc = acc + mat[:, i] * mat[:, i]
    return np.sqrt(acc)
