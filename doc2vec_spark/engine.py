"""Engine facade — the user-level surface a reference (doc2vec) user
switches to.

One object ties the planes together exactly as the reference's CLI + MCP
server do (SURVEY 3.1/3.2):

    engine = Doc2VecSparkEngine(spark, store_path)
    engine.run(config)                       # 'doc2vec run config.yaml'
    engine.query_documentation("how do I X", product_name="p")   # MCP tool
    engine.query_code("parse args", repo="o/r")
    engine.get_chunks(url), engine.reconstruct_page(url)

``run`` iterates the config's sources sequentially (doc2vec.ts:183-256),
collecting per-source counters and never advancing state past a failed
source (W9).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.store import ChunkStore
from doc2vec_spark.sync import SyncCounters, sync_documents

_ENV_RE = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)\}")


def substitute_env(value: Any) -> Any:
    """F12: ${ENV} substitution across a nested config (doc2vec.ts:128-137)."""
    if isinstance(value, str):
        return _ENV_RE.sub(lambda m: os.environ.get(m.group(1), m.group(0)), value)
    if isinstance(value, dict):
        return {k: substitute_env(v) for k, v in value.items()}
    if isinstance(value, list):
        return [substitute_env(v) for v in value]
    return value


def load_config(path: str) -> dict:
    import yaml

    with open(path) as f:
        return substitute_env(yaml.safe_load(f))


@dataclass
class SourceRunStats:
    source_type: str
    product_name: str
    ok: bool
    error: str | None = None
    counters: SyncCounters = field(default_factory=SyncCounters)


class Doc2VecSparkEngine:
    def __init__(self, spark: SparkSession, store_path: str):
        self.spark = spark
        self.store = ChunkStore(spark, os.path.join(store_path, "chunks"))

    # -- ingestion plane -----------------------------------------------------

    def _docs_for_source(self, src: dict) -> DataFrame:
        stype = src["type"]
        product = src.get("product_name", "")
        version = src.get("version", "latest")
        if stype == "local_directory":
            from doc2vec_spark.sources.local import read_local_directory

            raw = read_local_directory(
                self.spark,
                src["path"],
                include_extensions=src.get("include_extensions", [".md"]),
                max_size_chars=src.get("max_size"),
            )
            return raw.select(
                "url",
                "markdown",
                F.lit(product).alias("product_name"),
                F.lit(version).alias("version"),
            )
        if stype == "dataframe":  # pre-built (url, markdown) frame, e.g. from tests
            df = src["df"]
            return df.select(
                "url",
                "markdown",
                F.lit(product).alias("product_name"),
                F.lit(version).alias("version"),
            )
        raise ValueError(f"unsupported source type in this build: {stype!r}")

    def run(self, config: dict) -> list[SourceRunStats]:
        """One ingestion run over all configured sources (doc2vec.ts:183-256):
        per-source isolation — a failing source is recorded, does not abort
        the others, and does not advance any state (W9)."""
        results: list[SourceRunStats] = []
        for src in config.get("sources", []):
            stats = SourceRunStats(
                source_type=src.get("type", "?"), product_name=src.get("product_name", ""), ok=True
            )
            try:
                docs = self._docs_for_source(src)
                stats.counters = sync_documents(
                    self.spark,
                    self.store,
                    docs,
                    cleanup_prefix=src.get("url_prefix"),
                )
            except Exception as e:  # noqa: BLE001 - per-source containment
                stats.ok = False
                stats.error = str(e)
            results.append(stats)
        return results

    # -- query plane ---------------------------------------------------------

    def query_documentation(self, query_text: str, **kwargs) -> DataFrame:
        from doc2vec_spark.query import query_documentation

        return query_documentation(self.store.serving(), query_text, **kwargs)

    def query_code(self, query_text: str, **kwargs) -> DataFrame:
        from doc2vec_spark.query import query_code

        return query_code(self.store.serving(), query_text, **kwargs)

    def get_chunks(self, url: str, start: int | None = None, end: int | None = None) -> DataFrame:
        from doc2vec_spark.query import get_chunks

        return get_chunks(self.store.read_url(url), url, start, end)

    def reconstruct_page(self, url: str) -> str | None:
        from doc2vec_spark.query import reconstruct_page

        rows = reconstruct_page(self.store.read_url(url), url).collect()
        return rows[0]["page"] if rows else None

    # -- observability -------------------------------------------------------

    def stats(self) -> dict:
        agg = (
            self.store.read()
            .agg(
                F.count(F.lit(1)).alias("chunks"),
                F.count_distinct("url").alias("documents"),
                F.count_distinct("product_name").alias("products"),
            )
            .collect()[0]
        )
        return {k: agg[k] for k in ("chunks", "documents", "products")}
