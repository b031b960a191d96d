"""Central query registry: assembles QuerySpecs from all operator modules.

``__spark_entry__.py`` exposes this to the driver; tests/test_parity.py
pre-validates every (spark, oracle) pair against DuckDB locally before the
driver's correctness gate runs.

Ordering matters: the driver's correctness harness checks the FIRST 50
entries of ``queries()`` (CORRECTNESS_r01.json stamped exactly registry
positions 0-49). With more registered queries than slots, a static order
leaves the same tail forever unverified. We therefore rotate: queries whose
driver stamp is still VALID — green in a prior round AND the spec (oracle +
implementation-module closure) unchanged since that stamp, per
SPEC_HASHES.json (see spec_hashes.py, ADVICE r02) — move to the back, so
each round's 50-slot budget lands on never-verified and stale-verified
queries first and the union of rounds covers the whole registry at its
current spec version.
"""

from __future__ import annotations

import functools
import importlib

from doc2vec_spark.spec import QuerySpec


def _scoped(fn):
    """Release the previous invocation's scoped caches on entry, so storage
    stays flat across any sequence of registry queries (caching.py)."""

    @functools.wraps(fn)  # preserves __module__ for spec_hashes closures
    def run(spark, sf_dir):
        from doc2vec_spark.caching import release_scoped_caches

        release_scoped_caches()
        return fn(spark, sf_dir)

    return run


def _driver_verified_names(merged: dict[str, QuerySpec]) -> frozenset[str]:
    """Names whose driver stamp is valid for the current spec version
    (spec_hashes.verified_names). Falls back to name-only green rows
    (spec_hashes._green_rounds), then to the static round-1 list, when the
    stamp/CORRECTNESS files are unreadable (e.g. the package imported outside
    the repo checkout)."""
    from doc2vec_spark import spec_hashes

    try:
        if spec_hashes.load_stamps():
            return spec_hashes.verified_names(merged)
    except Exception:
        pass  # fall through to name-only rotation
    return frozenset(spec_hashes._green_rounds()) or _VERIFIED_R01_FALLBACK


# Static fallback: green rows in CORRECTNESS_r01.json (driver-verified round 1).
_VERIFIED_R01_FALLBACK: frozenset[str] = frozenset(
    {
        "p1_metadata_filter", "p2_url_prefix_filter", "p3_extension_filter",
        "p4_p6_content_guards", "j1_anti_join_cleanup", "j2_semi_join_allowlist",
        "j3_broadcast_hash_lookup", "j4_left_outer_enrich", "j5_set_equality_diff",
        "j6_prefix_join", "j7_latest_run_per_config", "a1_hash_multiset_per_url",
        "a2_distinct_urls", "a3_run_counters", "a4_log_level_counts",
        "a5_daily_run_stats", "a6_max_mtime", "a7_total_chunks_window",
        "a8_severity_counts", "t3_ordered_chunk_range", "t4_page_reconstruction",
        "t5_keyset_pagination", "t7_tail_start_seq", "u1_frontier_except",
        "u2_dedup_by_key", "u4_union_distinct", "f1_sha256_hash", "f2_md5_uuid",
        "f3_url_normalize", "f5_token_estimate", "f14_embed_truncation",
        "f16_keyword_search", "tpch_q1_pricing_summary", "tpch_q3_revenue_topk",
        "tpch_q5_regional_revenue", "tpch_q6_forecast_revenue",
        "tpch_q18_large_orders", "t1_knn_cosine_topk", "t1_knn_filtered",
        "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
        "dedup_simhash", "dedup_simhash_pairs", "dedup_embedding_cosine",
        "ta_langid", "ta_quality_score", "ta_token_counts", "ta_fingerprint",
        "ann_srp_buckets",
    }
)


# Every registering module, under doc2vec_spark. The order is the registry's
# order, and so the rotation's tiebreak (all_queries): append, never reorder.
_MODULES = (
    "operators.relational",
    "operators.analytics",
    "operators.anomaly",
    "operators.budget",
    "operators.classifier",
    "operators.sampling",
    "operators.tpch_extra",
    "operators.dedup",
    "operators.textanalysis",
    "operators.textrank",
    "operators.tokenizer",
    "operators.wordpiece",
    "operators.vocab_encode",
    "operators.bpe",
    "operators.trending",
    "operators.lm",
    "operators.quality",
    "operators.sessions",
    "operators.similarity",
    "operators.mmr",
    "operators.evalmetrics",
    "operators.sketches",
    "operators.sketchmerge",
    "operators.normdedup",
    "operators.windows",
    "operators.domain",
    "operators.domaincap",
    "operators.extensions",
    "operators.histogram",
    "operators.linedup",
    "operators.manifest",
    "operators.pipeline",
    "operators.coreset",
    "operators.kmeans",
    "operators.serving",
    "multimodal",
    "embedding_native",
    "operators.reference_parity",
    "operators.asof",
    "operators.curation",
    "operators.audit",
    "operators.ranking",
    "operators.unigram",
    "operators.corpusstats",
    "operators.audiodsp",
    "operators.funnel",
    "operators.sq8",
)


def merged_queries() -> dict[str, QuerySpec]:
    # Imports are deferred (so the driver's lightweight entry import stays
    # cheap) but UNCONDITIONAL: every module here is first-party, and a
    # swallowed ImportError would silently shrink queries()/oracle_sql() and
    # with it the driver correctness gate. Optional third-party deps are
    # gated inside the modules themselves, never here.
    merged: dict[str, QuerySpec] = {}
    for path in _MODULES:
        mod = importlib.import_module(f"doc2vec_spark.{path}")
        for name, spec in mod.QUERIES.items():
            if name in merged:
                raise ValueError(f"duplicate query name {name!r}")
            merged[name] = QuerySpec(
                fn=_scoped(spec.fn), oracle=spec.oracle, doc=spec.doc
            )
    return merged


def all_queries() -> dict[str, QuerySpec]:
    merged = merged_queries()

    # Rotation: validly-verified queries at the back; the fresh front is
    # ordered never-green-anywhere first (each needs its FIRST stamp), then
    # stale-verified by oldest last-green round (most-outdated stamp first),
    # so when fresh > 50 the window always prefers the least-covered specs.
    verified = _driver_verified_names(merged)
    try:
        # _green_rounds is lru_cached for the process lifetime: CORRECTNESS
        # files only change between driver rounds (new processes), never
        # mid-process, so intra-process staleness cannot occur in practice —
        # call _green_rounds.cache_clear() if that assumption ever breaks
        from doc2vec_spark.spec_hashes import _green_rounds

        last_green = {n: max(rs) for n, rs in _green_rounds().items()}
    except Exception:
        last_green = {}
    position = {n: i for i, n in enumerate(merged)}  # O(1) tiebreak lookups
    fresh = sorted(
        (n for n in merged if n not in verified),
        key=lambda n: (last_green.get(n, -1), position[n]),
    )
    # verified tail likewise oldest-stamp-first, so the window's spare slots
    # (50 - |fresh|) re-stamp the longest-unchecked valid rows each round
    seen = sorted(verified, key=lambda n: (last_green.get(n, -1), position[n]))
    return {n: merged[n] for n in [*fresh, *seen]}
