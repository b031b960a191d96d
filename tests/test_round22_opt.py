"""Round 22 (optimization round 2) focused tests.

Pins the internals that r22 optimizations / correctness fixes changed:
- coreset.dataset_fingerprint now recurses into nested directory layouts
  (VERDICT r20 #1 / r21 #5: the one-level fold missed in-place rewrites of
  part files two levels down, so the trained-artifact cache could serve stale
  artifacts after a same-path data rewrite).
"""

from __future__ import annotations

import os
import re

import pytest

from doc2vec_spark.operators.coreset import dataset_fingerprint


def _write(p, data: bytes) -> None:
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "wb") as f:
        f.write(data)


def test_fingerprint_sees_nested_in_place_rewrite(tmp_path):
    """store.py's partitionBy shape nests part files two levels down; an
    in-place rewrite there must change the fingerprint even though the
    top-level dir and the bucket=K subdir keep their mtimes."""
    root = tmp_path / "embeddings.parquet"
    part = root / "bucket=0" / "product_name=x" / "part-000.parquet"
    _write(str(part), b"v1-bytes")
    _write(str(root / "bucket=0" / "_SUCCESS"), b"")  # pruned at every level
    os.utime(part, ns=(1_000_000_000, 1_000_000_000))
    fp1 = dataset_fingerprint(str(tmp_path))
    assert fp1 and fp1 == dataset_fingerprint(str(tmp_path))
    # same-size in-place rewrite: only the nested file's mtime moves; pin
    # the ancestor dirs' mtimes to prove the fold no longer depends on them
    dir_ns = (2_000_000_000, 2_000_000_000)
    for d in (root, root / "bucket=0", root / "bucket=0" / "product_name=x"):
        os.utime(d, ns=dir_ns)
    fp_dirs_pinned = dataset_fingerprint(str(tmp_path))
    _write(str(part), b"v2-bytes")
    os.utime(part, ns=(3_000_000_000, 3_000_000_000))
    for d in (root, root / "bucket=0", root / "bucket=0" / "product_name=x"):
        os.utime(d, ns=dir_ns)
    fp2 = dataset_fingerprint(str(tmp_path))
    assert fp2 != fp_dirs_pinned
    # and the relpath component distinguishes same-stat files in different
    # subdirectories (a pure (mtime,size) multiset fold would alias them)
    assert all(isinstance(e[0], str) and "part-000" in e[0] for e in (fp2[-1],))


def test_fingerprint_single_file_and_missing(tmp_path):
    f = tmp_path / "embeddings.parquet"
    f.write_bytes(b"abc")
    st = os.stat(f)
    assert dataset_fingerprint(str(tmp_path)) == (st.st_mtime_ns, st.st_size)
    assert dataset_fingerprint(str(tmp_path / "nope")) == ()


def test_diff_status_count_shape_matches_list_semantics(spark):
    """The r22 count-equality diff_status must reproduce the r21
    collect_list+full-outer-join semantics exactly, including the NULL-hash
    edges: collect_list DROPS NULLs, so a NULL hash asserts side presence
    but never counts toward the multiset comparison."""
    from doc2vec_spark.sync import diff_status

    new = spark.createDataFrame(
        [
            ("u_unchanged", "a"), ("u_unchanged", "a"), ("u_unchanged", "b"),
            ("u_updated_count", "a"), ("u_updated_count", "a"),
            ("u_updated_val", "a"),
            ("u_new", "z"),
            ("u_null_both", None), ("u_null_both", "a"),
            ("u_null_presence_new", None),
            ("u_null_extra_new", "a"), ("u_null_extra_new", None),
        ],
        "url string, hash string",
    )
    old = spark.createDataFrame(
        [
            ("u_unchanged", "a"), ("u_unchanged", "b"), ("u_unchanged", "a"),
            ("u_updated_count", "a"),
            ("u_updated_val", "b"),
            ("u_deleted", "q"),
            ("u_null_both", "a"), ("u_null_both", None), ("u_null_both", None),
            ("u_null_presence_old", None),
            ("u_null_extra_new", "a"),
        ],
        "url string, hash string",
    )
    got = {r["url"]: r["status"] for r in diff_status(new, old).collect()}
    assert got == {
        "u_unchanged": "unchanged",  # same multiset, different arrival order
        "u_updated_count": "updated",  # [a,a] vs [a]: count mismatch
        "u_updated_val": "updated",
        "u_new": "new",
        "u_deleted": "deleted",
        # [a] vs [a] after NULL elision -> unchanged (old had 2 NULLs, new 1)
        "u_null_both": "unchanged",
        # a url whose ONLY row has a NULL hash still exists on that side:
        # collect_list gives an EMPTY (not NULL) list -> presence
        "u_null_presence_new": "new",
        "u_null_presence_old": "deleted",
        # [a] vs [a] after elision even though new carried an extra NULL row
        "u_null_extra_new": "unchanged",
    }


# ---------------------------------------------------------------------------
# Batch 4: bounded-scalar / probe-action fusions (guide §1.2 — fewer actions)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def empty_docs_sf_dir(tmp_path_factory):
    """documents table with the driver schema and zero rows — the
    degenerate input every fused-probe path must still answer like the
    oracle (0 rows / NULL totals), now that the probes ride other actions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import SF_DIR

    d = tmp_path_factory.mktemp("sf_empty_b4")
    schema = pq.read_schema(f"{SF_DIR}/documents.parquet")
    pq.write_table(
        pa.table({f.name: pa.array([], f.type) for f in schema}, schema=schema),
        str(d / "documents.parquet"),
    )
    return str(d)


def test_semdedup_observation_counts_prefilter(spark):
    """dedup_semdedup's fused centroid collect relies on the optimizer NOT
    pushing the stride filter below the CollectMetrics node: the observed n
    must be the FULL corpus count, not the centroid count. Pin that Spark
    behavior directly on the observe->filter->collect shape the operator
    uses."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(F.col("id").alias("vec_id"))
    obs = Observation()
    rows = (
        df.observe(obs, F.count(F.lit(1)).alias("n"))
        .filter((F.col("vec_id") % 32) == 0)
        .collect()
    )
    assert len(rows) == 4  # 0, 32, 64, 96
    assert obs.get["n"] == 100  # every pre-filter row was observed


def test_filter_funnel_empty_corpus(spark, empty_docs_sf_dir):
    """The one-pass conditional aggregation emits ONE all-NULL row on an
    empty corpus before the d0-guard; the oracle's GROUP BY emits zero.
    The guard must drop it."""
    from doc2vec_spark.operators.funnel import pipe_filter_funnel

    out = pipe_filter_funnel(spark, empty_docs_sf_dir)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "stage", "stage_name", "n_docs", "n_tokens",
    ]


def test_funnel_stage_counts_are_cumulative(spark):
    """Non-empty equivalence pin for the explode->conditional-sum rewrite:
    stage k counts docs passing gates 1..k, token mass follows the same
    predicate, and exactly 4 rows come out."""
    from doc2vec_spark.operators.funnel import pipe_filter_funnel
    from tests.conftest import SF_DIR

    rows = {r["stage"]: r for r in pipe_filter_funnel(spark, SF_DIR).collect()}
    assert sorted(rows) == [0, 1, 2, 3]
    assert [rows[s]["stage_name"] for s in range(4)] == [
        "ingested", "gopher", "dedup", "perplexity",
    ]
    # cumulative: each gate can only shrink the surviving doc/token mass
    for s in range(1, 4):
        assert rows[s]["n_docs"] <= rows[s - 1]["n_docs"]
        assert rows[s]["n_tokens"] <= rows[s - 1]["n_tokens"]


def test_fused_scalar_probes_empty_corpus(spark, empty_docs_sf_dir):
    """ta_unigram_lm_score / ta_dsir_importance / ta_kn_bigram_score fused
    their bounded driver scalars into single collects / 1-row frames; on an
    empty corpus each must still return the oracle's zero rows (and the
    dsir path its typed empty frame) instead of tripping on NULL totals."""
    from doc2vec_spark.operators.lm import (
        ta_dsir_importance,
        ta_kn_bigram_score,
        ta_unigram_lm_score,
    )

    assert ta_unigram_lm_score(spark, empty_docs_sf_dir).count() == 0
    dsir = ta_dsir_importance(spark, empty_docs_sf_dir)
    assert dsir.count() == 0
    assert "importance_ppm" in dsir.columns
    assert ta_kn_bigram_score(spark, empty_docs_sf_dir).count() == 0


def test_zipf_fit_empty_corpus_row(spark, empty_docs_sf_dir):
    """The driver-side OLS tail keeps the oracle's aggregate-over-empty
    contract: one row, n=0, NULL sums."""
    from doc2vec_spark.operators.corpusstats import ta_zipf_fit

    rows = ta_zipf_fit(spark, empty_docs_sf_dir).collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 0 and rows[0]["sx"] is None


def test_int_local_frame_types_values_and_guards(spark):
    """The VALUES-LocalRelation helper must reproduce createDataFrame's
    schema and values exactly for int/NULL cells, and refuse anything whose
    SQL-literal round-trip is not trivially exact."""
    from doc2vec_spark.functions.localframe import int_local_frame

    rows = [(1, None, -(2**62)), (0, 2**62, 7)]
    schema = "a int, b long, c long"
    got = int_local_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    # names + datatypes must match createDataFrame exactly; nullability is
    # allowed to differ (VALUES infers tighter nullability; the driver's
    # gate compares pandas-level names/dtypes/values, never nullability)
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in ref.schema.fields
    ]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()
    import pytest as _pytest

    with _pytest.raises(ValueError):
        int_local_frame(spark, [], schema)
    with _pytest.raises(TypeError):
        int_local_frame(spark, [(1.5, 2, 3)], schema)
    with _pytest.raises(TypeError):
        int_local_frame(spark, [(True, 2, 3)], schema)


def test_local_frame_string_and_double_cells(spark):
    """Batch 7 extends the VALUES helper to the remaining exact cell kinds:
    strings travel as base64 (injection-proof, byte-exact for arbitrary
    UTF-8) and doubles as shortest-repr literals (bit-exact round trip)."""
    import struct

    from doc2vec_spark.functions.localframe import local_frame

    rows = [
        ("it's", 0.1), ("back\\slash", -1.5), ("unié中文", 1e-17),
        ("tab\tnl\n", 2.0**-1074), ("", -0.0), ('quote"d', None),
    ]
    got = local_frame(spark, rows, "s string, x double").collect()
    assert [r["s"] for r in got] == [r[0] for r in rows]
    for g, (_, want) in zip(got, rows):
        if want is None:
            assert g["x"] is None
        else:
            assert struct.pack("<d", g["x"]) == struct.pack("<d", want)
    import pytest as _pytest

    with _pytest.raises(TypeError):
        local_frame(spark, [("s", float("nan"))], "s string, x double")
    with _pytest.raises(TypeError):
        local_frame(spark, [(b"bytes", 1.0)], "s string, x double")


def test_embedding_sql_bitwise_equals_column_form(spark):
    """Batch 8: the single-parse SQL embedding template must stay
    bit-identical to the reference Column-built fold (same digests, casts
    and operation order), including empty/NULL text."""
    import struct

    from pyspark.sql import functions as F

    from doc2vec_spark.embedding_native import embedding_col, with_embeddings_native

    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, None), (4, "unié中文 #suffix'quote")],
        "doc_id long, content string",
    )
    old = df.withColumn("embedding", embedding_col(F.col("content"))).orderBy(
        "doc_id"
    ).collect()
    new = with_embeddings_native(df).orderBy("doc_id").collect()

    def bits(rows):
        return [tuple(struct.pack("<f", x) for x in r["embedding"]) for r in rows]

    assert bits(old) == bits(new)


@pytest.mark.parametrize(
    "schema, col, edge",
    [("x long", "BIGINT", 2**63), ("x int", "INT", 2**31)],
)
def test_local_frame_integer_cells_are_range_checked(spark, schema, col, edge):
    """ADVICE r22: an out-of-range integer cell raises instead of emitting a
    cast that gives NULL or wraps; each bound itself round-trips exactly."""
    from doc2vec_spark.functions.localframe import local_frame

    lo, hi = -edge, edge - 1
    got = local_frame(spark, [(lo,), (hi,)], schema).collect()
    assert [r["x"] for r in got] == [lo, hi]
    for past in (lo - 1, hi + 1):
        with pytest.raises(TypeError, match=f"{col} cell out of range"):
            local_frame(spark, [(past,)], schema)


def test_native_embedding_quotes_backticked_column(spark):
    """ADVICE r22: a text column whose name contains a backtick embeds to the
    same vectors as ``content``; the ``content`` plan is unchanged."""
    from pyspark.sql import functions as F

    from doc2vec_spark.embedding_native import (
        DEFAULT_DIM,
        _embedding_sql,
        with_embeddings_native,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, None)], "doc_id long, content string"
    )
    odd = "te`xt"
    want = with_embeddings_native(df).orderBy("doc_id").collect()
    got = (
        with_embeddings_native(df.withColumnRenamed("content", odd), text_col=odd)
        .orderBy("doc_id")
        .collect()
    )
    assert [r["embedding"] for r in got] == [r["embedding"] for r in want]

    def plan(frame):  # expression ids and object addresses differ per build
        text = frame._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+|@[0-9a-f]+", "", text)

    assert plan(with_embeddings_native(df)) == plan(
        df.withColumn("embedding", F.expr(_embedding_sql("`content`", DEFAULT_DIM)))
    )


@pytest.mark.parametrize(
    "module, qname",
    [("lm", "ta_kn_bigram_score"), ("quality", "ta_pmi_collocations")],
)
def test_constant_key_joins_plan_broadcast_hash(spark, module, qname):
    """ADVICE r22: the pmod(xxhash64(col), 1) constant-key joins rely on the
    key being non-foldable so Spark plans a BroadcastHashJoin; a foldable key
    would degrade them to a BroadcastNestedLoopJoin."""
    import importlib

    from tests.conftest import SF_DIR

    df = getattr(importlib.import_module(f"doc2vec_spark.operators.{module}"), qname)(
        spark, SF_DIR
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q15_max_probe_joins_on_bigint_cents(spark):
    """ADVICE r22: tpch_q15's rev ⋈ mx join compares integer cents, not
    exact doubles, so an ulp-level recompute of either side (cache
    eviction mid-action) cannot drop the top supplier."""
    from doc2vec_spark.operators.tpch_extra import tpch_q15_top_supplier
    from tests.conftest import SF_DIR

    def joins(node):
        if node.nodeName() == "BroadcastHashJoin":
            yield node
        for i in range(node.children().size()):
            yield from joins(node.children().apply(i))

    def keys(seq):
        return [seq.apply(i) for i in range(seq.size())]

    plan = tpch_q15_top_supplier(spark, SF_DIR)._jdf.queryExecution().sparkPlan()
    probe = [
        j
        for j in joins(plan)
        if "total_revenue" in j.leftKeys().mkString(",")
    ]
    assert len(probe) == 1
    types = [k.dataType().simpleString() for k in keys(probe[0].leftKeys())]
    types += [k.dataType().simpleString() for k in keys(probe[0].rightKeys())]
    assert types == ["bigint", "bigint"]
