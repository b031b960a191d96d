"""Round-13 hardening: the ADVICE r12 findings as pinned regressions —
empty-input guards (histogram, shard skew), memo bypass on unknown
dataset provenance, and memo immutability from the caller's side."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory):
    """An sf_dir whose events/documents tables carry the driver schema but
    zero rows — the degenerate input the oracles answer with zero rows."""
    d = tmp_path_factory.mktemp("sf_empty")
    for t in ("events", "documents"):
        schema = pq.read_schema(f"{SF_DIR}/{t}.parquet")
        pq.write_table(pa.table({f.name: pa.array([], f.type) for f in schema}, schema=schema),
                      str(d / f"{t}.parquet"))
    return str(d)


def test_value_histogram_empty_events_returns_zero_rows(spark, empty_sf_dir):
    """ADVICE r12: int(None) TypeError on empty events; the oracle returns
    zero rows, so must we — with the declared output schema."""
    from doc2vec_spark.operators.histogram import ev_value_histogram

    out = ev_value_histogram(spark, empty_sf_dir)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "event_type", "bucket", "n", "sum_cents",
    ]


def test_shard_skew_empty_corpus_returns_zero_rows(spark, empty_sf_dir):
    """ADVICE r12: div-by-zero / int(None) on an empty corpus; oracle says
    zero shards."""
    from doc2vec_spark.operators.pipeline import pipe_shard_skew

    out = pipe_shard_skew(spark, empty_sf_dir)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "lang", "pack_group", "shard_id", "n_docs",
        "shard_tokens", "load_bp", "straggler",
    ]


def test_fps_memo_returns_independent_copies(spark):
    """ADVICE r12: a cache hit must hand out a fresh list — mutating the
    returned value can never corrupt later hits."""
    from doc2vec_spark.operators import coreset

    first = coreset.fps_select(spark, SF_DIR)
    assert len(first) > 0
    first.append(("corruption",))
    first[0] = None
    again = coreset.fps_select(spark, SF_DIR)
    assert again[0] is not None
    assert all(not (isinstance(t, tuple) and t == ("corruption",)) for t in again)
    assert len(again) == len(first) - 1


def test_fps_memo_bypassed_on_unknown_fingerprint(spark, monkeypatch):
    """ADVICE r12: fingerprint () (non-local path / unknown layout) must skip
    the memo entirely — no lookup, no store — so a data rewrite under an
    unfingerprintable path always re-selects."""
    from doc2vec_spark import train_cache
    from doc2vec_spark.operators import coreset

    monkeypatch.setattr(coreset, "dataset_fingerprint", lambda *a, **k: ())
    before = dict(train_cache._MEMO)
    out = coreset.fps_select(spark, SF_DIR, k=2)
    assert len(out) == 2
    assert train_cache._MEMO == before  # nothing stored under a () key


def test_kmeans_memo_bypassed_on_unknown_fingerprint(spark, monkeypatch):
    """Same bypass for the kmeans trainer's memo (shares the finding)."""
    from doc2vec_spark import train_cache
    from doc2vec_spark.operators import kmeans

    monkeypatch.setattr(kmeans, "dataset_fingerprint", lambda *a, **k: ())
    before = dict(train_cache._MEMO)
    cents = kmeans.train_kmeans(spark, SF_DIR)
    assert len(cents) == kmeans.KM_K
    assert train_cache._MEMO == before


# ---------------------------------------------------------------------------
# routed serving KNN (VERDICT r12 #1)
# ---------------------------------------------------------------------------


def test_routed_knn_exact_branch_plan(spark):
    """At driver SFs (corpus <= SERVE_EXACT_MAX) the routed query IS the
    exact scan: TakeOrderedAndProject, and no centroid-assignment fold
    (`least(`) anywhere in the plan."""
    from doc2vec_spark.operators.serving import doc_knn_query_routed

    df = doc_knn_query_routed(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "TakeOrderedAndProject" in plan
    assert "least(" not in plan


def test_routed_knn_forced_ivf_branch_parity(spark, duck, monkeypatch):
    """The knn-graph wide-tier precedent: lower the cutoff so the IVF
    branch fires at test scale, and compare it against the SAME-cutoff
    oracle repr-level. Also pin that the forced plan really is the probe
    (centroid fold present)."""
    from doc2vec_spark.operators import serving

    monkeypatch.setattr(serving, "SERVE_EXACT_MAX", 10)
    df = serving.doc_knn_query_routed(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "least(" in plan  # the map-only assignment fold => IVF tier
    got = sorted(
        (int(r["vec_id"]), int(r["rnk"]), float(r["distance"]))
        for r in df.collect()
    )
    exp = sorted(
        (int(v), int(r), float(d))
        for v, r, d in duck.sql(serving.routed_oracle(cutoff=10)).fetchall()
    )
    assert got == exp and len(got) == serving.SERVE_K


def test_routed_ivf_recall_vs_exact(spark):
    """Recall@k of the trained-IVF probe against the exact scan — the
    ann_ivf_recall discipline applied to the serving tier. Measured 1.0 at
    sf0.001 (the trained quantizer puts the query's true neighbors in its
    cell); the floor leaves margin for testdata regeneration."""
    from doc2vec_spark.operators.serving import SERVE_K, exact_topk, ivf_topk

    ex = {r["vec_id"] for r in exact_topk(spark, SF_DIR).collect()}
    iv = {r["vec_id"] for r in ivf_topk(spark, SF_DIR).collect()}
    assert len(ex & iv) / SERVE_K >= 0.6


def test_serving_api_routed_small_corpus_is_exact_path(spark):
    """Below the threshold query_documentation_routed must return exactly
    what the unrouted serving call returns (reference parity preserved),
    with no ANN artifacts in the plan."""
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding import with_embeddings
    from doc2vec_spark.operators.serving import query_documentation_routed
    from doc2vec_spark.query import query_documentation

    docs = spark.createDataFrame(
        [("https://d/a.md", "# A\nalpha beta gamma " * 30, "p", "1")],
        "url string, markdown string, product_name string, version string",
    )
    chunks = with_embeddings(chunk_documents(docs)).cache()
    routed = query_documentation_routed(chunks, "alpha beta", k=3)
    plain = query_documentation(chunks, "alpha beta", k=3)
    assert "least(" not in routed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert [r.asDict() for r in routed.collect()] == [
        r.asDict() for r in plain.collect()
    ]
    chunks.unpersist()


def test_serving_api_routed_big_corpus_probes_one_cell(spark):
    """Forcing the ANN tier (ann_threshold=0): the planted unique phrase
    must still come back top-1 through the probe, the plan must carry the
    assignment fold, and the probed frame must be a subset of one cell."""
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding import with_embeddings
    from doc2vec_spark.operators.serving import (
        build_chunk_ann_index,
        cell_assignment_col,
        query_documentation_routed,
    )

    phrase = "the zanzibar quokka protocol handles vector reconciliation"
    filler = "ordinary documentation text about configuration. " * 20
    docs = spark.createDataFrame(
        [("https://d/planted.md", phrase, "p", "1")]
        + [
            (f"https://d/f{i}.md", f"# H{i}\n{filler} v{i}", "p", "1")
            for i in range(6)
        ],
        "url string, markdown string, product_name string, version string",
    )
    chunks = with_embeddings(chunk_documents(docs)).cache()
    index = build_chunk_ann_index(chunks)
    routed = query_documentation_routed(
        chunks, phrase, index=index, ann_threshold=0, k=3
    )
    plan = routed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "least(" in plan
    rows = routed.collect()
    assert rows and rows[0]["url"] == "https://d/planted.md"
    # every returned chunk sits in ONE cell (the query's probed cell)
    got_ids = {r["chunk_id"] for r in rows}
    cell_of = {
        r["chunk_id"]: r["cell"]
        for r in chunks.select(
            "chunk_id", cell_assignment_col(index).alias("cell")
        ).collect()
    }
    assert len({cell_of[i] for i in got_ids}) == 1
    chunks.unpersist()


def test_nb_log_vs_relaxation_boundary_delta(spark):
    """VERDICT r12 #3: the log-domain NB and the additive relaxation share
    the train split, grid, and feature set (same n_scored per doc/cand
    pair), and their decision boundaries agree on most held-out docs —
    the documented delta. Measured at sf0.001/sf0.01: agreement 0.81,
    log accuracy >= relaxation accuracy on both; floors leave margin."""
    from doc2vec_spark.operators.classifier import ta_nb_classify, ta_nb_classify_log

    rel = {r["doc_id"]: r for r in ta_nb_classify(spark, SF_DIR).collect()}
    log = {r["doc_id"]: r for r in ta_nb_classify_log(spark, SF_DIR).collect()}
    assert set(rel) == set(log)
    agree = sum(
        rel[d]["predicted"] == log[d]["predicted"] for d in rel
    ) / len(rel)
    assert agree >= 0.5
    # the winning candidate's feature count matches when predictions agree
    # (same feature set — only the combination rule differs)
    for d in rel:
        if rel[d]["predicted"] == log[d]["predicted"]:
            assert rel[d]["n_scored"] == log[d]["n_scored"]


def test_kmeans_memo_returns_independent_copies(spark):
    """A memo hit hands out fresh per-cell lists — caller mutation can't
    poison later hits."""
    from doc2vec_spark.operators import kmeans

    a = kmeans.train_kmeans(spark, SF_DIR)
    cell = sorted(a)[0]
    a[cell][0] += 12345
    b = kmeans.train_kmeans(spark, SF_DIR)
    assert b[cell][0] == a[cell][0] - 12345


# ---------------------------------------------------------------------------
# multi-probe IVF search (the recall knob on the trained index)
# ---------------------------------------------------------------------------


def test_multiprobe_first_probed_cell_is_query_cell(spark):
    """probed[0] must equal the query's own assigned cell: assignment packs
    (d6, cell) into one MIN and probing ranks by the same (d6, cell) key,
    so nprobe=1 degenerates to the single-probe tier exactly."""
    from doc2vec_spark.operators import serving
    from doc2vec_spark.operators.kmeans import _FP, train_kmeans
    from pyspark.sql import functions as F

    from doc2vec_spark.operators.coreset import embeddings_with_norms

    cents = train_kmeans(spark, SF_DIR)
    cvf = {c: [fp / _FP for fp in v] for c, v in cents.items()}
    e = embeddings_with_norms(spark, SF_DIR)
    qv = list(e.filter(F.col("vec_id") == 0).select("v").first()["v"])
    probed = sorted(sorted(cvf), key=lambda c: (serving._py_d6(qv, cvf[c]), c))
    # the engine-side assignment of vec_id 0, recomputed via the same fold
    from doc2vec_spark.operators.serving import ivf_topk  # noqa: F401

    from doc2vec_spark.operators.coreset import _d6_int

    o = F.least(
        *[
            _d6_int(F.col("v"), F.col("nv"), cvf[c]) * F.lit(100) + F.lit(c)
            for c in sorted(cvf)
        ]
    )
    qcell = int(
        e.filter(F.col("vec_id") == 0).select((o % 100).alias("c")).first()["c"]
    )
    assert probed[0] == qcell


def test_multiprobe_recall_at_least_single_probe(spark):
    """The multiprobe candidate set is a strict superset of the one-cell
    probe's (first probed cell == the query's cell), so recall@k vs the
    exact scan can only improve. Both tiers' recall measured against
    exact_topk on the same corpus."""
    from doc2vec_spark.operators.serving import (
        SERVE_K,
        ann_ivf_search_multiprobe,
        exact_topk,
        ivf_topk,
    )

    ex = {r["vec_id"] for r in exact_topk(spark, SF_DIR).collect()}
    single = {r["vec_id"] for r in ivf_topk(spark, SF_DIR).collect()}
    multi = {r["vec_id"] for r in ann_ivf_search_multiprobe(spark, SF_DIR).collect()}
    assert len(multi & ex) >= len(single & ex)
    assert len(multi & ex) / SERVE_K >= 0.6


def test_multiprobe_plan_is_probe_shaped(spark):
    """The multiprobe plan stays the production probe shape: the map-only
    assignment fold (least(...)) + cell-membership filter feeding a
    TakeOrderedAndProject — no join, no corpus-wide window."""
    from doc2vec_spark.operators.serving import ann_ivf_search_multiprobe

    df = ann_ivf_search_multiprobe(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "least(" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


# ---------------------------------------------------------------------------
# per-domain token cap
# ---------------------------------------------------------------------------


def test_domain_cap_positions_match_single_window(spark):
    """The two-level distributed prefix sum must produce the textbook
    single-window cumsum exactly: same (doc_id -> cum) map on a corpus
    small enough to compute the reference in Python."""
    import hashlib

    from doc2vec_spark.operators.domaincap import domain_capped_positions

    rows = [(i, f"d{i % 3}", "tok " * (i % 7 + 1)) for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: (r["w"], r["cum"])
        for r in domain_capped_positions(docs).collect()
    }
    # reference: per-domain md5 order, running sum
    by_src = {}
    for i, s, t in rows:
        by_src.setdefault(s, []).append((hashlib.md5(str(i).encode()).hexdigest(), i, len(t.split())))
    for s, docs_ in by_src.items():
        run = 0
        for _, i, w in sorted(docs_):
            run += w
            assert got[i] == (w, run), (i, got[i], (w, run))


def test_domain_cap_first_doc_always_kept(spark):
    """A document larger than the whole budget is still admitted when it is
    the first on its domain's line (cum - w == 0 < CAP): the cap can never
    empty a domain."""
    from doc2vec_spark.operators.domaincap import (
        CAP_TOKENS,
        domain_capped_positions,
    )

    docs = spark.createDataFrame(
        [(1, "huge", "x " * (CAP_TOKENS * 3))],
        "doc_id long, source string, text string",
    )
    r = domain_capped_positions(docs).collect()[0]
    assert r["cum"] - r["w"] < CAP_TOKENS  # admitted
    assert r["w"] > CAP_TOKENS  # despite exceeding the budget alone


def test_domain_cap_registry_invariants(spark):
    """On the driver corpus: every domain keeps >= 1 doc, kept <= total on
    both counters, and cap_hit == (total_tokens > CAP)."""
    from doc2vec_spark.operators.domaincap import CAP_TOKENS, pipe_domain_cap

    for r in pipe_domain_cap(spark, SF_DIR).collect():
        assert r["n_kept"] >= 1
        assert r["n_kept"] <= r["n_docs"]
        assert r["kept_tokens"] <= r["total_tokens"]
        assert r["cap_hit"] == int(r["total_tokens"] > CAP_TOKENS)


# ---------------------------------------------------------------------------
# dedup-tier audit
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def dup_sf_dir(tmp_path_factory):
    """A corpus with planted structure: docs 1/2 byte-identical (true dup +
    LSH-flaggable), doc 3 a punctuation-only variant of 1 (normalized dup,
    shingles differ only via punct tokens), docs 10.. distinct filler."""
    d = tmp_path_factory.mktemp("sf_dups")
    base = " ".join(f"alpha{i} bravo{i} charlie{i}" for i in range(12))
    punct = base.replace(" bravo3", ", bravo3").upper()  # same normalized form
    rows = [(1, base, "en", "src0"), (2, base, "en", "src0"), (3, punct, "en", "src0")]
    for i in range(10, 22):
        rows.append((i, " ".join(f"tok{i}w{j} filler{j*i}" for j in range(18)), "en", "src0"))
    pa_tbl = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(pa_tbl, str(d / "documents.parquet"))
    return str(d)


def test_tier_audit_planted_confusion(spark, dup_sf_dir):
    """Doc 2 (byte-identical to 1) must be a TP: normalized-dup AND
    LSH-flagged (identical signatures collide in every band). Confusion
    identities must hold: tp+fn == true_dups, tp+fp == flagged, and the ppm
    ratios are the exact integer divisions."""
    from doc2vec_spark.operators.audit import dedup_tier_audit

    rows = {r["lang"]: r for r in dedup_tier_audit(spark, dup_sf_dir).collect()}
    r = rows["en"]
    assert r["true_dups"] >= 2  # docs 2 and 3 are normalized dups of 1
    assert r["tp"] >= 1  # doc 2 is caught by LSH
    assert r["tp"] + r["fn"] == r["true_dups"]
    assert r["tp"] + r["fp"] == r["flagged"]
    assert r["precision_ppm"] == r["tp"] * 1_000_000 // max(r["flagged"], 1)
    assert r["recall_ppm"] == r["tp"] * 1_000_000 // max(r["true_dups"], 1)


def test_tier_audit_driver_corpus_identities(spark):
    """On the driver corpus: per-lang doc counts sum to the table count and
    the confusion identities hold everywhere."""
    from doc2vec_spark.operators.audit import dedup_tier_audit
    from doc2vec_spark.tables import load

    rows = dedup_tier_audit(spark, SF_DIR).collect()
    assert sum(r["n_docs"] for r in rows) == load(spark, SF_DIR, "documents").count()
    for r in rows:
        assert r["tp"] + r["fn"] == r["true_dups"]
        assert r["tp"] + r["fp"] == r["flagged"]
        assert 0 <= r["precision_ppm"] <= 1_000_000
        assert 0 <= r["recall_ppm"] <= 1_000_000


# ---------------------------------------------------------------------------
# graded ranking eval (nDCG / MRR)
# ---------------------------------------------------------------------------


def test_ndcg_consistent_with_recall(spark):
    """n_rel is definitionally ann_recall_at_k's n_hits (same harness, same
    relevance rule), and every metric respects its bounds."""
    from doc2vec_spark.operators.evalmetrics import ann_recall_at_k
    from doc2vec_spark.operators.ranking import _IDCG, ann_ndcg_at_k

    rec = {r["q_vec_id"]: r for r in ann_recall_at_k(spark, SF_DIR).collect()}
    for r in ann_ndcg_at_k(spark, SF_DIR).collect():
        assert r["n_rel"] == rec[r["q_vec_id"]]["n_hits"]
        assert 0 <= r["dcg"] <= _IDCG
        assert 0 <= r["ndcg_ppm"] <= 1_000_000
        assert 0 <= r["mrr_ppm"] <= 1_000_000
        if r["n_rel"] == 0:
            assert r["dcg"] == 0 and r["ndcg_ppm"] == 0 and r["mrr_ppm"] == 0
        else:
            assert r["mrr_ppm"] > 0


def test_ndcg_ideal_ranking_is_one():
    """The LUT/IDCG pair is self-consistent: a system returning the exact
    top-k in exact order scores ndcg_ppm == 1e6 and mrr_ppm == 1e6."""
    from doc2vec_spark.operators.ranking import _DISCOUNT_PPM, _IDCG
    from doc2vec_spark.operators.evalmetrics import RECALL_K

    dcg = sum(
        (RECALL_K + 1 - p) * _DISCOUNT_PPM[p - 1] for p in range(1, RECALL_K + 1)
    )
    assert dcg == _IDCG
    assert dcg * 1_000_000 // _IDCG == 1_000_000
    assert 1_000_000 // 1 == 1_000_000  # first relevant at rank 1


# ---------------------------------------------------------------------------
# unigram-LM Viterbi segmentation
# ---------------------------------------------------------------------------


def _py_unigram_reference(texts):
    """Exhaustive-Python reference of the whole ta_unigram_segment pipeline
    (vocab derivation + packed Viterbi), for cross-checking the fold."""
    import math
    from collections import Counter

    from doc2vec_spark.operators.unigram import (
        MAXLEN,
        MAXP,
        TOP_V,
        _INF,
        _UNK_PK,
        _py_pk,
    )

    words = Counter()
    for t in texts:
        for w in t.strip().split():
            if 1 <= len(w) <= MAXLEN:
                words[w] += 1
    sub = Counter()
    for w, f in words.items():
        for i in range(len(w)):
            for l in range(1, MAXP + 1):
                if i + l <= len(w):
                    sub[w[i : i + l]] += f
    multi = sorted(
        ((p, c) for p, c in sub.items() if len(p) >= 2),
        key=lambda x: (-x[1], x[0]),
    )[:TOP_V]
    vocab = dict(multi) | {p: c for p, c in sub.items() if len(p) == 1}
    total = sum(vocab.values())
    pk = {p: _py_pk(c, total) for p, c in vocab.items()}

    out = {}
    for w, f in words.items():
        best = [0] + [_INF] * len(w)
        for i in range(1, len(w) + 1):
            for l in range(1, min(MAXP, i) + 1):
                piece = w[i - l : i]
                c = pk.get(piece, _UNK_PK if l == 1 else _INF)
                best[i] = min(best[i], best[i - l] + c)
        out[w] = (f, best[len(w)] // 100, best[len(w)] % 100)
    return out


def test_unigram_fold_matches_python_reference(spark, tmp_path):
    """The packed Viterbi fold must reproduce an exhaustive Python DP on a
    corpus with real multi-piece structure (compound words force 2-3 piece
    segmentations)."""
    from doc2vec_spark.operators.unigram import ta_unigram_segment

    texts = [
        "spark sparkly sql sqlite sparksql lite litespark " * 3,
        "join joins joinable rejoin sql sparkjoinsql",
        "x xy xyz wxyz sparklite",
    ]
    pa_tbl = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array(["s"] * len(texts), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    d = tmp_path / "sf_uni"
    d.mkdir()
    pq.write_table(pa_tbl, str(d / "documents.parquet"))

    ref = _py_unigram_reference(texts)
    # aggregate the reference to the query's output shape
    agg = {}
    for w, (f, cost, np_) in ref.items():
        a = agg.setdefault(np_, [0, 0, 0, 0, None])
        a[0] += 1
        a[1] += f
        a[2] += cost
        a[3] += f * cost
        a[4] = w if a[4] is None or w < a[4] else a[4]

    got = {
        r["n_pieces"]: (
            r["n_words"],
            r["total_freq"],
            r["sum_cost_unats"],
            r["wsum_cost_unats"],
            r["sample_word"],
        )
        for r in ta_unigram_segment(spark, str(d)).collect()
    }
    assert got == {k: tuple(v) for k, v in agg.items()}
    assert any(k >= 2 for k in got)  # multi-piece structure really exercised


def test_unigram_empty_corpus_returns_zero_rows(spark, empty_sf_dir):
    from doc2vec_spark.operators.unigram import ta_unigram_segment

    out = ta_unigram_segment(spark, empty_sf_dir)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "n_pieces", "n_words", "total_freq",
        "sum_cost_unats", "wsum_cost_unats", "sample_word",
    ]


def test_trained_ivfpq_self_consistency(spark):
    """The ADC invariant under the TRAINED quantizer: the query vector's
    own codes minimize the ADC sum, so vec_id 0 surfaces at rank 1 and
    adc_dist is nondecreasing in rank."""
    from doc2vec_spark.operators.serving import ann_ivf_pq_search_trained

    rows = sorted(
        ann_ivf_pq_search_trained(spark, SF_DIR).collect(), key=lambda r: r["rnk"]
    )
    assert rows[0]["vec_id"] == 0 and rows[0]["rnk"] == 1
    dists = [r["adc_dist"] for r in rows]
    assert dists == sorted(dists)


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit
# ---------------------------------------------------------------------------


def test_zipf_fit_recovers_planted_exponent(spark, tmp_path):
    """A corpus built with freq(rank) = round(C / rank^s) for s=1 must fit
    zipf_s_milli ~ 1000; the sufficient statistics must reproduce the
    Python OLS exactly."""
    import math

    from doc2vec_spark.operators.corpusstats import ta_zipf_fit

    C, S, V = 4000, 1.0, 40
    words = []
    for r in range(1, V + 1):
        words += [f"w{r:03d}"] * max(round(C / r**S), 1)
    text = " ".join(words)
    pa_tbl = pa.table({
        "doc_id": pa.array([1], pa.int64()),
        "text": pa.array([text], pa.string()),
        "lang": pa.array(["en"], pa.string()),
        "source": pa.array(["s"], pa.string()),
        "n_chars": pa.array([len(text)], pa.int64()),
    })
    d = tmp_path / "sf_zipf"
    d.mkdir()
    pq.write_table(pa_tbl, str(d / "documents.parquet"))

    r = ta_zipf_fit(spark, str(d)).collect()[0]
    assert r["n"] == V
    # python replay of the integer OLS
    xs = [int(math.floor(math.log(k) * 1000 + 0.5)) for k in range(1, V + 1)]
    fs = sorted((max(round(C / k**S), 1) for k in range(1, V + 1)), reverse=True)
    ys = [int(math.floor(math.log(f) * 1000 + 0.5)) for f in fs]
    n, sx, sy = V, sum(xs), sum(ys)
    sxy, sxx = sum(a * b for a, b in zip(xs, ys)), sum(a * a for a in xs)
    assert (r["sx"], r["sy"], r["sxy"], r["sxx"]) == (sx, sy, sxy, sxx)
    exp = (sx * sy - n * sxy) * 1000 // max(n * sxx - sx * sx, 1)
    assert r["zipf_s_milli"] == exp
    assert 950 <= r["zipf_s_milli"] <= 1050  # recovers s=1 within rounding


def test_zipf_fit_empty_corpus_single_null_row(spark, empty_sf_dir):
    """Aggregate-over-empty parity: one row, n=0, NULL sums (what the
    oracle's SUM-over-empty yields)."""
    from doc2vec_spark.operators.corpusstats import ta_zipf_fit

    rows = ta_zipf_fit(spark, empty_sf_dir).collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 0 and rows[0]["sx"] is None


# ---------------------------------------------------------------------------
# robust MAD anomaly
# ---------------------------------------------------------------------------


def test_mad_anomaly_catches_what_the_spike_masks(spark, tmp_path):
    """The motivating robustness property: with one 100x spike in the
    window series, the spike inflates mean AND stddev enough that a 3x
    window stays under the 2-sigma z flag — but the median/MAD rule flags
    BOTH the spike and the 3x window."""
    from datetime import datetime, timedelta

    from doc2vec_spark.operators.anomaly import ev_anomaly_mad, ev_rate_anomaly

    base = datetime(2026, 1, 1)
    rows = []
    eid = 0
    # 20 quiet windows of 10 events, one 3x window, one 100x spike
    counts = [10] * 20 + [30] + [1000]
    for w, c in enumerate(counts):
        for k in range(c):
            rows.append((eid, base + timedelta(hours=6 * w, seconds=k), 1, "t", 0.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = tmp_path / "sf_mad"
    d.mkdir()
    df.coalesce(1).write.parquet(str(d / "events.parquet"))

    mad = {r["n"]: r for r in ev_anomaly_mad(spark, str(d)).collect()}
    assert mad[1000]["is_anomaly"] and mad[30]["is_anomaly"]
    assert not mad[10]["is_anomaly"]
    assert mad[10]["med"] == 10 and mad[10]["mad"] == 0
    z = {r["n"]: r for r in ev_rate_anomaly(spark, str(d)).collect()}
    assert not z[30]["is_anomaly"]  # masked by the spike's variance inflation


def test_mad_anomaly_integer_replay(spark):
    """rz_centi and the flag must replay the integer formula from the
    emitted med/mad columns on the driver corpus."""
    from doc2vec_spark.operators.anomaly import MAD_THRESHOLD_CENTI, ev_anomaly_mad

    for r in ev_anomaly_mad(spark, SF_DIR).collect():
        def trunc_div(a, b):
            q = abs(a) // max(b, 1)
            return q if a >= 0 else -q
        rz = trunc_div((r["n"] - r["med"]) * 100, max(r["mad"], 1))
        assert r["rz_centi"] == rz
        assert r["is_anomaly"] == (abs(rz) >= MAD_THRESHOLD_CENTI)


# ---------------------------------------------------------------------------
# round-13 self-review regressions
# ---------------------------------------------------------------------------


def test_fps_memo_vectors_deep_copied(spark):
    """Review finding: the memo 'copy' was shallow — mutating a returned
    center VECTOR must not corrupt later cache hits."""
    from doc2vec_spark.operators import coreset

    first = coreset.fps_select(spark, SF_DIR)
    v0 = first[0][3][0]
    first[0][3][0] = 12345.0
    again = coreset.fps_select(spark, SF_DIR)
    assert again[0][3][0] == v0


def test_nearest_cell_matches_engine_assignment(spark):
    """Review finding: the probe must pick cells on the SAME packed
    (d6, cell) key the assignment fold minimizes — checked by comparing
    _nearest_cell against cell_assignment_col for every chunk embedding."""
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding import with_embeddings
    from doc2vec_spark.operators.serving import (
        _nearest_cell,
        build_chunk_ann_index,
        cell_assignment_col,
    )

    docs = spark.createDataFrame(
        [
            (f"https://d/x{i}.md", f"# H{i}\n" + f"w{i} " * 40, "p", "1")
            for i in range(7)
        ],
        "url string, markdown string, product_name string, version string",
    )
    chunks = with_embeddings(chunk_documents(docs)).cache()
    index = build_chunk_ann_index(chunks)
    rows = chunks.select(
        "embedding", cell_assignment_col(index).alias("cell")
    ).collect()
    for r in rows:
        qv = [float(x) for x in r["embedding"]]
        assert _nearest_cell(index, qv) == r["cell"]
    chunks.unpersist()


def test_routed_api_trains_once_per_frame(spark, monkeypatch):
    """Review finding: without an explicit index, repeated serving calls
    over the same frame must reuse the trained quantizer (one build), not
    retrain per query."""
    from doc2vec_spark import train_cache
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding import with_embeddings
    from doc2vec_spark.operators import serving

    docs = spark.createDataFrame(
        [(f"https://d/y{i}.md", f"# H{i}\n" + f"q{i} " * 30, "p", "1") for i in range(6)],
        "url string, markdown string, product_name string, version string",
    )
    chunks = with_embeddings(chunk_documents(docs)).cache()
    train_cache.clear()
    calls = {"n": 0}
    real = serving.build_chunk_ann_index

    def counting(frame):
        calls["n"] += 1
        return real(frame)

    monkeypatch.setattr(serving, "build_chunk_ann_index", counting)
    serving.query_documentation_routed(chunks, "q1", ann_threshold=0, k=2).collect()
    serving.query_documentation_routed(chunks, "q2 q3", ann_threshold=0, k=2).collect()
    assert calls["n"] == 1
    train_cache.clear()
    chunks.unpersist()


def test_audio_energy_python_reference(spark, tmp_path):
    """The frame/energy/zero-crossing pipeline must reproduce an exhaustive
    Python reference, including the single-sample last frame (the
    empty-pair-list edge the oracle COALESCEs)."""
    from doc2vec_spark.operators.audiodsp import FRAME, mm_audio_energy

    # doc_id % 3 == 1 -> audio/wav; 65 chars forces a 1-sample last frame
    text = ("ab z" * 16) + "q"  # len 65: mixed signs for zero crossings
    assert len(text) == FRAME + 1
    pa_tbl = pa.table({
        "doc_id": pa.array([1, 2], pa.int64()),
        "text": pa.array([text, "not audio"], pa.string()),
        "lang": pa.array(["en", "en"], pa.string()),
        "source": pa.array(["s", "s"], pa.string()),
        "n_chars": pa.array([len(text), 9], pa.int64()),
    })
    d = tmp_path / "sf_audio"
    d.mkdir()
    pq.write_table(pa_tbl, str(d / "documents.parquet"))

    rows = {r["frame_idx"]: r for r in mm_audio_energy(spark, str(d)).collect()}
    assert set(rows) == {0, 1}  # only the audio doc, two frames

    def ref(fs):
        v = [ord(c) - 96 for c in fs]
        zc = sum(1 for a, b in zip(v, v[1:]) if a * b < 0)
        return len(v), sum(x * x for x in v), zc

    n0, e0, z0 = ref(text[:FRAME])
    assert (rows[0]["n_samples"], rows[0]["energy"], rows[0]["zero_crossings"]) == (n0, e0, z0)
    n1, e1, z1 = ref(text[FRAME:])
    assert (rows[1]["n_samples"], rows[1]["energy"], rows[1]["zero_crossings"]) == (1, e1, 0)
    assert z0 > 0  # the mixed-sign corpus really exercises crossings


def test_filter_funnel_monotone_and_consistent(spark):
    """Cumulative funnel semantics: counts and token mass nonincreasing by
    stage; stage 0 is the full corpus; the perplexity stage drops about a
    tercile of the dedup stage's languages (CCNet tail rule)."""
    from doc2vec_spark.operators.funnel import pipe_filter_funnel
    from doc2vec_spark.tables import load

    rows = {r["stage"]: r for r in pipe_filter_funnel(spark, SF_DIR).collect()}
    assert [rows[s]["stage_name"] for s in range(4)] == [
        "ingested", "gopher", "dedup", "perplexity",
    ]
    assert rows[0]["n_docs"] == load(spark, SF_DIR, "documents").count()
    for s in range(1, 4):
        assert rows[s]["n_docs"] <= rows[s - 1]["n_docs"]
        assert rows[s]["n_tokens"] <= rows[s - 1]["n_tokens"]
    assert rows[3]["n_docs"] < rows[2]["n_docs"]  # the tail drop really bites


def test_sq8_recall_vs_exact(spark):
    """SQ8's integer code distance must approximate exact cosine well on
    the test corpus: recall@10 vs the exact cosine top-10 >= 0.7 (measured
    0.9-1.0; the int8 grid loses little at 64 dims), and sqdist must be
    nonneg and nondecreasing in rank."""
    from pyspark.sql import functions as F

    from doc2vec_spark.functions.vectors import (
        as_double_array,
        cosine_distance,
        lit_vector,
    )
    from doc2vec_spark.operators.sq8 import SQ_K, ann_sq8_search
    from doc2vec_spark.tables import load

    got = sorted(ann_sq8_search(spark, SF_DIR).collect(), key=lambda r: r["rnk"])
    dists = [r["sqdist"] for r in got]
    assert all(d >= 0 for d in dists) and dists == sorted(dists)

    e = load(spark, SF_DIR, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    qv = list(e.filter(F.col("vec_id") == 0).first()["v"])
    exact = {
        r["vec_id"]
        for r in e.filter(F.col("vec_id") != 0)
        .select("vec_id", cosine_distance(F.col("v"), lit_vector(qv)).alias("d"))
        .orderBy("d", "vec_id")
        .limit(SQ_K)
        .collect()
    }
    assert len({r["vec_id"] for r in got} & exact) / SQ_K >= 0.7


# ---------------------------------------------------------------------------
# empty-embeddings hardening (the ADVICE degenerate-input class, closed
# proactively for the whole embedding plane)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def empty_emb_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_empty_emb")
    schema = pq.read_schema(f"{SF_DIR}/embeddings.parquet")
    pq.write_table(
        pa.table({f.name: pa.array([], f.type) for f in schema}, schema=schema),
        str(d / "embeddings.parquet"),
    )
    return str(d)


_EMB_PLANE = [
    "ann_sq8_search", "ann_ndcg_at_k", "ann_ivf_search_multiprobe",
    "doc_knn_query_routed", "ann_ivf_pq_search_trained", "ann_recall_at_k",
    "ann_ivf_recall", "ann_ivf_search_trained", "ann_kmeans_train",
    "ann_kmeans_assign", "ann_kmeans_separation", "pipe_prototype_prune",
    "pipe_coreset_fps", "pipe_coreset_coverage",
]


@pytest.mark.parametrize("name", _EMB_PLANE)
def test_embedding_plane_empty_table_matches_oracle(name, spark, empty_emb_dir):
    """Every embedding-plane query must answer an EMPTY embeddings table
    with zero rows, like its oracle — previously all 14 crashed driver-side
    (first()/collect()[0]/F.least(*[]) on nothing) while the oracles'
    CTE chains collapsed to 0 rows."""
    import duckdb

    from doc2vec_spark.registry import merged_queries

    q = merged_queries()[name]
    assert q.fn(spark, empty_emb_dir).count() == 0
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{empty_emb_dir}/embeddings.parquet'"
    )
    assert len(con.sql(q.oracle).fetchall()) == 0
    con.close()


def test_nb_family_empty_corpus_zero_rows(spark, empty_sf_dir):
    """The NB grid's literal struct-array explode crashed on an empty
    corpus (no classes -> untyped empty array); all three NB queries must
    answer with 0 rows like their oracles."""
    from doc2vec_spark.operators.classifier import (
        ta_nb_classify,
        ta_nb_classify_log,
        ta_nb_confusion,
    )

    for fn in (ta_nb_classify, ta_nb_classify_log, ta_nb_confusion):
        assert fn(spark, empty_sf_dir).count() == 0


# ---------------------------------------------------------------------------
# physical-plan shape pins for the round-13 plane (beyond the blanket
# contract's bans — these pin the plan each docstring PROMISES)
# ---------------------------------------------------------------------------


def _plan(spark, df):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_domain_cap_plan_shape(spark):
    """Two-level prefix sum as promised: partitioned windows and a
    broadcast offsets join — never a sort-merge join of the offsets."""
    from doc2vec_spark.operators.domaincap import pipe_domain_cap

    p = _plan(spark, pipe_domain_cap(spark, SF_DIR))
    assert p.count("Window") >= 2
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_audio_energy_plan_is_shuffle_free(spark):
    """No KEYED shuffle: the only exchange allowed is the round-robin
    repartition barrier (single-file scan fan-out); no hashpartitioning
    anywhere — decode -> frame explode -> per-frame aggregate is map-only."""
    from doc2vec_spark.operators.audiodsp import mm_audio_energy

    p = _plan(spark, mm_audio_energy(spark, SF_DIR))
    assert "hashpartitioning" not in p
    assert p.count("Exchange") == p.count("REPARTITION_BY_NUM") or         all("roundrobin" in l.lower() for l in p.splitlines()
            if "Arguments: " in l and "partitioning" in l.lower())
    assert "Generate" in p  # the frame explode


def test_sq8_plan_shape(spark):
    """Integer-code scan feeding TakeOrderedAndProject; no join in the
    scoring path (bounds/query enter as literals)."""
    from doc2vec_spark.operators.sq8 import ann_sq8_search

    p = _plan(spark, ann_sq8_search(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "Join" not in p
