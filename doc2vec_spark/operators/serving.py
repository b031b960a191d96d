"""Routed serving-path KNN (round 13, VERDICT r12 #1).

The reference's query plane delegates every search to a vector INDEX,
never a corpus scan (``mcp/src/server.ts:448-476`` hands the query vector
to sqlite-vec / Qdrant; collections are built Cosine-distance,
``database.ts:89-94``). Our serving API so far answered with the exact
cosine top-k — correct, and at small corpus sizes also the FASTEST plan
(one narrow TakeOrderedAndProject scan beats paying any index) — but an
O(n) scan per query at 100 TB.

This module is the routed tier that closes that gap, under the engine's
established corpus-size-routing discipline (``ann_knn_graph``'s SRP plane
tiers, ``dedup_simhash``'s band-width routing):

- **n <= SERVE_EXACT_MAX**: exact cosine top-k. Below the threshold the
  scan IS the right plan; parity with the reference's results is exact.
- **n > SERVE_EXACT_MAX**: the trained-IVF composition
  (``ann_ivf_search_trained``): train the coarse quantizer on the bounded
  KM_SAMPLE_N-row sample (training cost FLAT in corpus size), assign the
  corpus map-only against the k broadcast literal centroids, probe ONLY
  the query's cell (~n/K rows), exact top-k within it. At scale the cell
  is the partition key and nprobe=1 touches one partition.

The oracle routes on the same COUNT(*) (parquet-footer metadata count
engine-side), so the driver's hash gate holds for whichever branch is
live at its scale factor; the IVF branch is additionally pinned by a
forced-route parity pytest at a lowered cutoff plus a recall-vs-exact
floor (the knn-graph wide-tier precedent for tiers the driver SFs never
reach).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark import train_cache
from doc2vec_spark.functions.rounding import pround
from doc2vec_spark.functions.vectors import cosine_distance_lit, lit_vector
from doc2vec_spark.operators.coreset import (
    _E_CTE,
    _d6_int,
    _fps_recursion,
    embeddings_with_norms,
)
from doc2vec_spark.operators.kmeans import (
    _D6_CELL_SQL,
    _FP,
    _KM_FINAL,
    _SAMPLE_CTE,
    _lloyd_ctes,
    train_kmeans,
)
from doc2vec_spark.spec import QuerySpec
from doc2vec_spark.tables import load

QUERIES: dict[str, QuerySpec] = {}


def _register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


SERVE_EXACT_MAX = 10_000  # exact scan at/below; trained-IVF probe above
SERVE_K = 5

_DIST_SQL = (
    "1 - list_dot_product(a.v, q.qv) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv)))"
)


def routed_oracle(cutoff: int = SERVE_EXACT_MAX, k: int = SERVE_K) -> str:
    """Both branches in one statement, gated on the corpus COUNT(*) — the
    _knn_graph_oracle pattern. The forced-route pytest rebuilds this with
    a lowered cutoff to drive the IVF branch at test scale."""
    return f"""
    WITH RECURSIVE
    nn AS (SELECT COUNT(*) AS c FROM embeddings),
    {_E_CTE},
    {_SAMPLE_CTE},
    {_fps_recursion('es')},
    {_lloyd_ctes()},
    cvf AS (
      SELECT cell, list(fp / 1000000000.0 ORDER BY dim) AS v
      FROM {_KM_FINAL} GROUP BY cell),
    asg AS (
      SELECT a.vec_id, MIN({_D6_CELL_SQL} * 100 + c.cell) % 100 AS cell
      FROM e a CROSS JOIN cvf c
      GROUP BY a.vec_id),
    b AS (SELECT e.vec_id, e.v, asg.cell FROM e JOIN asg USING (vec_id)),
    qc AS (SELECT v AS qv, cell AS qcell FROM b WHERE vec_id = 0),
    icand AS (
      SELECT vec_id, {_DIST_SQL.replace('q.qv', 'qc.qv')} AS dist
      FROM b a, qc WHERE a.cell = qc.qcell),
    ivf AS (
      SELECT vec_id, rnk,
             floor(dist * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS distance
      FROM (SELECT vec_id, dist,
                   ROW_NUMBER() OVER (ORDER BY dist, vec_id) AS rnk
            FROM icand)
      WHERE rnk <= {k}),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    ecand AS (SELECT a.vec_id, {_DIST_SQL} AS dist FROM e a, q),
    ex AS (
      SELECT vec_id, rnk,
             floor(dist * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS distance
      FROM (SELECT vec_id, dist,
                   ROW_NUMBER() OVER (ORDER BY dist, vec_id) AS rnk
            FROM ecand)
      WHERE rnk <= {k})
    SELECT * FROM ex WHERE (SELECT c FROM nn) <= {cutoff}
    UNION ALL
    SELECT * FROM ivf WHERE (SELECT c FROM nn) > {cutoff}
    """


def exact_topk(spark: SparkSession, sf_dir: str, k: int = SERVE_K) -> DataFrame:
    """The below-threshold branch: exact cosine top-k, one narrow scan
    compiling to TakeOrderedAndProject (the t1_knn_cosine_topk plan)."""
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:  # empty embeddings / no query row: oracle emits 0 rows
        return spark.createDataFrame([], "vec_id long, rnk int, distance double")
    qvec = qrow["embedding"]
    from doc2vec_spark.functions.vectors import as_double_array

    scored = emb.select(
        "vec_id",
        cosine_distance_lit(as_double_array(F.col("embedding")), list(qvec)).alias(
            "dist"
        ),
    )
    topk = scored.orderBy(F.asc("dist"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.asc("dist"), F.asc("vec_id"))
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        "vec_id", "rnk", (pround(F.col("dist"), 6) + 0.0).alias("distance")
    )


def ivf_topk(spark: SparkSession, sf_dir: str, k: int = SERVE_K) -> DataFrame:
    """The above-threshold branch: trained-quantizer assignment + one-cell
    probe + exact top-k within the cell (ann_ivf_search_trained's plan,
    kmeans.py:439)."""
    from pyspark.sql import Window

    cents = train_kmeans(spark, sf_dir)
    if not cents:  # empty embeddings: oracle emits 0 rows
        return spark.createDataFrame([], "vec_id long, rnk int, distance double")
    e = embeddings_with_norms(spark, sf_dir)
    o = F.least(
        *[
            _d6_int(F.col("v"), F.col("nv"), [fp / _FP for fp in cents[c]])
            * F.lit(100)
            + F.lit(c)
            for c in sorted(cents)
        ]
    )
    b = e.select("vec_id", "v", (o % 100).alias("cell"))
    qrow = b.filter(F.col("vec_id") == 0).select("v", "cell").first()
    if qrow is None:  # vec_id 0 absent: oracle's query CTE is empty -> 0 rows
        return spark.createDataFrame([], "vec_id long, rnk int, distance double")
    qv, qcell = list(qrow["v"]), int(qrow["cell"])
    cand = b.filter(F.col("cell") == qcell).select(
        "vec_id", cosine_distance_lit(F.col("v"), qv).alias("dist")
    )
    topk = cand.orderBy(F.asc("dist"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.asc("dist"), F.asc("vec_id"))
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        "vec_id", "rnk", (pround(F.col("dist"), 6) + 0.0).alias("distance")
    )


@_register(
    "doc_knn_query_routed",
    routed_oracle(),
    "The serving-path KNN, corpus-size-routed (VERDICT r12 #1): <= "
    f"{SERVE_EXACT_MAX} vectors answers with the exact cosine top-{SERVE_K} "
    "(one TakeOrderedAndProject scan — below the threshold the scan IS the "
    "best plan); above it the trained-IVF tier takes over — bounded-sample "
    "Lloyd quantizer (training FLAT in corpus size), map-only corpus "
    "assignment against broadcast literal centroids, nprobe=1 cell probe "
    "(~n/8 rows scanned instead of n). Mirrors the reference's query plane, "
    "which delegates to a vector index and never scans "
    "(mcp/src/server.ts:448-476, database.ts:89-94). Oracle routes on the "
    "same COUNT(*); the IVF branch is pinned by a forced-route parity + "
    "recall pytest (the knn-graph wide-tier precedent).",
)
def doc_knn_query_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parquet-footer metadata count — the routing probe costs no scan
    n_vecs = load(spark, sf_dir, "embeddings").count()
    if n_vecs <= SERVE_EXACT_MAX:
        return exact_topk(spark, sf_dir)
    return ivf_topk(spark, sf_dir)


NPROBE = 2


def _py_d6(a: list[float], b: list[float]) -> int:
    """floor((1 - dot/(|a||b|)) * 1e6 + 0.5) in pure sequential Python
    float arithmetic — the same left-to-right IEEE fold DuckDB's
    list_dot_product performs, so the integer agrees bitwise with
    _D6_CELL_SQL (the _fp_int precedent)."""
    import math

    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    return int(math.floor((1.0 - dot / (math.sqrt(na) * math.sqrt(nb))) * 1000000.0 + 0.5))


@_register(
    "ann_ivf_search_multiprobe",
    f"""
    WITH RECURSIVE
    {_E_CTE},
    {_SAMPLE_CTE},
    {_fps_recursion('es')},
    {_lloyd_ctes()},
    cvf AS (
      SELECT cell, list(fp / 1000000000.0 ORDER BY dim) AS v
      FROM {_KM_FINAL} GROUP BY cell),
    asg AS (
      SELECT a.vec_id, MIN({_D6_CELL_SQL} * 100 + c.cell) % 100 AS cell
      FROM e a CROSS JOIN cvf c
      GROUP BY a.vec_id),
    b AS (SELECT e.vec_id, e.v, asg.cell FROM e JOIN asg USING (vec_id)),
    q0 AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    qcells AS (
      SELECT cell FROM (
        SELECT c.cell,
               ROW_NUMBER() OVER (
                 ORDER BY CAST(floor((1.0 - list_dot_product(q0.qv, c.v) /
                   (sqrt(list_dot_product(q0.qv, q0.qv)) *
                    sqrt(list_dot_product(c.v, c.v)))) * 1000000.0 + 0.5)
                   AS BIGINT), c.cell) AS rk
        FROM cvf c, q0)
      WHERE rk <= {NPROBE}),
    cand AS (
      SELECT a.vec_id, {_DIST_SQL} AS dist
      FROM b a JOIN qcells USING (cell), (SELECT qv FROM q0) q)
    SELECT vec_id, rnk,
           floor(dist * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS distance
    FROM (SELECT vec_id, dist,
                 ROW_NUMBER() OVER (ORDER BY dist, vec_id) AS rnk
          FROM cand)
    WHERE rnk <= {SERVE_K}
    """,
    f"Multi-probe trained-IVF search (nprobe={NPROBE}): the standard "
    "recall knob on a production IVF index — probe the query's "
    f"{NPROBE} nearest cells instead of one, ~{NPROBE}/K of the corpus "
    "scanned for recall strictly >= the single-probe tier. Cell ranking "
    "is the integer d6 distance computed driver-side over the bounded "
    "centroid table (pure sequential float fold, bitwise-matching the "
    "oracle's list_dot_product); candidates stay a map-only cell-membership "
    "filter + TakeOrderedAndProject.",
)
def ann_ivf_search_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cents = train_kmeans(spark, sf_dir)
    if not cents:  # empty embeddings: oracle emits 0 rows
        return spark.createDataFrame([], "vec_id long, rnk int, distance double")
    cvf = {c: [fp / _FP for fp in v] for c, v in cents.items()}
    e = embeddings_with_norms(spark, sf_dir)
    o = F.least(
        *[
            _d6_int(F.col("v"), F.col("nv"), cvf[c]) * F.lit(100) + F.lit(c)
            for c in sorted(cvf)
        ]
    )
    b = e.select("vec_id", "v", (o % 100).alias("cell"))
    qrow = e.filter(F.col("vec_id") == 0).select("v").first()
    if qrow is None:  # vec_id 0 absent: oracle's q0 CTE is empty -> 0 rows
        return spark.createDataFrame([], "vec_id long, rnk int, distance double")
    qv = list(qrow["v"])
    probed = sorted(sorted(cvf), key=lambda c: (_py_d6(qv, cvf[c]), c))[:NPROBE]
    cand = b.filter(F.col("cell").isin(probed)).select(
        "vec_id", cosine_distance_lit(F.col("v"), qv).alias("dist")
    )
    topk = cand.orderBy(F.asc("dist"), F.asc("vec_id")).limit(SERVE_K)
    w = Window.orderBy(F.asc("dist"), F.asc("vec_id"))
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        "vec_id", "rnk", (pround(F.col("dist"), 6) + 0.0).alias("distance")
    )


# ---------------------------------------------------------------------------
# the routed serving API over CHUNK tables (query.py's frame convention)
# ---------------------------------------------------------------------------
# Housed here rather than in query.py deliberately: query.py is in the
# spec-hash import closure of ~50 relational registry queries, none of
# which execute the ANN tier — adding the kmeans dependency there would
# reopen every one of their driver stamps for a tier they never run. The
# split also mirrors the reference's layering: the store/scan layer
# (database.ts) knows nothing of the index build, which lives with the
# vector-index plumbing.


def build_chunk_ann_index(
    chunks: DataFrame,
) -> dict[int, list[float]]:
    """Train the IVF coarse quantizer over a chunk table's embeddings:
    {cell: centroid components (floats)}. Training reads only the bounded
    KM_SAMPLE_N-row sample (kmeans.py's frame seam), so the cost is FLAT
    in corpus size; at 100 TB a deployment runs this once per sync, stores
    the k*dim floats next to the sync watermarks (the vec_metadata KV
    precedent), and passes it to every query — the reference's
    build-index-once / probe-per-query split (database.ts:89-94)."""
    from doc2vec_spark.functions.vectors import as_double_array, l2_norm

    e = chunks.select(
        F.col("chunk_id").alias("vec_id"),
        as_double_array(F.col("embedding")).alias("v"),
    ).select("vec_id", "v", l2_norm(F.col("v")).alias("nv"))
    cents = train_kmeans(chunks.sparkSession, "", frame=e)
    return {c: [fp / _FP for fp in v] for c, v in cents.items()}


def train_chunk_pq_codebooks(chunks: DataFrame) -> list[list[list[float]]]:
    """Trained PQ codebooks over a chunk table's embeddings — the
    product-quantizer sibling of build_chunk_ann_index, same bounded
    md5-ordered sample, same frame seam. A deployment trains both once per
    sync and persists them together (index_store.ensure_pq_codebooks);
    the result is M*K*SUB floats of driver state, FLAT in corpus size."""
    from doc2vec_spark.functions.vectors import as_double_array, l2_norm

    e = chunks.select(
        F.col("chunk_id").alias("vec_id"),
        as_double_array(F.col("embedding")).alias("v"),
    ).select("vec_id", "v", l2_norm(F.col("v")).alias("nv"))
    return train_pq_codebooks(chunks.sparkSession, "", frame=e)


def _nearest_cells(
    index: dict[int, list[float]], qvec: list[float], nprobe: int = 1
) -> list[int]:
    """Driver-side rank of the k centroids (bounded state) by the SAME
    packed (d6-rounded distance, cell) key the engine's assignment fold
    minimizes (`_py_d6` replays `_d6_int` bitwise). Raw-float ranking here
    could probe a different cell than the one an identical embedding was
    ASSIGNED to whenever two centroid distances round to the same d6
    integer (round-13 review finding): assignment breaks that tie on cell
    id, so the probe must too. ``nprobe`` is the production recall knob
    (ann_ivf_search_multiprobe's semantics): the query's own cell is
    always probed[0]."""
    return sorted(index, key=lambda c: (_py_d6(qvec, index[c]), c))[:nprobe]


def _nearest_cell(index: dict[int, list[float]], qvec: list[float]) -> int:
    return _nearest_cells(index, qvec, 1)[0]


def cell_assignment_col(index: dict[int, list[float]]):
    """The map-only cell-assignment expression over a chunk frame's
    embedding column — k broadcast-literal folds, no shuffle. At ingest a
    deployment persists this as the partition/bucket column so a query
    probe touches ONE partition."""
    from doc2vec_spark.functions.vectors import as_double_array, l2_norm

    v = as_double_array(F.col("embedding"))
    nv = l2_norm(v)
    o = F.least(
        *[
            _d6_int(v, nv, index[c]) * F.lit(100) + F.lit(c)
            for c in sorted(index)
        ]
    )
    return (o % 100).cast("long")


def query_documentation_routed(
    chunks: DataFrame,
    query_text: str,
    index: dict[int, list[float]] | None = None,
    ann_threshold: int | None = None,
    corpus_size: int | None = None,
    dim: int | None = None,
    nprobe: int = 1,
    **kwargs,
):
    """query.py:28's query_documentation with the corpus-size-routed ANN
    tier in front (VERDICT r12 #1). Routing: an explicit ``index`` (from
    build_chunk_ann_index) always probes; otherwise corpora above
    ``ann_threshold`` (default SERVE_EXACT_MAX) train once in-session and
    probe; at or below it the exact TakeOrderedAndProject scan runs
    unchanged (reference-parity results, and genuinely the fastest plan
    there). The probe filters chunks to the query's nearest cell BEFORE
    query.py's metadata/prefix/extension filters and top-k — filters are
    pushed into the one-cell scan, so no 3x over-fetch is needed (the
    reference must over-fetch because its index can't push filters,
    mcp/src/server.ts:134-135). ``corpus_size`` short-circuits the routing
    count for deployments that know their cardinality.

    "Train once in-session" is made true by train_cache's memo, keyed on
    the chunk frame's analyzed-plan semantic hash: repeated calls over the
    same frame (the serving loop) reuse the trained quantizer instead of
    re-paying the Lloyd loop per query (round-13 review finding). The key
    is a PLAN identity, not a data fingerprint — if the files under an
    identical plan are rewritten mid-session, pass ``index=`` explicitly
    or clear the memo; a real deployment rebuilds the index per sync (the
    reference's build-once/probe-per-query split), never mid-serving.
    The PERSISTED path closes that hole end to end:
    index_store.ensure_chunk_ann_index stores the centroids beside the
    sync watermarks keyed by the ChunkStore version token, so a rewrite
    invalidates by commit and a new session loads without retraining —
    pass its result as ``index=`` (round 14, VERDICT r13 #2)."""
    from doc2vec_spark.embedding import DEFAULT_DIM, embed_text
    from doc2vec_spark.query import query_documentation

    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    d = DEFAULT_DIM if dim is None else dim
    thresh = SERVE_EXACT_MAX if ann_threshold is None else ann_threshold
    if index is not None and not index:
        # an explicitly passed EMPTY index (fresh tenant / empty store)
        # FORCES the exact scan: it must not fall back into corpus-size
        # routing, which consults/trains the plan-hash memo — the
        # stale-prone path the persisted store exists to bypass (ADVICE r14)
        return query_documentation(chunks, query_text, dim=d, **kwargs)
    if index is None:
        n = corpus_size if corpus_size is not None else chunks.count()
        if n > thresh:
            key = (int(chunks._jdf.queryExecution().analyzed().semanticHash()),)
            index = train_cache.cached(
                "index", key, lambda: build_chunk_ann_index(chunks)
            ) or None
    if index is not None:
        qvec = [float(x) for x in embed_text(query_text, d)]
        probed = _nearest_cells(index, qvec, nprobe)
        # nprobe=1 stays an equality predicate (partition-prune exact);
        # nprobe>1 is the recall knob: isin over the probed cells — still a
        # map-only membership filter, ~nprobe/K of the corpus scanned
        # (VERDICT r13 #4; the reference exposes its tunable search surface
        # the same way, mcp/src/server.ts:117-151)
        col = cell_assignment_col(index)
        chunks = chunks.filter(
            col == probed[0] if nprobe == 1 else col.isin(probed)
        )
    return query_documentation(chunks, query_text, dim=d, **kwargs)


# ---------------------------------------------------------------------------
# PQ codebook training (VERDICT r13 #5): Lloyd per subspace on the sample
# ---------------------------------------------------------------------------
# ann_ivf_pq_search's codebooks were seeded literals (documented offline
# seam). This closes the seam: per-subspace k-means (M=8 subspaces x K=16
# codewords) trained on the SAME bounded md5-ordered sample the coarse
# quantizer trains on, in micro-unit fixed point so every arithmetic step
# is integer-exact and mirrored verbatim by the oracle's CTE chain — the
# full IVFADC layout (Jegou et al. 2011) is now trained end to end.
# Training state is M*K*SUB = 1024 ints on the driver (bounded, FLAT in
# corpus size); the corpus only ever sees the resulting literals.

PQ_FP = 1_000_000.0  # micro-unit fixed point: squared-L2 sums stay << 2^63
PQ_TRAIN_ITERS = 2  # same fixed-iteration discipline as the coarse KM_ITERS


def train_pq_codebooks(
    spark: SparkSession, sf_dir: str, frame: DataFrame | None = None
) -> list[list[list[float]]]:
    """[m][j][PQ_SUB] codeword floats (micro-ints / 1e6) after
    PQ_TRAIN_ITERS Lloyd iterations per subspace. Init: codeword j is the
    sub-vector of the (j+1)-th sample row in (md5(vec_id), vec_id) order —
    deterministic, zero extra scans. Assignment minimizes (sum((a-c)^2), j)
    so ties break on lower j in both engines (np.argmin picks the first
    minimum); the update is floor(SUM * 1.0 / COUNT) per dimension, the
    _lloyd_ctes quotient. All distances are exact int64 arithmetic
    (micro-unit diffs <= ~1e6, squared 8-dim sums <= ~8e12 — far inside
    int64), so the vectorized numpy path is bitwise the oracle's BIGINT
    CTEs. Cached (train_cache, both tiers) per (sf_dir, dataset
    fingerprint, M, K, iters) like train_kmeans — without it every bench
    rep re-paid the Lloyd loop (measured +1.2 s/rep); frames bypass the
    cache (no fingerprintable provenance)."""
    from doc2vec_spark.operators.coreset import dataset_fingerprint
    from doc2vec_spark.operators.similarity import PQ_K, PQ_M

    fp = dataset_fingerprint(sf_dir) if frame is None else ()
    return train_cache.cached(
        "pq",
        (sf_dir, fp, PQ_M, PQ_K, PQ_TRAIN_ITERS) if fp else None,
        lambda: _train_pq(spark, sf_dir, frame),
        train_cache.decode_codebooks,
    )


def _train_pq(
    spark: SparkSession, sf_dir: str, frame: DataFrame | None
) -> list[list[list[float]]]:
    import hashlib
    import math

    import numpy as np

    from doc2vec_spark.operators.kmeans import _sample_e
    from doc2vec_spark.operators.similarity import PQ_K, PQ_M, PQ_SUB

    rows = _sample_e(spark, sf_dir, frame).select("vec_id", "v").collect()
    rows.sort(
        key=lambda r: (
            hashlib.md5(str(r["vec_id"]).encode()).hexdigest(),
            r["vec_id"],
        )
    )
    if not rows:
        return []
    vecs = np.array(
        [[int(math.floor(float(x) * PQ_FP + 0.5)) for x in r["v"]] for r in rows],
        dtype=np.int64,
    )  # (n, DIM)
    n = len(vecs)
    k_eff = min(PQ_K, n)
    # (M, n, SUB) sample sub-vectors; (M, k_eff, SUB) codewords
    subs = vecs.reshape(n, PQ_M, PQ_SUB).transpose(1, 0, 2)
    cw = subs[:, :k_eff, :].copy()
    for _it in range(PQ_TRAIN_ITERS):
        new_cw = cw.copy()
        for m in range(PQ_M):
            # exact int64 squared-L2; argmin returns the FIRST minimal j
            d = ((subs[m][:, None, :] - cw[m][None, :, :]) ** 2).sum(-1)
            asg = d.argmin(1)
            for j in range(k_eff):
                mask = asg == j
                cnt = int(mask.sum())
                if cnt:  # empty codewords keep their previous value
                    sums = subs[m][mask].sum(0)
                    new_cw[m][j] = [
                        int(math.floor(int(t) / cnt)) for t in sums
                    ]
        cw = new_cw
    return [[[float(c) / PQ_FP for c in w] for w in cw[m]] for m in range(PQ_M)]


def _pq_train_ctes() -> str:
    """The oracle's mirror of train_pq_codebooks over the existing ``es``
    sample CTE: srk (md5 rank) -> ssub (micro-int sub-vectors) -> cb0
    (head-of-sample init) -> [pasg_i -> psum_i -> cb_{i+1}] x ITERS ->
    cbf (codeword floats for ADC scoring)."""
    from doc2vec_spark.operators.similarity import PQ_K, PQ_M, PQ_SUB

    ms = ", ".join(str(m) for m in range(PQ_M))
    parts = [
        """srk AS (
  SELECT vec_id, v,
         ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
  FROM es)""",
        f"""ssub AS (
  SELECT s.vec_id, s.rk, t.m,
         list_transform(s.v[t.m * {PQ_SUB} + 1 : (t.m + 1) * {PQ_SUB}],
                        x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS af
  FROM srk s, unnest([{ms}]) t(m))""",
        f"cb0 AS (SELECT m, rk - 1 AS j, af AS cf FROM ssub WHERE rk <= {PQ_K})",
    ]
    for it in range(PQ_TRAIN_ITERS):
        prev, cur = f"cb{it}", f"cb{it + 1}"
        parts.append(
            f"""pasg{it} AS (
  SELECT a.vec_id, a.m,
         CAST(MIN(CAST(list_sum(list_transform(range(1, {PQ_SUB} + 1),
                d -> (a.af[d] - c.cf[d]) * (a.af[d] - c.cf[d]))) AS BIGINT)
              * {PQ_K} + c.j) % {PQ_K} AS BIGINT) AS j
  FROM ssub a JOIN {prev} c ON c.m = a.m
  GROUP BY a.vec_id, a.m)"""
        )
        parts.append(
            f"""psum{it} AS (
  SELECT g.m, g.j, d.i AS dim,
         CAST(floor(SUM(a.af[d.i]) * 1.0 / COUNT(*)) AS BIGINT) AS fp
  FROM pasg{it} g JOIN ssub a ON a.vec_id = g.vec_id AND a.m = g.m,
       unnest(generate_series(1, {PQ_SUB})) d(i)
  GROUP BY g.m, g.j, d.i)"""
        )
        parts.append(
            f"""{cur} AS (
  SELECT p.m, p.j, COALESCE(n.cf, p.cf) AS cf
  FROM {prev} p LEFT JOIN (
    SELECT m, j, list(fp ORDER BY dim) AS cf FROM psum{it} GROUP BY m, j) n
    ON n.m = p.m AND n.j = p.j)"""
        )
    parts.append(
        f"""cbf AS (
  SELECT m, j, list_transform(cf, x -> x / 1000000.0) AS c
  FROM cb{PQ_TRAIN_ITERS})"""
    )
    return ",\n".join(parts)


# ---------------------------------------------------------------------------
# trained IVF-PQ: the full production ANN composition
# ---------------------------------------------------------------------------
# ann_ivf_pq_search (similarity.py) proved the ADC scan over SEEDED literal
# centroids; ann_ivf_search_trained (kmeans.py) proved the TRAINED coarse
# quantizer over full-vector scoring. This composes both halves into the
# layout a 100 TB deployment actually ships (Jegou et al. 2011 + Lloyd):
# bounded-sample-trained coarse quantizer routes the query to one cell,
# and candidates inside the cell are scored by M literal-LUT lookups on
# their 8-byte PQ codes — no full-vector reads in the scan. PQ codebooks
# stay the seeded literals of similarity.py: codebook refinement is an
# offline model concern, deliberately out of query semantics (documented
# there); what this query adds is the trained ROUTING tier under the ADC
# scan.


@_register(
    "ann_ivf_pq_search_trained",
    None,  # assembled below — needs similarity's PQ SQL fragments
)
def ann_ivf_pq_search_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from doc2vec_spark.functions.rounding import pround
    from doc2vec_spark.operators.similarity import (
        _py_dot,
        _with_pq_codes,
        PQ_M,
        PQ_SUB,
    )

    cents = train_kmeans(spark, sf_dir)
    if not cents:  # empty embeddings: oracle emits 0 rows
        return spark.createDataFrame([], "vec_id long, rnk int, adc_dist double")
    cvf = {c: [fp / _FP for fp in v] for c, v in cents.items()}
    e = embeddings_with_norms(spark, sf_dir)
    o = F.least(
        *[
            _d6_int(F.col("v"), F.col("nv"), cvf[c]) * F.lit(100) + F.lit(c)
            for c in sorted(cvf)
        ]
    )
    b = e.select("vec_id", "v", (o % 100).alias("cell"))
    qrow = b.filter(F.col("vec_id") == 0).select("v", "cell").first()
    if qrow is None:  # vec_id 0 absent: oracle's q CTE is empty -> 0 rows
        return spark.createDataFrame([], "vec_id long, rnk int, adc_dist double")
    qv, qcell = list(qrow["v"]), int(qrow["cell"])
    # Lloyd-trained codebooks over the same bounded sample (VERDICT r13
    # #5): the IVFADC layout is now trained end to end. cc is computed by
    # _py_dot (the oracle's list_dot_product left fold), and the ADC LUTs
    # replay the oracle's arithmetic order bitwise — 128 driver doubles.
    cbs = train_pq_codebooks(spark, sf_dir)
    cc_t = [[_py_dot(w, w) for w in cbs[m]] for m in range(PQ_M)]
    k_eff = len(cbs[0])
    luts: list[list[float]] = []
    for m in range(PQ_M):
        qm = [float(x) for x in qv[m * PQ_SUB : (m + 1) * PQ_SUB]]
        qq = _py_dot(qm, qm)
        luts.append(
            [(qq - 2.0 * _py_dot(qm, cbs[m][j])) + cc_t[m][j] for j in range(k_eff)]
        )
    cand = _with_pq_codes(b.filter(F.col("cell") == qcell), codebooks=cbs, cc=cc_t)
    adc = None
    for m in range(PQ_M):
        term = F.element_at(lit_vector(luts[m]), F.col(f"code_{m}") + 1)
        adc = term if adc is None else adc + term
    scored = cand.select("vec_id", adc.alias("adc"))
    topk = scored.orderBy(F.asc("adc"), F.asc("vec_id")).limit(10)
    w = Window.orderBy(F.asc("adc"), F.asc("vec_id"))
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        "vec_id", "rnk", (pround(F.col("adc"), 6) + 0.0).alias("adc_dist")
    )


def _trained_ivfpq_oracle() -> str:
    """Trained-quantizer routing + TRAINED per-subspace codebooks: the
    coarse Lloyd chain routes to one cell, _pq_train_ctes() trains the
    codebooks over the same sample, and the ADC scan scores candidates
    against CTE-derived codewords — ccode is the per-(vec_id, m) float
    argmin with ties to lower j (the numpy argmin convention), and the
    final adc is a left-associative 8-term sum matching the engine's
    literal-LUT fold order."""
    from doc2vec_spark.operators.similarity import PQ_M, PQ_SUB

    ms = ", ".join(str(m) for m in range(PQ_M))
    lut_at = " + ".join(
        f"(SELECT vals FROM lutl WHERE m = {m})[p.c{m} + 1]" for m in range(PQ_M)
    )
    cpiv_cols = ", ".join(
        f"MAX(j) FILTER (WHERE m = {m}) AS c{m}" for m in range(PQ_M)
    )
    return f"""
    WITH RECURSIVE
    {_E_CTE},
    {_SAMPLE_CTE},
    {_fps_recursion('es')},
    {_lloyd_ctes()},
    {_pq_train_ctes()},
    cvf AS (
      SELECT cell, list(fp / 1000000000.0 ORDER BY dim) AS v
      FROM {_KM_FINAL} GROUP BY cell),
    asg AS (
      SELECT a.vec_id, MIN({_D6_CELL_SQL} * 100 + c.cell) % 100 AS cell
      FROM e a CROSS JOIN cvf c
      GROUP BY a.vec_id),
    b AS (SELECT e.vec_id, e.v, asg.cell FROM e JOIN asg USING (vec_id)),
    q AS (SELECT b.v AS qv, b.cell AS qcell FROM b WHERE vec_id = 0),
    tm AS (SELECT unnest([{ms}]) AS m),
    csub AS (
      SELECT b.vec_id, t.m, b.v[t.m * {PQ_SUB} + 1 : (t.m + 1) * {PQ_SUB}] AS vm
      FROM b, tm t, q WHERE b.cell = q.qcell),
    ckey AS (
      SELECT s.vec_id, s.m, c.j,
             -2 * list_dot_product(s.vm, c.c) + list_dot_product(c.c, c.c) AS key
      FROM csub s JOIN cbf c ON c.m = s.m),
    ccode AS (
      SELECT vec_id, m, j FROM (
        SELECT vec_id, m, j,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY key, j) AS rn
        FROM ckey) WHERE rn = 1),
    cpiv AS (SELECT vec_id, {cpiv_cols} FROM ccode GROUP BY vec_id),
    qsub AS (SELECT t.m, q.qv[t.m * {PQ_SUB} + 1 : (t.m + 1) * {PQ_SUB}] AS qm
             FROM q, tm t),
    lut AS (
      SELECT s.m, c.j,
             (list_dot_product(s.qm, s.qm) - 2 * list_dot_product(s.qm, c.c))
               + list_dot_product(c.c, c.c) AS val
      FROM qsub s JOIN cbf c ON c.m = s.m),
    lutl AS (SELECT m, list(val ORDER BY j) AS vals FROM lut GROUP BY m),
    cand AS (SELECT p.vec_id, {lut_at} AS adc FROM cpiv p)
    SELECT vec_id, rnk, floor((adc) * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS adc_dist
    FROM (SELECT vec_id, adc, ROW_NUMBER() OVER (ORDER BY adc, vec_id) AS rnk
          FROM cand)
    WHERE rnk <= 10
    """


QUERIES["ann_ivf_pq_search_trained"] = QuerySpec(
    fn=QUERIES["ann_ivf_pq_search_trained"].fn,
    oracle=_trained_ivfpq_oracle(),
    doc="The full production ANN composition, now trained END TO END "
    "(VERDICT r13 #5): bounded-sample-TRAINED coarse quantizer (Lloyd "
    "over the FPS-seeded sample) routes the query to one cell, and the "
    "PQ codebooks are themselves Lloyd-trained per subspace on the same "
    "sample (micro-unit integer arithmetic, head-of-sample init, ties to "
    "lower j) — the complete IVFADC layout of Jegou et al. 2011 with "
    "zero seeded literals left. Candidates in the cell are scored by 8 "
    "trained-LUT lookups on their 8-byte codes; encode is the one "
    "Arrow-batched argmin stage, scoring/top-k JVM-side; training state "
    "is 1024 driver ints, FLAT in corpus size.",
)
