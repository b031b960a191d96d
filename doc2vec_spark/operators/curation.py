"""Corpus-curation operators (round 7): the remaining first-class moves a
100 TB pretraining-data pipeline makes between "raw corpus" and "training
order" that the dedup/pipe/ta families don't already cover.

- ``dedup_bloom_gate``:       Bloom-filter membership gate for INCREMENTAL
                              dedup — probe an incoming batch against a
                              position-set sketch of the existing corpus
                              before paying any join against it. At 100 TB
                              the corpus sketch is an m-bit bitmap (m/8
                              bytes) broadcast to every executor, so the
                              gate is a map-only stage; the relational
                              position-join form here computes the identical
                              verdict and is what the oracle checks.
- ``pipe_quality_classifier``: model-based quality filtering as a fixed-
                              weight linear classifier over integer
                              document features (the fasttext-style
                              keep/reject gate, reduced to its integer
                              core). All-integer logit: bitwise-identical
                              across engines, no sigmoid needed — the
                              decision boundary (logit > 0) and ranking are
                              invariant under the monotone sigmoid.
- ``ann_knn_graph``:          bulk k-NN graph over the embeddings table —
                              per-vector top-k neighbours WITHIN the
                              vector's SRP bucket (the seed-graph step of
                              NN-descent / SemDeDup-style clustering, and
                              the bulk analog of ann_srp_search's
                              one-query probe). Candidate cost scales with
                              bucket collisions, never n^2.
- ``pipe_global_shuffle``:    epoch-salted deterministic training-order
                              shuffle: shard-major permutation where the
                              shard is a hash bucket and the within-shard
                              order is rank-by-hash. No global sort: every
                              shard orders independently (a per-shard
                              window), which is the only shuffle shape that
                              survives 100 TB — and the salt makes each
                              epoch a fresh reproducible permutation.

Engine-portability rules as everywhere in this repo: md5-hex -> integer
hashing, integer arithmetic wherever the semantics allow, ``pround`` on any
double that crosses the driver's hash gate, identical aliases both sides.
"""

from __future__ import annotations

import numpy as _np

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doc2vec_spark.functions.rounding import pround, sql_round
from doc2vec_spark.functions.vectors import as_double_array, dot, l2_norm
from doc2vec_spark.operators.similarity import _SRP_BUCKET_SQL, srp_bucket_expr
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


# ---------------------------------------------------------------------------
# Bloom-filter membership gate (incremental dedup prefilter)
# ---------------------------------------------------------------------------
# Sizing: with |corpus| = n and k hash positions, the false-positive rate is
# ~(1 - e^{-kn/m})^k; the classic operating point is m ~ 10n bits -> <1% FP
# at k = 3. The fixture corpus is ~500-5k docs, so m = 2^16 keeps the gate
# honest (near-zero FP at sf0.01, a measurable handful at sf0.1) while the
# CONSTANT stays engine-literal in both plans. At 100 TB, m scales with the
# store's doc count (10 bits/doc -> a 1.25 GB bitmap per 10^12 docs, still
# broadcastable sharded by key range).

BLOOM_M = 65_536  # bits in the sketch
BLOOM_K = 3  # hash positions per document
BLOOM_BATCH_SOURCE = "src0"  # incoming batch = this source; corpus = rest


def _bloom_positions_sql(col: str) -> list[str]:
    """k independent positions from disjoint 8-hex windows of md5(text)."""
    return [
        f"('0x' || substr(md5({col}), {8 * i + 1}, 8))::BIGINT % {BLOOM_M}"
        for i in range(BLOOM_K)
    ]


def _bloom_positions_expr(col: Column) -> list[Column]:
    return [
        F.conv(F.substring(F.md5(col), 8 * i + 1, 8), 16, 10).cast("long")
        % BLOOM_M
        for i in range(BLOOM_K)
    ]


@_register(
    "dedup_bloom_gate",
    f"""
    WITH corpus AS (
      SELECT text FROM documents WHERE source <> '{BLOOM_BATCH_SOURCE}'
    ),
    corpus_pos AS (
      SELECT DISTINCT pos FROM corpus,
        UNNEST([{", ".join(_bloom_positions_sql("text"))}]) AS t(pos)
    ),
    batch AS (
      SELECT doc_id, text FROM documents WHERE source = '{BLOOM_BATCH_SOURCE}'
    ),
    batch_pos AS (
      SELECT doc_id, pos FROM batch,
        UNNEST([{", ".join(_bloom_positions_sql("text"))}]) AS t(pos)
    ),
    hits AS (
      SELECT b.doc_id,
             CAST(COUNT(c.pos) AS BIGINT) AS n_hit
      FROM batch_pos b LEFT JOIN corpus_pos c ON b.pos = c.pos
      GROUP BY b.doc_id
    ),
    exact AS (
      SELECT b.doc_id,
             EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text) AS exact_dup
      FROM batch b
    )
    SELECT h.doc_id, h.n_hit, h.n_hit = {BLOOM_K} AS maybe_dup, e.exact_dup
    FROM hits h JOIN exact e ON h.doc_id = e.doc_id
    """,
    "Bloom membership gate for incremental dedup: the incoming batch "
    "(source = {src!r}) probes a {k}-position / {m}-bit sketch of the "
    "existing corpus; only maybe_dup survivors would pay the exact "
    "verification join. At scale the corpus side is a broadcast bitmap "
    "(map-only probe); the position-join form here is the oracle-checkable "
    "relational equivalent — positions are uniform md5 windows, so the "
    "join key cannot skew. exact_dup records the ground truth so the "
    "gate's false-positive behaviour is itself hash-checked.".format(
        src=BLOOM_BATCH_SOURCE, k=BLOOM_K, m=BLOOM_M
    ),
)
def dedup_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != BLOOM_BATCH_SOURCE)
    batch = docs.filter(F.col("source") == BLOOM_BATCH_SOURCE)

    pos_arr = F.array(*_bloom_positions_expr(F.col("text")))
    corpus_pos = (
        corpus.select(F.explode(pos_arr).alias("pos")).distinct()
    )
    batch_pos = batch.select("doc_id", F.explode(pos_arr).alias("pos"))
    # At 100 TB corpus_pos collapses to an m-bit broadcast bitmap; at any
    # scale it is at most m = 65536 rows, so Spark broadcasts the join.
    matched = (
        batch_pos.join(F.broadcast(corpus_pos), "pos", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    all_docs = batch.select("doc_id")
    hits = (
        all_docs.join(matched, "doc_id", "left")
        .select("doc_id", F.coalesce("n_hit", F.lit(0)).alias("n_hit"))
    )
    exact = batch.join(
        corpus.select("text").distinct(), "text", "left_semi"
    ).select("doc_id", F.lit(True).alias("exact_dup"))
    return (
        hits.join(exact, "doc_id", "left")
        .select(
            "doc_id",
            "n_hit",
            (F.col("n_hit") == BLOOM_K).alias("maybe_dup"),
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-weight linear quality classifier
# ---------------------------------------------------------------------------
# Integer feature vector per document and integer weights: the logit is
# exact 64-bit arithmetic, so keep/reject and any score ranking are
# bitwise-identical across engines (sigmoid(logit) would order identically;
# it is deliberately not materialized). Weights are the classifier "model" —
# at 100 TB they arrive from a trained model file; the plan shape (one
# doc-keyed aggregation, then a map-only scoring projection) is what matters.

QC_W_UNIQ = 25  # reward vocabulary richness
QC_W_REP = -8  # penalize repeated tokens (n_words - uniq_toks)
QC_W_STOP = 60  # reward function-word evidence (natural-language prior)
QC_W_CHARS = 1  # reward raw content length
QC_BIAS = -700

_QC_STOP_SQL = "('the', 'a')"
QC_STOPWORDS = ("the", "a")


def qc_logit_sql(uniq: str, n_words: str, n_stop: str, sum_chars: str) -> str:
    """The classifier's weighted-logit formula over four feature terms —
    the ONE definition both the standalone classifier and the ingest
    admission gate embed (SQL side)."""
    return (
        f"{QC_W_UNIQ} * ({uniq}) + {QC_W_REP} * (({n_words}) - ({uniq})) "
        f"+ {QC_W_STOP} * ({n_stop}) + {QC_W_CHARS} * ({sum_chars}) + {QC_BIAS}"
    )


def qc_logit_expr(
    uniq: Column, n_words: Column, n_stop: Column, sum_chars: Column
) -> Column:
    """Spark twin of qc_logit_sql — same single definition."""
    return (
        QC_W_UNIQ * uniq
        + QC_W_REP * (n_words - uniq)
        + QC_W_STOP * n_stop
        + QC_W_CHARS * sum_chars
        + QC_BIAS
    )


@_register(
    "pipe_quality_classifier",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(COUNT(DISTINCT tok) AS BIGINT) AS uniq_toks,
             CAST(SUM(length(tok)) AS BIGINT) AS sum_chars,
             CAST(SUM(CASE WHEN tok IN {_QC_STOP_SQL} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_stop
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, n_words, uniq_toks, sum_chars, n_stop,
           {qc_logit_sql("uniq_toks", "n_words", "n_stop", "sum_chars")} AS logit,
           ({qc_logit_sql("uniq_toks", "n_words", "n_stop", "sum_chars")}) > 0 AS keep
    FROM feat
    """,
    "Model-based quality gate: fixed integer-weight linear classifier over "
    "per-document features (vocabulary size, repetition, stopword "
    "evidence, length). One doc-keyed aggregation then a map-only scoring "
    "projection; the integer logit makes the keep/reject boundary "
    "bitwise-portable (sigmoid is monotone, so thresholding the logit IS "
    "thresholding the probability).",
)
def pipe_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    feat = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.countDistinct("tok").alias("uniq_toks"),
        F.sum(F.length("tok")).alias("sum_chars"),
        F.sum(F.col("tok").isin(*QC_STOPWORDS).cast("long")).alias("n_stop"),
    )
    logit = qc_logit_expr(
        F.col("uniq_toks"), F.col("n_words"), F.col("n_stop"), F.col("sum_chars")
    )
    return feat.select(
        "doc_id",
        "n_words",
        "uniq_toks",
        "sum_chars",
        "n_stop",
        logit.alias("logit"),
        (logit > 0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Bulk k-NN graph within SRP buckets (corpus-size-routed band width)
# ---------------------------------------------------------------------------
# The 10x rehearsal caught the 8-plane configuration saturating exactly like
# the 8-bit simhash bands (BENCH_SCALING finding 1): with FIXED 256 buckets,
# within-bucket pair work grows ~n^2/256 — measured 1.4 s -> 34 s for 10x
# vectors. The structural remedy is the same as dedup_simhash_pairs': the
# bucket count must scale with the corpus (planes ~ log2(n / target bucket
# size)), so the routed entry dispatches on COUNT(*) — <= 5k vectors keeps
# the 8-plane configuration shared with ann_srp_buckets, above it switches
# to a 12-plane / 4096-bucket signature (pair work /16). The oracle routes
# on the same count, so both paths stay hash-checked.
#
# Third tier (round 11, VERDICT r9 #5): the 30x rehearsal measured 4096-
# bucket occupancy 14.6 at ~60k vectors, i.e. occupancy ~= n / 4096. Pair
# work per vector IS the occupancy, so the tier is due when occupancy
# drifts past ~2x its design point — n / 4096 > 32 -> n > ~130k. The next
# signature adds 2 planes (14 planes / 16384 buckets, pair work /4), and
# the switch point must respect the OCCUPANCY >= K+1 invariant: a bucket
# with fewer than k+1 members cannot fill a vector's top-k, so the finer
# tier is only valid once n / 16384 >= k + 1 = 4 (n >= 65,536). At the
# 130k threshold the 16384-bucket occupancy is ~8 = 2(k+1) — the same
# occupancy the 12-plane tier had at ITS activation point (5k / 4096 ~= 1
# was narrow-tier headroom; 130k / 16384 ~= 8 carries margin). Per-decade
# rule: each ~4x growth in n adds 2 planes, holding occupancy in the
# [k+1, 32] window; n = 130k-520k rides 14 planes, 520k-2M would ride 16.
# This tier cannot be rehearsed locally (make_scale10 caps the replica
# factor at 32 -> ~63k vectors max), so like the emb-LSH wide2 tier it is
# pinned by a monkeypatched routing + value-parity test instead
# (tests/test_round11_ops.py).

KNN_GRAPH_K = 3
KNN_ROUTE_MAX_VECS = 5_000
KNN_ROUTE_WIDE2_VECS = 130_000  # 16384-bucket tier threshold (see above)
KNN_WIDE_PLANES_N = 12
KNN_W2_PLANES_N = 14
_kg_rng = _np.random.RandomState(7)
KNN_WIDE_PLANES: list[list[float]] = [
    [float(x) for x in _kg_rng.randn(64)] for _ in range(KNN_WIDE_PLANES_N)
]
# drawn from the SAME stream, so the first 12 wide2 planes != the wide ones
KNN_W2_PLANES: list[list[float]] = [
    [float(x) for x in _kg_rng.randn(64)] for _ in range(KNN_W2_PLANES_N)
]


from doc2vec_spark.operators.dedup import _sql_dvec  # shared formatter


_KNN_WIDE_BUCKET_SQL = (
    "("
    + " + ".join(
        f"((CASE WHEN list_dot_product(v, {_sql_dvec(p)}) > 0 THEN 1 ELSE 0 END)::BIGINT << {i})"
        for i, p in enumerate(KNN_WIDE_PLANES)
    )
    + ")"
)

_KNN_W2_BUCKET_SQL = (
    "("
    + " + ".join(
        f"((CASE WHEN list_dot_product(v, {_sql_dvec(p)}) > 0 THEN 1 ELSE 0 END)::BIGINT << {i})"
        for i, p in enumerate(KNN_W2_PLANES)
    )
    + ")"
)

_KNN_PAIR_SIM_SQL = sql_round(
    "list_dot_product(a.v, n.v)"
    " / (sqrt(list_dot_product(a.v, a.v))"
    " * sqrt(list_dot_product(n.v, n.v)))",
    6,
)


def _knn_graph_oracle(
    cutoff: int = KNN_ROUTE_MAX_VECS,
    w2_cutoff: int = KNN_ROUTE_WIDE2_VECS,
) -> str:
    def branch(bucket_sql: str) -> str:
        return f"""
      SELECT vec_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cosine_sim DESC, neighbor_id)
               AS rank
      FROM (
        SELECT a.vec_id AS vec_id, n.vec_id AS neighbor_id,
               {_KNN_PAIR_SIM_SQL} AS cosine_sim
        FROM (SELECT vec_id, v, {bucket_sql} AS bucket FROM e) a
        JOIN (SELECT vec_id, v, {bucket_sql} AS bucket FROM e) n
          ON a.bucket = n.bucket AND a.vec_id <> n.vec_id
      )"""

    return f"""
    WITH nn AS (SELECT COUNT(*) AS c FROM embeddings),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    narrow AS ({branch(_SRP_BUCKET_SQL)}),
    wide AS ({branch(_KNN_WIDE_BUCKET_SQL)}),
    wide2 AS ({branch(_KNN_W2_BUCKET_SQL)})
    SELECT * FROM narrow
    WHERE rank <= {KNN_GRAPH_K} AND (SELECT c FROM nn) <= {cutoff}
    UNION ALL
    SELECT * FROM wide
    WHERE rank <= {KNN_GRAPH_K}
      AND (SELECT c FROM nn) > {cutoff} AND (SELECT c FROM nn) <= {w2_cutoff}
    UNION ALL
    SELECT * FROM wide2
    WHERE rank <= {KNN_GRAPH_K} AND (SELECT c FROM nn) > {w2_cutoff}
    """


def _matmul_bucket_expr(
    vcol: Column, plane_rows: list[list[float]], name: str
) -> Column:
    """n-plane SRP bucket via ONE Arrow-batched matmul (the _pair_sig_expr
    pattern from operators/dedup.py: 12+ interpreted HOF dots per row would
    dominate the query; a blas sign can differ from the oracle's sequential
    fold only when a plane dot sits within ulps of 0.0 — the ~1e-15-per-
    dataset event class the parity suite and driver gate would surface).
    ``name`` becomes the UDF's plan-visible name so routing tests can pin
    which tier a plan took."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    planes = np.asarray(plane_rows)  # (n_planes, 64)
    weights = 1 << np.arange(len(plane_rows), dtype=np.int64)

    def _bucket(vs):
        vm = np.vstack(vs.to_numpy())
        bits = (vm @ planes.T) > 0
        return pd.Series((bits * weights[None, :]).sum(axis=1))

    _bucket.__name__ = name
    return pandas_udf(_bucket, "long")(vcol)


def _wide_bucket_expr(vcol: Column) -> Column:
    """12-plane / 4096-bucket tier signature (plans render srp12(v))."""
    return _matmul_bucket_expr(vcol, KNN_WIDE_PLANES, "srp12")


def _w2_bucket_expr(vcol: Column) -> Column:
    """14-plane / 16384-bucket tier signature (plans render srp14(v))."""
    return _matmul_bucket_expr(vcol, KNN_W2_PLANES, "srp14")


@_register(
    "ann_knn_graph",
    _knn_graph_oracle(),
    "Bulk k-NN seed graph (k = {k}), corpus-size-routed: per-vector top-k "
    "within the vector's SRP bucket — the NN-descent / SemDeDup seed graph "
    "as one self-join on the bucket key. <= {n} vectors uses the 8-plane / "
    "256-bucket signature shared with ann_srp_buckets; above it (where "
    "fixed buckets saturate: pair work ~ n^2/256, measured 24x wall at 10x "
    "corpus) a 12-plane / 4096-bucket signature keeps bucket occupancy — "
    "and with it candidate count — constant-per-vector; past {n2} vectors "
    "(4096-bucket occupancy ~2x its design point per the 30x rehearsal's "
    "occupancy-14.6-at-60k row) a 14-plane / 16384-bucket signature takes "
    "over, valid because occupancy stays >= k+1 there. Emitted sims are "
    "exact sequential-fold dots; ranking uses the ROUNDED sim with a "
    "neighbor-id tiebreak so the order is engine-exact. The oracle routes "
    "on the same COUNT(*).".format(
        k=KNN_GRAPH_K, n=KNN_ROUTE_MAX_VECS, n2=KNN_ROUTE_WIDE2_VECS
    ),
)
def ann_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    # parquet-footer metadata count, same routing idiom as
    # dedup_simhash_pairs (and the same import-time oracle binding note:
    # the registered oracle bakes KNN_ROUTE_MAX_VECS / KNN_ROUTE_WIDE2_VECS
    # in at registration)
    n_vecs = load(spark, sf_dir, "embeddings").count()
    if n_vecs > KNN_ROUTE_WIDE2_VECS:
        bucket = _w2_bucket_expr(F.col("v"))
    elif n_vecs > KNN_ROUTE_MAX_VECS:
        bucket = _wide_bucket_expr(F.col("v"))
    else:
        bucket = srp_bucket_expr(F.col("v"))
    # r21 (guide §1.2 per-task work): norms bind per VECTOR, not per pair —
    # the old sim expression re-evaluated l2_norm for both sides of every
    # bucket collision (~2k interpreted folds per vector at occupancy k).
    # a.nv * n.nv multiplies the identical per-vector fold values, so the
    # emitted doubles are bit-identical.
    # r22 examined, NOT cached (the dedup_embedding_lsh scoped-cache was
    # tried here and REFUTED by interleaved A/B): at sf0.1 (narrow native
    # fold) the cache reads flat with +2 jobs (1.193 vs 1.199 s), and at the
    # .scale10 wide route (20k vecs, Arrow-matmul signature) it is still a
    # wash (medians 0.950 uncached vs 0.974 cached, outputs identical) —
    # the batched matmul over the columnar scan is cheaper to run twice
    # than one InMemoryRelation materialization is to fill and read.
    # Commit 561d46a holds the raw A/B record.
    b = e.select("vec_id", "v", l2_norm(F.col("v")).alias("nv"), bucket.alias("bucket"))
    a, n = b.alias("a"), b.alias("n")
    sim = dot(F.col("a.v"), F.col("n.v")) / (F.col("a.nv") * F.col("n.nv"))
    pairs = (
        a.join(
            n,
            (F.col("a.bucket") == F.col("n.bucket"))
            & (F.col("a.vec_id") != F.col("n.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("n.vec_id").alias("neighbor_id"),
            pround(sim, 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_GRAPH_K)
    )


# ---------------------------------------------------------------------------
# Epoch-salted deterministic training-order shuffle
# ---------------------------------------------------------------------------

SHUFFLE_EPOCH_SALT = "ep1"  # new salt per epoch -> fresh permutation
SHUFFLE_SHARDS = 16


@_register(
    "pipe_global_shuffle",
    f"""
    WITH h AS (
      SELECT doc_id,
             md5('{SHUFFLE_EPOCH_SALT}-' || CAST(doc_id AS VARCHAR)) AS hkey
      FROM documents
    )
    SELECT doc_id,
           ('0x' || substr(hkey, 1, 8))::BIGINT % {SHUFFLE_SHARDS} AS shard_id,
           ROW_NUMBER() OVER (
             PARTITION BY ('0x' || substr(hkey, 1, 8))::BIGINT % {SHUFFLE_SHARDS}
             ORDER BY hkey, doc_id) AS shard_pos
    FROM h
    """,
    "Epoch-salted deterministic training-order shuffle: shard-major "
    "permutation — shard = md5 bucket of the salted id, within-shard "
    "position = rank-by-hash. Reading shards in (shard_id, shard_pos) "
    "order replays the exact permutation; a new epoch salt is a fresh "
    "independent one. No global sort anywhere: each shard ranks in its own "
    "window partition, so the plan is one hash shuffle + parallel "
    "per-shard sorts — the only permutation shape that holds at 100 TB.",
)
def pipe_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    hkey = F.md5(
        F.concat(F.lit(f"{SHUFFLE_EPOCH_SALT}-"), F.col("doc_id").cast("string"))
    )
    h = docs.select("doc_id", hkey.alias("hkey"))
    shard = (
        F.conv(F.substring("hkey", 1, 8), 16, 10).cast("long") % SHUFFLE_SHARDS
    )
    w = Window.partitionBy("shard_id").orderBy("hkey", "doc_id")
    return (
        h.select("doc_id", shard.alias("shard_id"), "hkey")
        .withColumn("shard_pos", F.row_number().over(w))
        .drop("hkey")
    )


# ---------------------------------------------------------------------------
# Ingest admission: the production gate, composed
# ---------------------------------------------------------------------------
# The decision a 100 TB ingest actually makes per incoming document, as ONE
# declarative plan over the building blocks above: exact-dup against the
# store (content hash), near-dup against the store (df-capped 5-gram
# inverted index, >= 2 shared shingles with the SAME stored doc — the
# candidate-edge criterion), and the model-based quality gate. Cost is
# asymmetric in the batch: the corpus side contributes one posting build
# (at scale: the standing index the store maintains); every probe is keyed,
# nothing pairs corpus-vs-corpus.

ADM_SHINGLE_N = 5
ADM_MAX_DF = 50  # corpus-common shingles carry no dup signal (df cap)
ADM_MIN_SHARED = 2  # >= 2 distinct shared shingles with one stored doc

_ADM_SHINGLE_SQL = f"""
  SELECT DISTINCT doc_id, ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
           || ' ' || ws[i+3] || ' ' || ws[i+4]), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
        FROM documents),
       unnest(generate_series(1, len(ws)-{ADM_SHINGLE_N - 1})) t(i)
"""

_ADM_FEAT_SQL = f"""
  SELECT doc_id,
         {qc_logit_sql(
             "COUNT(DISTINCT tok)",
             "COUNT(*)",
             "SUM(CASE WHEN tok IN " + _QC_STOP_SQL + " THEN 1 ELSE 0 END)",
             "SUM(length(tok))",
         )} AS logit
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents WHERE source = '{BLOOM_BATCH_SOURCE}')
  GROUP BY doc_id
"""


@_register(
    "pipe_ingest_admission",
    f"""
    WITH batch AS (
      SELECT doc_id, text FROM documents WHERE source = '{BLOOM_BATCH_SOURCE}'
    ),
    corpus AS (
      SELECT doc_id, text FROM documents WHERE source <> '{BLOOM_BATCH_SOURCE}'
    ),
    sh AS ({_ADM_SHINGLE_SQL}),
    corpus_sh AS (
      SELECT sh.h, sh.doc_id FROM sh JOIN corpus USING (doc_id)
    ),
    capped AS (
      SELECT h FROM corpus_sh GROUP BY h HAVING COUNT(*) <= {ADM_MAX_DF}
    ),
    batch_sh AS (
      SELECT sh.doc_id, sh.h FROM sh JOIN batch USING (doc_id)
    ),
    near AS (
      SELECT DISTINCT b.doc_id
      FROM batch_sh b
      JOIN capped USING (h)
      JOIN corpus_sh c USING (h)
      GROUP BY b.doc_id, c.doc_id
      HAVING COUNT(DISTINCT b.h) >= {ADM_MIN_SHARED}
    ),
    exact AS (
      SELECT b.doc_id,
             EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text) AS exact_dup
      FROM batch b
    ),
    qual AS ({_ADM_FEAT_SQL})
    SELECT b.doc_id,
           e.exact_dup,
           (n.doc_id IS NOT NULL) AS near_dup,
           (q.logit > 0) AS quality_keep,
           (NOT e.exact_dup AND n.doc_id IS NULL AND q.logit > 0) AS admitted,
           CASE WHEN e.exact_dup THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                WHEN q.logit <= 0 THEN 'low_quality'
                ELSE 'admitted' END AS reason
    FROM batch b
    JOIN exact e ON e.doc_id = b.doc_id
    LEFT JOIN near n ON n.doc_id = b.doc_id
    JOIN qual q ON q.doc_id = b.doc_id
    """,
    "Ingest admission — the per-document decision a production ingest "
    "makes, as one declarative plan: exact-dup (content hash vs the "
    "store), near-dup (df-capped {n}-gram inverted index, >= {m} distinct "
    "shingles shared with ONE stored doc — the candidate-edge criterion), "
    "and the integer-logit quality gate, composed into an "
    "admitted/reason verdict. All probes are keyed on the batch side; "
    "the corpus contributes only the standing posting index — nothing "
    "pairs corpus-vs-corpus, so cost scales with the batch.".format(
        n=ADM_SHINGLE_N, m=ADM_MIN_SHARED
    ),
)
def pipe_ingest_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.operators.dedup import _tokens, word_shingles_from

    docs = load(spark, sf_dir, "documents")
    is_batch = F.col("source") == BLOOM_BATCH_SOURCE
    # tokens bound before the shingle lambdas (r18, same fix as the dedup
    # family): unbound word_shingles re-splits the document per shingle
    # index inside the interpreted HOF lambda — measured 18x on the map
    # stage, values bit-identical.
    sh = (
        docs.select("doc_id", is_batch.alias("is_batch"), _tokens().alias("ws"))
        .select(
            "doc_id",
            "is_batch",
            F.explode(
                F.transform(
                    word_shingles_from(F.col("ws"), ADM_SHINGLE_N),
                    lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                        "long"
                    ),
                )
            ).alias("h"),
        )
        .distinct()
    )
    corpus_sh = sh.filter(~F.col("is_batch")).select(
        F.col("doc_id").alias("c_doc"), "h"
    )
    capped = (
        corpus_sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= ADM_MAX_DF)
        .select("h")
    )
    batch_sh = sh.filter(F.col("is_batch")).select("doc_id", "h")
    near = (
        batch_sh.join(capped, "h")
        .join(corpus_sh, "h")
        .groupBy("doc_id", "c_doc")
        .agg(F.countDistinct("h").alias("shared"))
        .filter(F.col("shared") >= ADM_MIN_SHARED)
        .select("doc_id")
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    batch = docs.filter(is_batch)
    corpus_texts = docs.filter(~is_batch).select("text").distinct()
    exact = batch.join(corpus_texts, "text", "left_semi").select(
        "doc_id", F.lit(True).alias("is_exact")
    )
    toks = batch.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    logit = qc_logit_expr(
        F.countDistinct("tok"),
        F.count(F.lit(1)),
        F.sum(F.col("tok").isin(*QC_STOPWORDS).cast("long")),
        F.sum(F.length("tok")),
    )
    qual = toks.groupBy("doc_id").agg(logit.alias("logit"))
    exact_dup = F.coalesce("is_exact", F.lit(False))
    near_dup = F.coalesce("is_near", F.lit(False))
    keep = F.col("logit") > 0
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .join(qual, "doc_id")
        .select(
            "doc_id",
            exact_dup.alias("exact_dup"),
            near_dup.alias("near_dup"),
            keep.alias("quality_keep"),
            (~exact_dup & ~near_dup & keep).alias("admitted"),
            F.when(exact_dup, "exact_dup")
            .when(near_dup, "near_dup")
            .when(~keep, "low_quality")
            .otherwise("admitted")
            .alias("reason"),
        )
    )
