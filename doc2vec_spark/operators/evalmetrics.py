"""Index-quality metrics (round 9): ANN recall@k against exact ground truth.

Every ann_* operator (SRP buckets, IVF cells, PQ codes, truncate-rerank)
trades recall for candidate-set size; a production retrieval stack monitors
that trade with a recall@k job — exact brute-force top-k for a bounded
query sample vs the index's answer, per query. The reference has no such
surface (its search is a single sqlite-vec MATCH, mcp/src/server.ts:448);
this is the operator a user needs before trusting the engine's ANN paths
at 100 TB.

Design (engine-exact): the NUM_Q sample queries' vectors and buckets are
collected once (bounded literal LUT, the ann_* discipline); every corpus
vector then scores against all NUM_Q literal queries MAP-SIDE (one explode
of a NUM_Q-element struct array — no join, no cross product), and two
ROW_NUMBER windows rank the same scored rows — globally per query (exact)
and within the query's SRP bucket (the ANN candidate rule of
ann_srp_search). recall@k = |ANN top-k ∩ exact top-k| / k, reported as
exact integer ppm. Distances are the established left-fold cosine,
tie-broken (dist, vec_id) — both engines walk identical doubles, so the
counts hash-match.

100 TB shape: corpus-sized work is ONE map-side scoring pass producing
NUM_Q * n rows and a window shuffle keyed (qid[, in_bucket]) — NUM_Q is a
bounded eval-sample constant, and at real scale the per-query groups are
the unit of parallelism (raise NUM_Q, not the per-group width). This is an
EVAL job run on a sample, not a serving path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from doc2vec_spark.functions.vectors import (
    as_double_array,
    cosine_distance,
    dot,
    lit_vector,
)
from doc2vec_spark.operators.similarity import _SRP_BUCKET_SQL, srp_bucket_expr
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


NUM_Q = 10  # evaluation query sample: vec_id 0..9
RECALL_K = 10


def _q_structs(qrows, flag_col: str, flag_field: str) -> F.Column:
    """The literal NUM_Q query-struct array for the map-side scoring explode
    (qid, <flag_field>, dist per query), with the cosine FACTORED (r21,
    guide §1.2 per-task work):

    ``cosine_distance(v, lit_q)`` re-evaluates ``l2_norm(v)`` and folds the
    literal query's own norm PER ROW PER QUERY — 3*NUM_Q interpreted HOF
    folds per row where 1 + NUM_Q suffice. The row norm binds once as the
    ``nv`` column (referenced NUM_Q times, so CollapseProject keeps the
    binding — the r20 Catalyst lesson), and each query's norm is a Python
    constant: the SAME 0.0-seeded left fold over the same doubles and an
    IEEE-exact sqrt, so ``1.0 - dot/(nv * lit(qn))`` is arithmetically
    IDENTICAL to the inline form, term order included. Callers' ``b`` frame
    must carry (v, nv, <flag_col>).

    r22 (the lit_vector/_MINS_STRUCT_SQL single-parse discipline): the whole
    NUM_Q struct array arrives as ONE parsed SQL expression instead of
    NUM_Q dot-folds built through Python lambdas (2 lambda HOF trees + ~10
    Column ops each, all py4j round trips). The SQL spellings parse to the
    IDENTICAL expression trees — ``{x!r}D`` is the shortest round-trip
    double (the lit_vector argument), ``0.0D``/``1.0D`` match F.lit's
    doubles, and the fold shape/term order is unchanged — verified
    row-identical. Interleaved A/B at sf0.1: scored-plan construction
    0.70 -> 0.33 s; three eval queries build this array per invocation."""
    import math

    from doc2vec_spark.operators.similarity import _py_dot

    if any(
        x != x or x in (float("inf"), float("-inf"))
        for r in qrows
        for x in r["v"]
    ):
        # inf/nan have no SQL literal spelling — the slow exact path
        structs = []
        for r in qrows:
            qv = [float(x) for x in r["v"]]
            qn = math.sqrt(_py_dot(qv, qv))
            dist = F.lit(1.0) - dot(F.col("v"), lit_vector(qv)) / (
                F.col("nv") * F.lit(qn)
            )
            structs.append(
                F.struct(
                    F.lit(int(r["vec_id"])).alias("qid"),
                    (F.col(flag_col) == F.lit(int(r[flag_col]))).alias(flag_field),
                    dist.alias("dist"),
                )
            )
        return F.array(*structs)
    parts = []
    for r in qrows:
        qv = [float(x) for x in r["v"]]
        qn = math.sqrt(_py_dot(qv, qv))
        lits = ",".join(f"{x!r}D" for x in qv)
        dist = (
            f"1.0D - aggregate(zip_with(v, array({lits}), (x, y) -> x * y),"
            f" 0.0D, (acc, x) -> acc + x) / (nv * {qn!r}D)"
        )
        parts.append(
            f"struct({int(r['vec_id'])} AS qid,"
            f" ({flag_col} = {int(r[flag_col])}) AS {flag_field},"
            f" ({dist}) AS dist)"
        )
    return F.expr("array(" + ", ".join(parts) + ")")


def _ranked_single_window(scored: DataFrame, flag: str) -> DataFrame:
    """(qid, <flag>, exact_rnk, ann_rnk) from the scored pass with ONE
    window exchange (r21, guide §2.4).

    The pre-r21 shape ran two ROW_NUMBER windows with different partition
    keys — PARTITION BY qid and PARTITION BY (qid, flag) — which is two
    full exchanges + sorts of the NUM_Q*n scored rows. Every consumer
    gates on ``flag`` being true, and for flag-true rows the rank within
    (qid, flag) equals the running count of flag-true rows within qid in
    the same (dist, vec_id) order. So both ranks come out of one window
    spec: row_number for the exact rank, a conditional running sum for the
    ANN rank. Flag-false rows get a different ann_rnk value than before
    (running in-flag count instead of their out-of-flag rank), but no
    aggregate ever reads it — each one conditions on the flag first. The
    downstream groupBy(qid) then reuses the window's hash partitioning, so
    the whole eval after scoring is ONE exchange instead of three.
    """
    w = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("vec_id"))
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return scored.select(
        "qid",
        flag,
        F.row_number().over(w).alias("exact_rnk"),
        F.sum(F.when(F.col(flag), 1).otherwise(0))
        .over(wsum)
        .cast("int")
        .alias("ann_rnk"),
    )


@_register(
    "ann_recall_at_k",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_SRP_BUCKET_SQL} AS bucket FROM e),
    q AS (SELECT vec_id AS qid, v AS qv, bucket AS qbucket
          FROM b WHERE vec_id < {NUM_Q}),
    scored AS (
      SELECT q.qid, b.vec_id, b.bucket = q.qbucket AS in_bucket,
             1 - list_dot_product(b.v, q.qv)
               / (sqrt(list_dot_product(b.v, b.v))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS dist
      FROM b, q WHERE b.vec_id <> q.qid),
    ranked AS (
      SELECT qid, in_bucket,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vec_id)
               AS exact_rnk,
             ROW_NUMBER() OVER (PARTITION BY qid, in_bucket
                                ORDER BY dist, vec_id) AS ann_rnk
      FROM scored)
    SELECT qid AS q_vec_id,
           CAST(COUNT(*) FILTER (WHERE in_bucket AND ann_rnk <= {RECALL_K})
                AS BIGINT) AS n_ann,
           CAST(COUNT(*) FILTER (WHERE in_bucket AND ann_rnk <= {RECALL_K}
                                   AND exact_rnk <= {RECALL_K})
                AS BIGINT) AS n_hits,
           CAST(COUNT(*) FILTER (WHERE in_bucket AND ann_rnk <= {RECALL_K}
                                   AND exact_rnk <= {RECALL_K})
                * 1000000 // {RECALL_K} AS BIGINT) AS recall_ppm
    FROM ranked GROUP BY qid ORDER BY q_vec_id
    """,
    f"ANN index-quality monitor: recall@{RECALL_K} of the SRP-bucket "
    f"search rule against exact brute-force top-{RECALL_K}, per query over "
    f"a {NUM_Q}-query sample. Map-side scoring against literal query "
    "vectors (no join), two ROW_NUMBER windows over the same scored rows, "
    "integer-ppm recall — the eval job a 100 TB retrieval stack runs "
    "before trusting its index.",
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.functions.vectors import l2_norm

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    b = e.select(
        "vec_id",
        "v",
        l2_norm(F.col("v")).alias("nv"),
        srp_bucket_expr(F.col("v")).alias("bucket"),
    )
    # bounded literal LUT: the NUM_Q sample queries' vectors and buckets
    qrows = sorted(
        b.filter(F.col("vec_id") < NUM_Q).collect(), key=lambda r: r["vec_id"]
    )
    if not qrows:  # empty embeddings: oracle emits 0 rows
        return spark.createDataFrame(
            [], "q_vec_id long, n_ann long, n_hits long, recall_ppm long"
        )
    scored = b.select(
        "vec_id",
        "bucket",
        F.explode(_q_structs(qrows, "bucket", "in_bucket").alias("qs")).alias("s"),
    ).filter(F.col("vec_id") != F.col("s.qid")).select(
        "vec_id", "s.qid", "s.in_bucket", "s.dist"
    )
    ranked = _ranked_single_window(scored, "in_bucket")
    ann_hit = F.col("in_bucket") & (F.col("ann_rnk") <= RECALL_K)
    true_hit = ann_hit & (F.col("exact_rnk") <= RECALL_K)
    return (
        ranked.groupBy(F.col("qid").alias("q_vec_id"))
        .agg(
            F.count_if(ann_hit).cast("long").alias("n_ann"),
            F.count_if(true_hit).cast("long").alias("n_hits"),
            F.floor(F.count_if(true_hit) * 1000000 / RECALL_K)
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("q_vec_id")
    )


def _ivf_recall_oracle() -> str:
    from doc2vec_spark.operators.similarity import _nearest_centroid_sql

    cell = _nearest_centroid_sql()
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, ({cell}) AS cell FROM e),
    q AS (SELECT vec_id AS qid, v AS qv, cell AS qcell
          FROM b WHERE vec_id < {NUM_Q}),
    scored AS (
      SELECT q.qid, b.vec_id, b.cell = q.qcell AS in_cell,
             1 - list_dot_product(b.v, q.qv)
               / (sqrt(list_dot_product(b.v, b.v))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS dist
      FROM b, q WHERE b.vec_id <> q.qid),
    ranked AS (
      SELECT qid, in_cell,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vec_id)
               AS exact_rnk,
             ROW_NUMBER() OVER (PARTITION BY qid, in_cell
                                ORDER BY dist, vec_id) AS ann_rnk
      FROM scored)
    SELECT qid AS q_vec_id,
           CAST(COUNT(*) FILTER (WHERE in_cell AND ann_rnk <= {RECALL_K})
                AS BIGINT) AS n_ann,
           CAST(COUNT(*) FILTER (WHERE in_cell AND ann_rnk <= {RECALL_K}
                                   AND exact_rnk <= {RECALL_K})
                AS BIGINT) AS n_hits,
           CAST(COUNT(*) FILTER (WHERE in_cell AND ann_rnk <= {RECALL_K}
                                   AND exact_rnk <= {RECALL_K})
                * 1000000 // {RECALL_K} AS BIGINT) AS recall_ppm
    FROM ranked GROUP BY qid ORDER BY q_vec_id
    """


@_register(
    "ann_ivf_recall",
    _ivf_recall_oracle(),
    f"recall@{RECALL_K} of the IVF nprobe=1 search rule (exact cosine "
    "inside the query's nearest-centroid cell, ann_ivf_search's candidate "
    "rule) against exact brute-force top-k — the second index type's "
    "quality monitor, same map-side scoring shape as ann_recall_at_k. "
    "Together the two recall jobs tell a 100 TB operator which index "
    "family fits their corpus geometry.",
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.operators.similarity import _nearest_centroid_expr

    from doc2vec_spark.functions.vectors import l2_norm

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    b = e.select(
        "vec_id",
        "v",
        l2_norm(F.col("v")).alias("nv"),
        _nearest_centroid_expr(F.col("v")).alias("cell"),
    )
    qrows = sorted(
        b.filter(F.col("vec_id") < NUM_Q).collect(), key=lambda r: r["vec_id"]
    )
    if not qrows:  # empty embeddings: oracle emits 0 rows
        return spark.createDataFrame(
            [], "q_vec_id long, n_ann long, n_hits long, recall_ppm long"
        )
    scored = b.select(
        "vec_id",
        "cell",
        F.explode(_q_structs(qrows, "cell", "in_cell").alias("qs")).alias("s"),
    ).filter(F.col("vec_id") != F.col("s.qid")).select(
        "vec_id", "s.qid", "s.in_cell", "s.dist"
    )
    ranked = _ranked_single_window(scored, "in_cell")
    ann_hit = F.col("in_cell") & (F.col("ann_rnk") <= RECALL_K)
    true_hit = ann_hit & (F.col("exact_rnk") <= RECALL_K)
    return (
        ranked.groupBy(F.col("qid").alias("q_vec_id"))
        .agg(
            F.count_if(ann_hit).cast("long").alias("n_ann"),
            F.count_if(true_hit).cast("long").alias("n_hits"),
            F.floor(F.count_if(true_hit) * 1000000 / RECALL_K)
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("q_vec_id")
    )


def _minhash_quality_oracle() -> str:
    from doc2vec_spark.operators.dedup import (
        _BAND_JOIN_SQL,
        _HASHED_SHINGLES_SQL,
        _MINHASH_SIG_SQL,
        JACCARD_THRESHOLD,
        NUM_MINHASH,
    )

    matches = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(NUM_MINHASH)
    )
    return f"""
    WITH sig AS ({_MINHASH_SIG_SQL}),
    cand AS (SELECT DISTINCT doc_a, doc_b FROM ({_BAND_JOIN_SQL})
             WHERE est_jaccard >= {JACCARD_THRESHOLD}),
    m AS (SELECT c.doc_a, c.doc_b, CAST({matches} AS BIGINT) AS matches
          FROM cand c
          JOIN sig a ON a.doc_id = c.doc_a
          JOIN sig b ON b.doc_id = c.doc_b),
    sh AS (SELECT DISTINCT doc_id, h FROM ({_HASHED_SHINGLES_SQL})),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS i
              FROM cand c
              JOIN sh x ON x.doc_id = c.doc_a
              JOIN sh y ON y.doc_id = c.doc_b AND y.h = x.h
              GROUP BY c.doc_a, c.doc_b)
    SELECT m.doc_a, m.doc_b,
           CAST(m.matches * 1000000 // {NUM_MINHASH} AS BIGINT) AS est_ppm,
           CAST(COALESCE(inter.i, 0) * 1000000
                // (sa.n + sb.n - COALESCE(inter.i, 0)) AS BIGINT) AS true_ppm,
           CAST(abs(m.matches * 1000000 // {NUM_MINHASH}
                    - COALESCE(inter.i, 0) * 1000000
                      // (sa.n + sb.n - COALESCE(inter.i, 0))) AS BIGINT)
             AS err_ppm
    FROM m
    JOIN sizes sa ON sa.doc_id = m.doc_a
    JOIN sizes sb ON sb.doc_id = m.doc_b
    LEFT JOIN inter ON inter.doc_a = m.doc_a AND inter.doc_b = m.doc_b
    ORDER BY m.doc_a, m.doc_b
    """


@_register(
    "dedup_minhash_quality",
    _minhash_quality_oracle(),
    "Estimator-quality monitor for the MinHash+LSH dedup path: for every "
    "pair the band join reports, the signature-estimated Jaccard (exact "
    "integer matches/k, ppm) next to the TRUE 3-gram-shingle Jaccard "
    "(set intersection over union, ppm) and the absolute error — the "
    "sibling of the recall@k jobs for the dedup family. All work after "
    "candidate generation is keyed on the bounded candidate-pair set "
    "(shingle joins on (doc_id, h)); at 100 TB this is the audit job that "
    "tells you whether k=12 signatures still bound the estimator error "
    "your dedup threshold assumes.",
)
def dedup_minhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.operators.dedup import (
        NUM_MINHASH,
        _tokens,
        dedup_minhash_lsh,
        word_shingles_from,
    )
    from doc2vec_spark.tables import load as _load

    # r22 (guide §1.2): the band join already computes the signature match
    # count per pair — est_jaccard IS matches/k — so read it straight off
    # the candidate generation (with_matches=True) instead of the r21 shape's
    # two sig re-joins (which in turn required caching the signature table
    # to share it with the LSH pass: that cache fill and both broadcast
    # builds disappear with the joins). The oracle's m CTE recomputes the
    # count by re-joining sig; over the same signature rows the zip_with
    # count and the column-compare count are the same integers.
    # m is the bounded candidate-pair table (|pairs| rows); caching it means
    # the whole signature+band-join subtree runs ONCE even though both the
    # intersection join and the final assembly consume the pairs.
    from doc2vec_spark.caching import scoped_cache

    m = scoped_cache(
        dedup_minhash_lsh(spark, sf_dir, with_matches=True).select(
            "doc_a", "doc_b", "matches"
        )
    )
    cand = m.select("doc_a", "doc_b")
    sh = (
        _load(spark, sf_dir, "documents")
        .select("doc_id", _tokens().alias("ws"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    word_shingles_from(F.col("ws"), 3),
                    lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast(
                        "long"
                    ),
                )
            ).alias("h"),
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "h"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "h"), ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("i"))
    )
    est_ppm = F.floor(F.col("matches") * 1000000 / NUM_MINHASH).cast("long")
    i0 = F.coalesce(F.col("i"), F.lit(0))
    true_ppm = F.floor(i0 * 1000000 / (F.col("na") + F.col("nb") - i0)).cast("long")
    return (
        m.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            est_ppm.alias("est_ppm"),
            true_ppm.alias("true_ppm"),
            F.abs(est_ppm - true_ppm).alias("err_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )
