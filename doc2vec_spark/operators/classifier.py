"""On-the-fly document classifier + corpus-novelty metrics (round 12).

The quality-filter stage every large training-data pipeline runs (CCNet,
Brown et al. GPT-3 appendix A; fastText-style linear classifiers) is
"train a cheap classifier on a labeled slice, score the whole corpus".
This module implements that train/predict/evaluate loop corpus-side, with
the repo's cross-engine-exact arithmetic so every stage hash-checks
against a DuckDB oracle:

- **ta_nb_classify** — a multinomial Naive-Bayes-family classifier over
  whitespace tokens predicting ``lang``, trained on a deterministic
  md5-bucket split (buckets 0-79) and evaluated on the held-out 20%.
  Per-class token probabilities are Laplace-smoothed integers in ppm,
  p_ppm(tok|c) = (1e6 * (cnt + 1)) // (total_c + V). The repo-wide
  log-free rule (floats never cross the hash gate) replaces the
  geometric-mean combination (sum of logs) with the ARITHMETIC mean of
  per-occurrence class probabilities — the additive relaxation keeps the
  same train/score/argmax machinery and stays integer-exact; swapping in
  real log-probabilities is a one-expression change a production fork
  makes where bit-identical cross-engine replay is not a requirement.
  Argmax is a window row_number ordered (score DESC, lang ASC) — classes
  are DATA-DERIVED (no literal class list), so ties break
  deterministically without an argmax LUT.
- **ta_nb_confusion** — the (true lang, predicted lang) confusion counts
  over the held-out split: the evaluation artifact a filtering threshold
  is chosen from.
- **ta_ngram_novelty** — per-document corpus novelty: the share of the
  doc's distinct word-3-gram shingles that appear in NO other document
  (basis points). The diversity/memorization-risk signal that complements
  dedup: dedup_* finds documents too SIMILAR to keep; novelty flags
  documents so unlike the corpus they deserve review (or upweighting).

100 TB shape (all keyed, nothing driver-sized):
- classify: one token explode (map-only), one (tok, lang) count shuffle
  (vocab-sized), the vocab x class grid is a MAP-ONLY literal
  struct-array explode over the vocab (per-class totals are a bounded
  |classes|-row collect, the mixture_sample precedent — no join operator
  at all, so the blanket no-BNLJ plan contract holds), scoring is a
  token-keyed join of the doc-token stream against the grid (the
  standard x|C| NB fanout) + one (doc, lang) aggregation + one
  doc-keyed window over |C| rows per doc. No literal vocabularies.
- novelty: one shingle-keyed count shuffle (map-side combinable — counts,
  never posting lists, so hot shingles cost nothing extra) + one
  shingle-keyed join back + one doc-keyed aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doc2vec_spark.caching import scoped_cache
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


# Deterministic train/test split: md5 bucket of doc_id (the pipe_split_assign
# discipline, pipeline.py:66-80) — buckets 0-79 train, 80-99 held out.
TRAIN_BUCKETS = 80

def _bucket():
    # built lazily: a module-level Column would require an active
    # SparkContext at import time (test collection imports the registry
    # before any session exists)
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )


_BUCKET_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"


def _nb_grid_and_test(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(held-out token stream, (tok, cand, p_ppm) grid) — the trained model
    plus the eval stream, shared by the additive scorer (_nb_scores) and
    the log-domain scorer (_nb_log_scores)."""
    from doc2vec_spark.session import default_parallelism

    docs = load(spark, sf_dir, "documents")
    # repartition before the explode: the single-file scan is one partition,
    # and the token stream feeds every downstream shuffle (at 100 TB the
    # multi-file scan partitions this for free)
    toks = docs.select(
        "doc_id", "lang", _bucket().alias("bucket"), F.trim(F.col("text")).alias("t")
    ).repartition(default_parallelism()).select(
        "doc_id",
        "lang",
        "bucket",
        F.explode(F.split(F.col("t"), r"\s+")).alias("tok"),
    )
    train = toks.filter(F.col("bucket") < TRAIN_BUCKETS)
    test = toks.filter(F.col("bucket") >= TRAIN_BUCKETS)

    # r21 (guide §1.2, fewer corpus passes): every model statistic is a
    # function of the class-conditional count table — per-class totals are
    # SUM(cnt) per lang, the vocabulary is its distinct tok set, V its
    # distinct-tok count — so aggregate the token stream ONCE into
    # cls_counts, cache that (it is vocabulary-sized), and derive the rest
    # from the cache. The pre-r21 shape cached the token stream itself and
    # re-passed it three times (vocab count, per-class totals, the count
    # aggregation). One rollup action over the cached counts collects the
    # bounded stats (lang rows + the grand-total row; the grouping flag
    # keeps a NULL lang class distinct from the total row).
    cls_counts = scoped_cache(
        train.groupBy("tok", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    )
    stat_rows = (
        cls_counts.rollup("lang")
        .agg(
            F.sum("cnt").alias("total"),
            F.countDistinct("tok").alias("v"),
            F.grouping("lang").alias("g"),
        )
        .collect()
    )
    v_size = next((int(r["v"]) for r in stat_rows if r["g"] == 1), 0)
    totals = {r["lang"]: int(r["total"]) for r in stat_rows if r["g"] == 0}

    # vocab x class grid with Laplace-smoothed integer ppm probabilities.
    # The class fanout is a MAP-ONLY literal struct-array explode — the
    # first cut cross-joined the broadcast class table, which plans a
    # BroadcastNestedLoopJoin and trips the blanket no-BNLJ scale contract
    # (test_plans.py); exploding the bounded literal keeps the exact same
    # rows without any join operator. floor(1e6 * (cnt+1) / (total+V)) is
    # the exact integer quotient in both engines at these magnitudes
    # (numerator < 2^53, denominators >= V so the true quotient is never
    # within an ulp of an integer unless it IS one — the kmeans.py
    # floor-quotient argument).
    if not totals:  # empty corpus: no classes -> empty grid, 0 output rows
        return test, spark.createDataFrame(
            [], "tok string, cand string, p_ppm long"
        )
    cand_arr = F.array(
        *[
            F.struct(F.lit(lang).alias("cand"), F.lit(t).alias("total"))
            for lang, t in sorted(totals.items())
        ]
    )
    # r22 (guide §2.4): the vocab x class grid needs, per token, the count
    # for EVERY class — that is one groupBy(tok) of cls_counts into a
    # bounded lang->cnt map (|classes| entries) + the literal class
    # explode, not a distinct-vocab pass joined back to cls_counts. Drops
    # the vocab distinct exchange and the (tok, lang) join outright (the
    # join planned as a vocab-sized broadcast at test SFs and would be a
    # second SMJ at scale). element_at yields NULL for absent (tok, class)
    # pairs — exactly the left join's NULL — so the +1 Laplace arithmetic
    # is unchanged. A/B at sf0.1: classify end-to-end 0.95 -> 0.86 s
    # medians, results identical.
    per_tok = cls_counts.groupBy("tok").agg(
        F.map_from_entries(F.collect_list(F.struct("lang", "cnt"))).alias("m")
    )
    grid = per_tok.select("tok", "m", F.explode(cand_arr).alias("ct")).select(
        "tok",
        F.col("ct.cand").alias("cand"),
        F.floor(
            F.lit(1000000.0)
            * (F.coalesce(F.element_at("m", F.col("ct.cand")), F.lit(0)) + 1)
            / (F.col("ct.total") + F.lit(v_size))
        )
        .cast("long")
        .alias("p_ppm"),
    )

    return test, grid


def _nb_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, cand, score_sum, n_scored) for every held-out doc x
    candidate class. Shared by classify + confusion.

    Accepted recompute: classify and confusion each rebuild this plan
    (~1.2 s marginal at sf0.1) rather than sharing a kmeans-style memo —
    the shared artifact here is a lazy corpus-sized DataFrame whose
    scoped cache is deliberately released between registry invocations
    (caching.py's flat-storage rule), not a k*dim-long driver literal;
    memoizing it would either pin corpus-sized cache across queries or
    hand out a released plan. Revisit only if the pair's cost grows."""
    test, grid = _nb_grid_and_test(spark, sf_dir)
    # score: token-keyed join of the held-out token stream against the grid
    # (tokens unseen in training drop out on BOTH sides — an inner join here,
    # and the oracle's inner join, define the same feature set), then one
    # (doc, cand) aggregation. Arithmetic-mean combination: the sum is the
    # deterministic score; dividing by n_tokens is argmax-invariant per doc.
    return (
        test.join(grid, "tok")
        .groupBy("doc_id", "lang", "cand")
        .agg(
            F.sum("p_ppm").alias("score_sum"),
            F.count(F.lit(1)).alias("n_scored"),
        )
    )


def _nb_log_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, cand, nll_sum, n_scored): TEXTBOOK multinomial NB
    (VERDICT r12 #3) — per-occurrence NEGATIVE log-likelihoods in integer
    micro-nats, summed per (doc, candidate); argmin = the standard
    sum-of-logs decision rule, closing the semantic gap the additive
    relaxation (_nb_scores) leaves open.

    Integer-exact story: nll(tok|c) = floor(-ln(max(p_ppm,1)/1e6) * 1e6
    + 0.5). The engine evaluates the ln ONCE per DISTINCT realized p_ppm
    in a driver-built LUT (bounded: <= distinct (cnt, class-total) pairs,
    the PQ-ADC literal-LUT precedent) broadcast back as a hash-join
    table; the oracle evaluates the same expression in SQL. CPython and
    DuckDB both call the platform libm, so the doubles agree bitwise on
    one host; a cross-libm deployment could flip the rounded integer only
    when -ln(p)*1e6 sits within ~an ulp of a half-integer — the SRP
    sign-at-zero event class the parity suite and driver gate would
    surface (curation.py's documented stance). The max(.,1) clamp guards
    ln(0) when a class total + V exceeds 1e6 (mirrored in the oracle)."""
    import math

    test, grid = _nb_grid_and_test(spark, sf_dir)
    grid = scoped_cache(grid)
    pvals = [int(r["p_ppm"]) for r in grid.select("p_ppm").distinct().collect()]
    lut = [
        (p, int(math.floor(-math.log(max(p, 1) / 1000000.0) * 1000000.0 + 0.5)))
        for p in pvals
    ]
    # r22 batch 7: the broadcast LUT as a VALUES LocalRelation — the old
    # Python-RDD frame re-ran a Python-worker job inside EVERY action that
    # built this broadcast; see functions/localframe.py.
    if lut:
        from doc2vec_spark.functions.localframe import local_frame

        lut_df = local_frame(spark, lut, "p_ppm long, nll long")
    else:
        lut_df = spark.createDataFrame([], "p_ppm long, nll long")
    g = grid.join(F.broadcast(lut_df), "p_ppm").select("tok", "cand", "nll")
    return (
        test.join(g, "tok")
        .groupBy("doc_id", "lang", "cand")
        .agg(
            F.sum("nll").alias("nll_sum"),
            F.count(F.lit(1)).alias("n_scored"),
        )
    )


_NB_SCORES_SQL = f"""
    WITH toks AS (
      SELECT doc_id, lang, {_BUCKET_SQL} AS bucket,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    train AS (SELECT * FROM toks WHERE bucket < {TRAIN_BUCKETS}),
    test  AS (SELECT * FROM toks WHERE bucket >= {TRAIN_BUCKETS}),
    cls_counts AS (SELECT tok, lang, COUNT(*) AS cnt FROM train GROUP BY tok, lang),
    cls_totals AS (SELECT lang, COUNT(*) AS total FROM train GROUP BY lang),
    vocab AS (SELECT DISTINCT tok FROM train),
    v AS (SELECT COUNT(*) AS v_size FROM vocab),
    grid AS (
      SELECT vocab.tok, cls_totals.lang AS cand,
             CAST(floor(1000000.0 * (COALESCE(cls_counts.cnt, 0) + 1)
                        / (cls_totals.total + (SELECT v_size FROM v))) AS BIGINT)
               AS p_ppm
      FROM vocab
      CROSS JOIN cls_totals
      LEFT JOIN cls_counts
        ON cls_counts.tok = vocab.tok AND cls_counts.lang = cls_totals.lang
    ),
    scores AS (
      SELECT test.doc_id, test.lang, grid.cand,
             CAST(SUM(grid.p_ppm) AS BIGINT) AS score_sum,
             CAST(COUNT(*) AS BIGINT) AS n_scored
      FROM test JOIN grid ON grid.tok = test.tok
      GROUP BY test.doc_id, test.lang, grid.cand
    )
"""


@_register(
    "ta_nb_classify",
    _NB_SCORES_SQL
    + """
    SELECT doc_id, lang, cand AS predicted, score_sum, n_scored,
           CAST(CASE WHEN cand = lang THEN 1 ELSE 0 END AS BIGINT) AS correct
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score_sum DESC, cand) AS rn
          FROM scores)
    WHERE rn = 1
    """,
    "Naive-Bayes-family lang classifier trained on the md5-bucket 0-79 "
    "split, argmax prediction per held-out doc (Laplace +1, integer ppm, "
    "additive log-free combination). One vocab-sized count shuffle + "
    "token-keyed scoring join + doc-keyed window argmax.",
)
def ta_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = _nb_scores(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.col("score_sum").desc(), F.col("cand"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("cand").alias("predicted"),
            "score_sum",
            "n_scored",
            (F.col("cand") == F.col("lang")).cast("long").alias("correct"),
        )
    )


@_register(
    "ta_nb_confusion",
    _NB_SCORES_SQL
    + """
    SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT doc_id, lang, cand AS predicted,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score_sum DESC, cand) AS rn
          FROM scores)
    WHERE rn = 1
    GROUP BY lang, predicted
    """,
    "Held-out confusion matrix of the NB lang classifier: (true lang, "
    "predicted lang) counts — the artifact a quality-filter threshold is "
    "read from. Bounded |classes|^2 output.",
)
def ta_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = _nb_scores(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.col("score_sum").desc(), F.col("cand"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("lang", F.col("cand").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


_NLL_SQL = (
    "CAST(floor(-ln(greatest(grid.p_ppm, 1) / 1000000.0) * 1000000.0 + 0.5) "
    "AS BIGINT)"
)


@_register(
    "ta_nb_classify_log",
    _NB_SCORES_SQL
    + f""",
    logscores AS (
      SELECT test.doc_id, test.lang, grid.cand,
             CAST(SUM({_NLL_SQL}) AS BIGINT) AS nll_sum,
             CAST(COUNT(*) AS BIGINT) AS n_scored
      FROM test JOIN grid ON grid.tok = test.tok
      GROUP BY test.doc_id, test.lang, grid.cand
    )
    SELECT doc_id, lang, cand AS predicted, nll_sum, n_scored,
           CAST(CASE WHEN cand = lang THEN 1 ELSE 0 END AS BIGINT) AS correct
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY nll_sum ASC, cand) AS rn
          FROM logscores)
    WHERE rn = 1
    """,
    "TEXTBOOK log-domain multinomial NB (VERDICT r12 #3): per-occurrence "
    "negative log-likelihoods in integer micro-nats (driver-built LUT over "
    "the distinct realized p_ppm values, broadcast hash join — the PQ-ADC "
    "literal-LUT precedent), argmin per held-out doc. Same train split, "
    "grid, and feature set as ta_nb_classify; the decision rule is the "
    "standard sum-of-logs instead of the hash-gate-friendly additive "
    "relaxation, so a user reaching for 'Naive Bayes' gets textbook "
    "boundaries. Decision-boundary delta vs the relaxation is pinned by a "
    "held-out agreement pytest and recorded in COVERAGE.md.",
)
def ta_nb_classify_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = _nb_log_scores(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.col("nll_sum").asc(), F.col("cand"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("cand").alias("predicted"),
            "nll_sum",
            "n_scored",
            (F.col("cand") == F.col("lang")).cast("long").alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram corpus novelty
# ---------------------------------------------------------------------------


@_register(
    "ta_ngram_novelty",
    """
    WITH sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
            FROM documents),
           unnest(generate_series(1, len(ws)-2)) t(i)
    ),
    df AS (SELECT s, COUNT(*) AS n_docs FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST((10000 * SUM(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS novelty_bp
    FROM sh JOIN df USING (s)
    GROUP BY sh.doc_id
    """,
    "Per-doc corpus novelty: share of the doc's distinct word-3-gram "
    "shingles present in no other document, in basis points. One "
    "map-side-combinable shingle-count shuffle + keyed join back + one "
    "doc-keyed agg — counts, never posting lists, so hot shingles are free.",
)
def ta_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.operators.dedup import word_shingles_from
    from doc2vec_spark.session import default_parallelism

    docs = load(spark, sf_dir, "documents")
    # tokenize behind a repartition barrier (the _minhash_sig discipline):
    # (a) ProjectCollapse would otherwise inline the split into every
    # element_at of the shingle transform — measured 3.4x slower on this
    # exact op — and (b) the single-file parquet scan is ONE partition;
    # the barrier spreads shingling across all cores/executors
    toks = docs.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws"))
    sh = scoped_cache(
        toks.repartition(default_parallelism())
        .select("doc_id", F.explode(word_shingles_from(F.col("ws"), 3)).alias("s"))
    )
    # r21 (guide §2.3): the old shape joined the FULL shingle table back to
    # its own document-frequency counts on s (a third shingle-sized
    # exchange) before the per-doc aggregate. The per-doc unique count needs
    # no join-back: shingle rows are per-doc DISTINCT, so a shingle with
    # global count 1 has exactly one owner — min(doc_id) of its group — and
    # the unique counts aggregate from the (tiny) count-1 groups alone. Two
    # shingle-sized exchanges + one bounded one, same integers.
    df_counts = sh.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("owner")
    )
    totals = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    uniques = (
        df_counts.filter(F.col("n_docs") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    n_unique = F.coalesce(F.col("n_unique"), F.lit(0)).cast("long")
    return totals.join(uniques, "doc_id", "left").select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        n_unique.alias("n_unique"),
        F.floor(F.lit(10000) * n_unique / F.col("n_shingles"))
        .cast("long")
        .alias("novelty_bp"),
    )
