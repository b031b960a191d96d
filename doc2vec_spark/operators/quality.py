"""Corpus-quality gates and term statistics (round 4).

Three operators a pretraining-data pipeline runs corpus-wide, adapted from
published filter batteries (the Gopher rule set, C4's heuristics, CCNet's
term statistics) to the repo-wide cross-engine-determinism rules: integer
cross-multiplication instead of float ratios, ratio scores instead of log
scores (monotone transform, same documents kept), ``pround`` on every
double that crosses the hash gate.

- ``ta_gopher_rules``: document-level admission flags — word-count bounds,
  mean-word-length bounds, stopword evidence, max-single-word fraction —
  the per-doc slice of Gopher's quality table. Map-only after one
  doc-keyed aggregation; 100 TB-safe trivially.
- ``ta_tfidf_topk``: top-5 distinctive terms per document by tf x (N/df).
  N/df is the log-free idf surrogate (ordering-equivalent per fixed tf
  composition); one term-keyed shuffle for df, one doc-keyed shuffle for
  tf + ranking window. At real scale the df table is vocab-sized —
  keyed-join territory, NOT broadcast; AQE may still broadcast small ones.
- ``ta_pmi_collocations``: top-50 adjacent-word collocations by the PMI
  ratio c_ab * T / (c_a * c_b) (log-PMI is monotone in it). Bigram
  extraction is map-only array work; counts are two keyed shuffles; the
  final top-k is TakeOrderedAndProject, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doc2vec_spark.functions.rounding import pround, sql_round
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


# Gopher-style bounds, adapted to the synthetic corpus's scale: the paper
# uses [50, 100k] words / mean length [3, 10] / >=2 stopwords / repetition
# caps; the corpus here has ~30-60-word docs so the lower word bound is 10.
MIN_WORDS, MAX_WORDS = 10, 100_000
MIN_MEAN_LEN, MAX_MEAN_LEN = 3, 10  # integer bounds: 3n <= sum_len <= 10n
STOPWORDS = ("the", "a")  # the corpus vocabulary's function words
MAX_TOP_WORD_PCT = 20  # top word must be <= 20% of tokens: 5*top <= n


@_register(
    "ta_gopher_rules",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    per_tok AS (
      SELECT doc_id, tok, COUNT(*) AS cnt, SUM(length(tok)) AS sum_len,
             SUM(CASE WHEN tok IN ('the', 'a') THEN 1 ELSE 0 END) AS stop_cnt
      FROM toks GROUP BY doc_id, tok
    ),
    stats AS (
      -- CAST(SUM(..) AS BIGINT): DuckDB SUM(int) is HUGEINT -> pandas
      -- float64, Spark yields int64; the driver hash is dtype-sensitive.
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
             CAST(SUM(sum_len) AS BIGINT) AS sum_chars,
             MAX(cnt) AS top_word_cnt,
             CAST(SUM(stop_cnt) AS BIGINT) AS n_stopwords
      FROM per_tok GROUP BY doc_id
    )
    SELECT doc_id, n_words, sum_chars, top_word_cnt, n_stopwords,
           (n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}) AS word_count_ok,
           (sum_chars BETWEEN {MIN_MEAN_LEN} * n_words
                          AND {MAX_MEAN_LEN} * n_words) AS mean_len_ok,
           (n_stopwords >= 2) AS stopword_ok,
           (5 * top_word_cnt <= n_words) AS top_word_ok,
           ((n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS})
            AND (sum_chars BETWEEN {MIN_MEAN_LEN} * n_words
                               AND {MAX_MEAN_LEN} * n_words)
            AND (n_stopwords >= 2)
            AND (5 * top_word_cnt <= n_words)) AS gopher_pass
    FROM stats
    """,
    "Gopher-battery document admission: word-count bounds, mean word length "
    "via integer cross-multiplication (3n <= sum_chars <= 10n, no float "
    "division), stopword evidence, max-single-word repetition cap. One "
    "doc-keyed aggregation, map-only after; all-integer verdicts.",
)
def ta_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    per_tok = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.length("tok")).alias("sum_len"),
        F.sum(F.col("tok").isin(*STOPWORDS).cast("int")).alias("stop_cnt"),
    )
    stats = per_tok.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.sum("sum_len").alias("sum_chars"),
        F.max("cnt").alias("top_word_cnt"),
        F.sum("stop_cnt").alias("n_stopwords"),
    )
    word_count_ok = F.col("n_words").between(MIN_WORDS, MAX_WORDS)
    mean_len_ok = (F.col("sum_chars") >= MIN_MEAN_LEN * F.col("n_words")) & (
        F.col("sum_chars") <= MAX_MEAN_LEN * F.col("n_words")
    )
    stopword_ok = F.col("n_stopwords") >= 2
    top_word_ok = 5 * F.col("top_word_cnt") <= F.col("n_words")
    return stats.select(
        "doc_id",
        "n_words",
        "sum_chars",
        "top_word_cnt",
        "n_stopwords",
        word_count_ok.alias("word_count_ok"),
        mean_len_ok.alias("mean_len_ok"),
        stopword_ok.alias("stopword_ok"),
        top_word_ok.alias("top_word_ok"),
        (word_count_ok & mean_len_ok & stopword_ok & top_word_ok).alias(
            "gopher_pass"
        ),
    )


TFIDF_K = 5


@_register(
    "ta_tfidf_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, tok, tf.tf, df.df,
             {sql_round("tf.tf * 1.0 * (SELECT n_docs FROM n) / df.df", 6)} AS tfidf
      FROM tf JOIN df USING (tok)
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rank
      FROM scored
    )
    SELECT doc_id, tok, tf, df, tfidf, rank
    FROM ranked WHERE rank <= {TFIDF_K}
    """,
    "Top-5 distinctive terms per document by tf x (N/df) — the log-free idf "
    "surrogate (ratio ordering == log ordering). Term-keyed shuffle for df, "
    "doc-keyed shuffle for tf + the ranking window; N enters as a bounded "
    "1-row scalar. The df join stays keyed (vocab-sized at 100 TB).",
)
def ta_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()  # bounded: one scalar job
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    scored = tf.join(df, "tok").select(
        "doc_id",
        "tok",
        "tf",
        "df",
        # tf * 1.0 first: promote to double before the scalar multiply so
        # tf * n_docs can never overflow int64 under ANSI at real scale.
        pround(F.col("tf") * F.lit(1.0) * F.lit(n_docs) / F.col("df"), 6).alias(
            "tfidf"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_K)
        .select("doc_id", "tok", "tf", "df", "tfidf", "rank")
    )


PMI_MIN_PAIR = 5  # published PMI tables drop pairs with < ~5 occurrences
PMI_TOP = 50


@_register(
    "ta_pmi_collocations",
    f"""
    WITH arrs AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS l
      FROM documents
    ),
    bigrams AS (
      SELECT l[i] AS w1, l[i + 1] AS w2
      FROM arrs, unnest(range(1, len(l))) AS t(i)
    ),
    pair_cnt AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bigrams GROUP BY w1, w2),
    toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT SUM(c) AS t FROM uni)
    SELECT w1, w2, c_ab, u1.c AS c_a, u2.c AS c_b,
           {sql_round("c_ab * 1.0 * (SELECT t FROM tot) / (u1.c * 1.0 * u2.c)", 6)}
             AS pmi_ratio
    FROM pair_cnt
    JOIN uni u1 ON w1 = u1.tok
    JOIN uni u2 ON w2 = u2.tok
    WHERE c_ab >= {PMI_MIN_PAIR}
    ORDER BY pmi_ratio DESC, w1, w2 LIMIT {PMI_TOP}
    """,
    "Top-50 adjacent-word collocations by the PMI ratio c_ab*T/(c_a*c_b) "
    "(log-PMI is monotone in it; ratio keeps the hash gate float-exact "
    "after pround). Bigram extraction is map-only array work; two keyed "
    "count shuffles; final top-k is TakeOrderedAndProject.",
)
def ta_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # size >= 2 guard: a 1-token doc makes sequence(0, size-2) = [0, -1]
    # and l[-1] throws under ANSI mode; the oracle's range() is just empty.
    arrs = docs.select(F.split(F.trim("text"), r"\s+").alias("l")).filter(
        F.size("l") >= 2
    )
    bigrams = arrs.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(l) - 2),"
                " i -> struct(l[i] AS w1, l[i + 1] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    pair_cnt = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    toks = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    # uni has THREE consumers — the eager total aggregate below plus both
    # u1/u2 join sides — so an uncached plan recomputes the token
    # explode+groupBy subtree up to 3x. scoped_cache ties the cache to the
    # invocation (released on the next registry entry), so there is no
    # session-lifetime leak. The eager .first() populates it immediately.
    from doc2vec_spark.caching import scoped_cache

    uni = scoped_cache(toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")))
    # r22 batch 6 (guide §1.2, fewer actions): the corpus-token total was a
    # separate bounded `.first()` action whose main job was filling the uni
    # cache before the real query. It now rides as a 1-row aggregate frame
    # attached by a non-foldable constant-key broadcast equi-join (the
    # ta_kn_bigram_score batch-4 pattern — pmod(xxhash64(col), 1) == 0;
    # a foldable lit(0) key constant-folds into the banned
    # BroadcastNestedLoopJoin). One action; the cache fills inside it.
    tot = uni.agg(F.sum("c").alias("t")).withColumn(
        "_k", F.pmod(F.xxhash64(F.col("t")), F.lit(1))
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_a"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_b"))
    return (
        pair_cnt.filter(F.col("c_ab") >= PMI_MIN_PAIR)
        .join(u1, "w1")
        .join(u2, "w2")
        .withColumn("_k", F.pmod(F.xxhash64(F.col("c_ab")), F.lit(1)))
        .join(F.broadcast(tot), "_k")
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_a",
            "c_b",
            # promote to double before each multiply (c_ab * 1.0 * T and
            # c_a * 1.0 * c_b) so neither product can overflow int64 under
            # ANSI at real corpus sizes; identical op order in the oracle.
            pround(
                F.col("c_ab") * F.lit(1.0) * F.col("t")
                / (F.col("c_a") * F.lit(1.0) * F.col("c_b")),
                6,
            ).alias("pmi_ratio"),
        )
        .orderBy(F.desc("pmi_ratio"), "w1", "w2")
        .limit(PMI_TOP)
    )
