"""Tokenizer-induction statistics: BPE merge candidates (round 8).

Byte-pair-encoding training (Sennrich et al. 2016 — the algorithm behind
GPT/Llama tokenizers) is an iterated aggregation: count adjacent symbol
pairs across the corpus weighted by word frequency, merge the most frequent
pair into one symbol, repeat. The per-iteration aggregation is the whole
distributed cost — the merge itself touches only the vocabulary table — so
the operator a Spark pipeline needs is exactly this pair-count stage.
``ta_bpe_pairs`` computes it for the initial character alphabet and reports
the top merge candidates; a trainer loops it with the vocabulary table
re-encoded between rounds (driver-side, vocabulary-sized — never
corpus-sized).

All counts are exact integers over (token, frequency) pairs, so the result
is hash-identical in both engines. Overlapping occurrences count, like the
reference BPE implementation's pair statistics ("aaa" contributes "aa"
twice before the first merge).

100 TB story: the corpus collapses to its word-frequency table first (ONE
token shuffle — the same table every ta_*/lm operator reuses), and pair
explosion runs over DISTINCT tokens only (vocabulary-sized, zipf-bounded),
weighted by the frequencies — corpus size enters the word count, never the
pair explode. Map-side partial sums carry the pair aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


BPE_TOP_K = 20


@_register(
    "ta_bpe_pairs",
    f"""
    WITH words AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
      ) GROUP BY tok
    ),
    pairs AS (
      SELECT substr(tok, i, 2) AS pair, freq
      FROM words, unnest(generate_series(1, len(tok) - 1)) t(i)
      WHERE len(tok) >= 2
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT {BPE_TOP_K}
    """,
    "BPE merge-candidate statistics (Sennrich et al. 2016): adjacent "
    "character-pair counts over the corpus, weighted by word frequency — "
    "the per-iteration aggregation a distributed BPE trainer loops. The "
    "corpus collapses to its word-frequency table first; pair explosion is "
    "vocabulary-sized only. Exact integer counts, top-"
    f"{BPE_TOP_K} by (count, pair).",
)
def ta_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = (
        words.filter(F.length("tok") >= 2)
        .select(
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("tok") - 1)).alias("i"),
            "tok",
        )
        .select(F.expr("substring(tok, i, 2)").alias("pair"), "freq")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_TOP_K)
    )
