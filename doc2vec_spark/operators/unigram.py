"""Unigram-LM subword segmentation (round 13): the Viterbi inference step
of the SentencePiece unigram tokenizer (Kudo 2018, 'Subword
Regularization'), completing the engine's tokenizer family (BPE training
exact + batched, WordPiece longest-match, vocab-TABLE encoder — this adds
the probabilistic-segmentation member).

Model: a piece vocabulary with unigram probabilities; the tokenization of
a word is the segmentation minimizing total negative log-likelihood.
Vocabulary here is the deterministic frequency-derived one (all char
1-grams plus the TOP_V most frequent 2..{MAXP}-grams, occurrence-weighted,
renormalized over the selected set) — the seed-vocab construction of
Kudo's EM, which is exactly what the inference step consumes.

Integer-exact Viterbi, the packed-key trick: piece cost
nll = floor(-ln(max(p_ppm,1)/1e6)*1e6 + 0.5) micro-nats (the
ta_nb_classify_log LUT discipline), packed pk = nll*100 + 1. Because the
pack is LINEAR in (cost, piece_count), running Viterbi directly on packed
values minimizes (cost, n_pieces) lexicographically in ONE BIGINT DP —
best[i] = min over piece length l of best[i-l] + pk(word[i-l+1 .. i]) —
and the result unpacks as cost = v div 100, n_pieces = v % 100
(n_pieces <= MAXLEN < 100; max packed path ~2.8e10, no overflow).

Engine plan: one distinct-words aggregation (the only corpus-keyed
shuffle), piece counting as a bounded explode over the DISTINCT words,
the TOP_V+alphabet vocab collected driver-side (bounded literal-LUT
precedent) and re-shipped as a BROADCAST-JOINED cost frame (not a
create_map literal — plan size stays constant in alphabet size), piece
costs pre-gathered into one dense per-word array, and the DP as ONE
map-only F.aggregate fold over char positions — O(MAXLEN * MAXP)
element_at reads per distinct word. Output is the bounded per-n_pieces
profile.
The oracle unrolls the same DP as a generated chain of MAXLEN CTEs
(the _lloyd_ctes iterative-CTE precedent) — same integers, textbook
single-plan form.

100 TB: distinct-words is sublinear in corpus bytes (Heaps' law), the
fold is map-only over it, and the vocab is a constant-size broadcast.
This is the same shape the vocab-TABLE encoder already proved at 10x.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


MAXLEN = 20  # words longer than this are excluded (both engines)
MAXP = 4  # maximum piece length
TOP_V = 256  # multi-char vocab size (all 1-grams are always in-vocab)
_INF = 10**12  # unreachable-path sentinel; 20 additions stay << BIGINT
# unknown single char (never fires on in-corpus words — every 1-gram of the
# corpus is in-vocab by construction — kept for foreign data): p_ppm = 1
_UNK_NLL = int(math.floor(-math.log(1 / 1000000.0) * 1000000.0 + 0.5))
_UNK_PK = _UNK_NLL * 100 + 1

# piece packed-cost from (cnt, total), shared by both sides' derivations:
# p_ppm = floor(1e6 * cnt / total);  pk = floor(-ln(max(p_ppm,1)/1e6)*1e6+0.5)*100 + 1
_PK_SQL = (
    "CAST(floor(-ln(greatest(CAST(floor(1000000.0 * cnt / (SELECT t FROM tot))"
    " AS BIGINT), 1) / 1000000.0) * 1000000.0 + 0.5) AS BIGINT) * 100 + 1"
)


def _py_pk(cnt: int, total: int) -> int:
    p_ppm = int(math.floor(1000000.0 * cnt / total))
    nll = int(math.floor(-math.log(max(p_ppm, 1) / 1000000.0) * 1000000.0 + 0.5))
    return nll * 100 + 1


def _dp_ctes() -> str:
    """The unrolled Viterbi chain: dp{i} = best packed cost of the first i
    chars, for every word with len >= i. Generated like _lloyd_ctes."""
    # MATERIALIZED throughout: DuckDB inlines CTEs by default, and dp{{i}}
    # is referenced by up to MAXP later CTEs — inlined, the chain expands
    # exponentially (and re-opens the parquet file once per expansion,
    # exhausting file handles). Materialization makes it the linear DP it is.
    parts = ["dp0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS c FROM words)"]
    for i in range(1, MAXLEN + 1):
        branches = []
        for l in range(1, MAXP + 1):
            if l > i:
                continue
            default = str(_UNK_PK) if l == 1 else str(_INF)
            branches.append(
                f"SELECT w.word, d.c + COALESCE(pc.pk, {default}) AS cand "
                f"FROM words w JOIN dp{i - l} d USING (word) "
                f"LEFT JOIN pcost pc ON pc.piece = substr(w.word, {i - l + 1}, {l}) "
                f"WHERE len(w.word) >= {i}"
            )
        union = " UNION ALL ".join(branches)
        parts.append(
            f"dp{i} AS MATERIALIZED (SELECT word, MIN(cand) AS c FROM ({union}) GROUP BY word)"
        )
    final = " UNION ALL ".join(
        f"SELECT w.word, w.freq, d.c FROM words w JOIN dp{i} d USING (word) "
        f"WHERE len(w.word) = {i}"
        for i in range(1, MAXLEN + 1)
    )
    parts.append(f"final AS ({final})")
    return ",\n    ".join(parts)


@_register(
    "ta_unigram_segment",
    f"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
      FROM documents),
    words AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM toks WHERE len(word) BETWEEN 1 AND {MAXLEN}
      GROUP BY word),
    sub AS (
      SELECT substr(w.word, i, l) AS piece, SUM(w.freq) AS cnt
      FROM words w,
           unnest(generate_series(1, {MAXP})) tl(l),
           unnest(generate_series(1, {MAXLEN})) ti(i)
      WHERE i + l - 1 <= len(w.word)
      GROUP BY piece),
    multi AS (
      SELECT piece, cnt FROM sub WHERE len(piece) >= 2
      ORDER BY cnt DESC, piece LIMIT {TOP_V}),
    vocab AS (
      SELECT * FROM multi
      UNION ALL
      SELECT piece, cnt FROM sub WHERE len(piece) = 1),
    tot AS (SELECT SUM(cnt) AS t FROM vocab),
    pcost AS MATERIALIZED (SELECT piece, {_PK_SQL} AS pk FROM vocab),
    {_dp_ctes()}
    SELECT CAST(c % 100 AS BIGINT) AS n_pieces,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(freq) AS BIGINT) AS total_freq,
           CAST(SUM(c // 100) AS BIGINT) AS sum_cost_unats,
           CAST(SUM(freq * (c // 100)) AS BIGINT) AS wsum_cost_unats,
           MIN(word) AS sample_word
    FROM final
    GROUP BY c % 100
    """,
    f"Unigram-LM Viterbi segmentation (SentencePiece inference, Kudo "
    f"2018): min-NLL segmentation of every distinct corpus word over the "
    f"frequency-derived vocab (all 1-grams + top-{TOP_V} 2..{MAXP}-grams, "
    "renormalized). Integer-exact via the packed (micro-nat cost * 100 + "
    "piece count) Viterbi key — ONE BIGINT DP minimizes (cost, n_pieces) "
    "lexicographically. Engine: distinct-words shuffle, broadcast-joined "
    "piece costs gathered into a dense per-word array, map-only fold; "
    "oracle: the same DP unrolled as "
    f"{MAXLEN} generated CTEs. Output: per-piece-count profile of the "
    "whole corpus segmentation.",
)
def ta_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.caching import scoped_cache
    from doc2vec_spark.session import default_parallelism

    docs = load(spark, sf_dir, "documents")
    # repartition barrier (the ta_ngram_novelty catch, re-caught here by the
    # 10x harness at 16x super-linear): the single-file parquet scan is ONE
    # partition, which would run the corpus-wide token explode on one core.
    # scoped_cache: the bounded words frame feeds THREE consumers (two vocab
    # collects + the final fold) — uncached, each re-tokenizes the corpus.
    words = scoped_cache(
        docs.repartition(default_parallelism())
        .select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"))
        .filter(F.length("word").between(1, MAXLEN))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )

    # piece counting over DISTINCT words (freq-weighted), bounded explode
    pos = words.select(
        "word",
        "freq",
        F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i"),
    ).select(
        "word",
        "freq",
        F.explode(
            F.filter(
                F.array(*[F.lit(l) for l in range(1, MAXP + 1)]),
                lambda l: F.col("i") + l - 1 <= F.length("word"),
            )
        ).alias("l"),
        F.col("i"),
    )
    # r21: cached — the two vocab collects below (top-V multi-char and the
    # 1-gram alphabet) otherwise each re-run the piece-count aggregation
    # over the exploded substring table; the frame is piece-vocabulary-sized
    # (bounded) so the cache is flat-storage-safe
    sub = scoped_cache(
        pos.select(
            F.col("word").substr(F.col("i"), F.col("l")).alias("piece"),
            "freq",
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )

    # bounded vocab to the driver: top TOP_V multi-char + every 1-gram —
    # ONE collect (r22): the two branches union over the cached sub frame,
    # so the driver pays one job instead of two; branch rows are disjoint
    # (len >= 2 vs len = 1) and downstream use is order-free (a pk lookup
    # frame + a sum), so union order is immaterial.
    vocab_rows = (
        sub.filter(F.length("piece") >= 2)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(TOP_V)
        .unionByName(sub.filter(F.length("piece") == 1))
        .collect()
    )
    vocab = [(r["piece"], int(r["cnt"])) for r in vocab_rows]
    if not vocab:
        return spark.createDataFrame(
            [],
            "n_pieces long, n_words long, total_freq long, "
            "sum_cost_unats long, wsum_cost_unats long, sample_word string",
        )
    total = sum(c for _, c in vocab)
    # Piece costs ship as a BROADCAST-JOINED frame, not an F.create_map
    # literal (ADVICE r13): the literal's branch count is alphabet-sized —
    # ~340 expressions on the ASCII fixture but tens of thousands on a CJK
    # corpus, the round-12 deep-literal-chain codegen trap. The pk values
    # are still derived driver-side by _py_pk so the micro-nat integers
    # stay byte-identical to the oracle's; driver/broadcast state is
    # bounded by TOP_V + alphabet size (a few MB even for full Unicode).
    # r22 batch 7: VALUES LocalRelation (byte-exact base64 string cells) —
    # the Python-RDD frame re-ran a Python-worker job inside every action
    # that built this broadcast; see functions/localframe.py. `vocab` is
    # non-empty here (guarded above).
    from doc2vec_spark.functions.localframe import local_frame

    pcost = F.broadcast(
        local_frame(
            spark, [(p, _py_pk(c, total)) for p, c in vocab], "piece string, pk long"
        )
    )

    # Dense per-word cost array: slot (e-1)*MAXP + l = packed cost of the
    # length-l piece ENDING at char e (INF where l > e, so indexing needs
    # no gaps). One bounded explode over DISTINCT words (len*MAXP <= 80
    # rows each), one broadcast hash join, one word-keyed shuffle back.
    slots = (
        words.select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("e"),
        )
        .select(
            "word",
            "freq",
            "e",
            F.explode(F.array(*[F.lit(l) for l in range(1, MAXP + 1)])).alias("l"),
        )
        .select(
            "word",
            "freq",
            ((F.col("e") - 1) * MAXP + F.col("l")).alias("idx"),
            "l",
            F.when(
                F.col("l") <= F.col("e"),
                F.col("word").substr(F.col("e") - F.col("l") + 1, F.col("l")),
            ).alias("piece"),
        )
    )
    costed = slots.join(pcost, "piece", "left").select(
        "word",
        "freq",
        "idx",
        F.when(F.col("piece").isNull(), F.lit(_INF))
        .otherwise(
            F.coalesce(
                F.col("pk"),
                F.when(F.col("l") == 1, F.lit(_UNK_PK)).otherwise(F.lit(_INF)),
            )
        )
        .alias("cost"),
    )
    arrs = costed.groupBy("word", "freq").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "cost"))), lambda s: s.cost
        ).alias("pkarr")
    )

    # the packed Viterbi fold: map-only over distinct words; every piece
    # cost is one element_at into the precomputed dense array
    def step(acc, i):
        cands = []
        for l in range(1, MAXP + 1):
            cost = F.element_at(F.col("pkarr"), (i - 1) * MAXP + F.lit(l))
            prev = F.element_at(acc, i - F.lit(l) + 1)
            cands.append(F.when(i >= l, prev + cost).otherwise(F.lit(_INF)))
        return F.concat(acc, F.array(F.least(*cands)))

    packed = F.aggregate(
        F.sequence(F.lit(1), F.length("word")),
        F.array(F.lit(0).cast("long")),
        step,
        lambda acc: F.element_at(acc, F.length(F.col("word")) + 1),
    )
    final = arrs.select("word", "freq", packed.alias("c"))
    return final.groupBy((F.col("c") % 100).alias("n_pieces")).agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("freq").cast("long").alias("total_freq"),
        F.sum(F.expr("c div 100")).cast("long").alias("sum_cost_unats"),
        F.sum(F.col("freq") * F.expr("c div 100"))
        .cast("long")
        .alias("wsum_cost_unats"),
        F.min("word").alias("sample_word"),
    )
