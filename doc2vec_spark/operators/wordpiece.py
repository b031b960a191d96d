"""Tokenizer APPLY: greedy longest-match wordpiece encoding (round 9).

``ta_bpe_pairs`` (tokenizer.py) trains merge statistics; this module closes
the loop and *applies* a subword tokenizer, so every downstream token count
(sequence packing, budget allocation) can run in subwords instead of
whitespace words. The reference never tokenizes at all — its token
arithmetic is the 4-chars-per-token heuristic (doc2vec.ts:2006-2008) — so
this is a capability the Spark engine adds for the training-data plane.

Tokenizer model (deterministic, derived from the corpus itself, no stored
state — the same self-contained-literal discipline as the ann_* sketches):

- vocabulary = top-``WORD_VOCAB_K`` whole words (freq DESC, word ASC)
  ∪ top-``PAIR_VOCAB_K`` character pairs (the ``ta_bpe_pairs`` statistic)
  ∪ the implicit single-character alphabet (every 1-gram matches itself);
- greedy longest-match, HuggingFace-wordpiece style: a word in the whole-
  word vocabulary is one piece; otherwise walk left to right taking the
  2-char piece when it is in the pair vocabulary, else the 1-char piece;
- words longer than ``MAX_WORD_CHARS`` map to a single ``[UNK]`` piece
  (the max_input_chars_per_word rule real wordpiece tokenizers apply).

Engine-exactness: the walk is pure integer/string logic — both engines
produce identical pieces, so results hash-match without tolerance.

100 TB story: the corpus collapses to its DISTINCT-word frequency table
first (ONE token shuffle — the same table every ta_*/lm operator reuses);
the greedy walk runs over distinct words only (vocabulary-sized,
zipf-bounded) as UNROLLED native column expressions — no UDF, no Python
boundary — and rejoins occurrences via a broadcast hash join. Corpus size
enters the word-count aggregation and the final per-doc sum; never the
walk. The two vocab tables collected to the driver are bounded literal
LUTs (20 + 8 rows — the ann_pq LUT precedent).

Round-12 split (VERDICT r11 #4): the literal-LUT walk above survives ONLY
as ``ta_wordpiece_encode``'s own registry entry — it pins the unrolled-
expression plan shape at toy vocab size. Every subword ACCOUNTING query in
this module (``ta_subword_doc_counts``, ``pipe_sequence_pack_subword``,
``pipe_data_budget_subword``, ``ta_tokenizer_fertility``) now reads
``_table_enc`` — the vocab-TABLE encoder (``vocab_encode.py``), whose plan
is identical at a 40-piece registry vocab and a 64k-piece production one —
with oracles re-specced onto the matching CTE chain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


PAIR_VOCAB_K = 20  # top adjacent-pair merges kept as 2-char pieces
WORD_VOCAB_K = 8  # top whole words kept as single pieces
MAX_WORD_CHARS = 16  # longer words -> [UNK] (wordpiece max_input_chars rule)
UNK = "[UNK]"

# Shared CTE text: corpus word-frequency table and the two vocab tables.
# The pair statistic is the identical computation ta_bpe_pairs verifies
# (weighted by word frequency, overlapping occurrences count).
_WORDS_SQL = r"""
  SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY tok
"""

_PVOCAB_SQL = f"""
  SELECT pair FROM (
    SELECT substr(word, i, 2) AS pair, SUM(freq) AS n
    FROM words, unnest(generate_series(1, len(word) - 1)) t(i)
    WHERE len(word) >= 2 GROUP BY pair)
  ORDER BY n DESC, pair LIMIT {PAIR_VOCAB_K}
"""

_WVOCAB_SQL = f"""
  SELECT word FROM words WHERE len(word) <= {MAX_WORD_CHARS}
  ORDER BY freq DESC, word LIMIT {WORD_VOCAB_K}
"""

# Greedy walk as a recursive CTE: one row per (word, position); a step
# consumes 2 chars when the 2-gram is a vocab pair, else 1. ``enc`` is the
# per-distinct-word encoding every query below composes.
_ENC_SQL = f"""
walk(word, pos, pieces, n) AS (
  SELECT word, 1, '', 0 FROM words
  WHERE len(word) <= {MAX_WORD_CHARS} AND word NOT IN (SELECT word FROM wvocab)
  UNION ALL
  SELECT word, pos + s, pieces || '|' || substr(word, pos, s), n + 1
  FROM (SELECT word, pos, pieces, n,
               CASE WHEN pos + 1 <= len(word)
                     AND EXISTS (SELECT 1 FROM pvocab p
                                 WHERE p.pair = substr(word, pos, 2))
                    THEN 2 ELSE 1 END AS s
        FROM walk WHERE pos <= len(word))),
enc AS (
  SELECT word, substr(pieces, 2) AS pieces, CAST(n AS BIGINT) AS n_pieces
  FROM walk WHERE pos > len(word)
  UNION ALL SELECT word, word, CAST(1 AS BIGINT) FROM wvocab
  UNION ALL SELECT word, '{UNK}', CAST(1 AS BIGINT)
            FROM words WHERE len(word) > {MAX_WORD_CHARS})
"""

_VOCAB_CTES = (
    f"WITH RECURSIVE\nwords AS ({_WORDS_SQL}),\n"
    f"pvocab AS ({_PVOCAB_SQL}),\nwvocab AS ({_WVOCAB_SQL}),\n{_ENC_SQL}"
)


def _tbl_ctes() -> str:
    """The vocab-TABLE encoder's words/vocab/grid/steps/walk/enc CTE chain
    (vocab_encode._enc_ctes at the registry vocabulary size) — the `enc`
    the subword ACCOUNTING oracles below read since round 12, mirroring the
    engine-side `_table_enc` switch. Same enc(word, pieces, n_pieces)
    contract as the legacy chain, so the downstream CTEs are unchanged."""
    from doc2vec_spark.operators.vocab_encode import REGISTRY_VOCAB_K, _enc_ctes

    return _enc_ctes(REGISTRY_VOCAB_K)


_TBL_CTES = _tbl_ctes()

def _corpus_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT-word frequency table — the one corpus-sized shuffle."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _table_enc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, pieces, n_pieces) from the vocab-TABLE encoder — the
    production encode path (VERDICT r11 #4). The subword ACCOUNTING queries
    below (doc counts, packing, budget, fertility) consume this table, so
    the numbers a dataloader/budget pass reads come from the encoder that
    actually scales to a 64k-piece vocabulary (vocab_encode.py: broadcast
    length-sliced joins + one native fold; nothing collected). The
    literal-LUT walk above remains only as ta_wordpiece_encode's own
    parity-legacy registry entry — it proves the unrolled-expression shape,
    but nothing downstream consumes it anymore."""
    from doc2vec_spark.operators.vocab_encode import (
        REGISTRY_VOCAB_K,
        corpus_words,
        derive_vocab,
        encode_against_vocab,
    )

    words = corpus_words(spark, sf_dir)
    vocab = derive_vocab(words, REGISTRY_VOCAB_K)
    return encode_against_vocab(words, vocab).select("word", "pieces", "n_pieces")


def _collect_vocab(words: DataFrame) -> tuple[list[str], list[str]]:
    """(pair vocab, whole-word vocab) — bounded driver-side literal LUTs
    (20 + 8 rows), identical derivations to the oracle CTEs."""
    pairs = (
        words.filter(F.length("word") >= 2)
        .select(
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
            "word",
        )
        .select(F.expr("substring(word, i, 2)").alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(PAIR_VOCAB_K)
    )
    wtop = (
        words.filter(F.length("word") <= MAX_WORD_CHARS)
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(WORD_VOCAB_K)
    )
    return (
        [r["pair"] for r in pairs.collect()],
        [r["word"] for r in wtop.collect()],
    )


def _greedy_walk_cols(pair_vocab: list[str]) -> tuple[Column, Column]:
    """The greedy walk over ``word`` as ONE native higher-order fold
    (``F.aggregate`` over the position sequence, each step advancing 1 or 2
    chars): returns (pieces, n_pieces) for the walked path ('|'-joined, no
    leading bar). A Python-level unrolled loop would re-embed the previous
    step's expression several times per step (exponential Catalyst tree);
    the fold keeps the expression LINEAR and evaluates JVM-side on the
    distinct-word table only — no UDF."""
    word = F.col("word")
    wlen = F.length(word)

    def step_fn(acc: Column, _i: Column) -> Column:
        pos = acc["pos"]
        take2 = (pos + F.lit(1) <= wlen) & (
            word.substr(pos, F.lit(2)).isin(pair_vocab)
            if pair_vocab
            else F.lit(False)
        )
        step = F.when(take2, F.lit(2)).otherwise(F.lit(1))
        advanced = F.struct(
            (pos + step).alias("pos"),
            F.concat(acc["pieces"], F.lit("|"), word.substr(pos, step)).alias(
                "pieces"
            ),
            (acc["n"] + F.lit(1)).alias("n"),
        )
        return F.when(pos > wlen, acc).otherwise(advanced)

    walked = F.aggregate(
        # at most one step per character; words beyond MAX_WORD_CHARS take
        # the [UNK] branch outside, so the fold is capped there too
        F.sequence(F.lit(1), F.least(wlen, F.lit(MAX_WORD_CHARS))),
        F.struct(
            F.lit(1).alias("pos"), F.lit("").alias("pieces"), F.lit(0).alias("n")
        ),
        step_fn,
    )
    pieces = walked["pieces"]
    # strip the leading '|' accumulated by the concat
    return pieces.substr(F.lit(2), F.length(pieces)), walked["n"]


def encode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-distinct-word encoding (word, freq, pieces, n_pieces) — the
    broadcast-sized table every occurrence-level query joins against."""
    words = _corpus_words(spark, sf_dir)
    pair_vocab, word_vocab = _collect_vocab(words)
    walk_pieces, walk_n = _greedy_walk_cols(pair_vocab)
    word = F.col("word")
    is_whole = word.isin(word_vocab) if word_vocab else F.lit(False)
    too_long = F.length(word) > MAX_WORD_CHARS
    return words.select(
        "word",
        "freq",
        F.when(too_long, F.lit(UNK))
        .when(is_whole, word)
        .otherwise(walk_pieces)
        .alias("pieces"),
        F.when(too_long | is_whole, F.lit(1))
        .otherwise(walk_n)
        .cast("long")
        .alias("n_pieces"),
    )


def _subword_doc_counts(
    spark: SparkSession, sf_dir: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, *carry, n_words, n_subword_tokens): occurrences
    broadcast-join the distinct-word encoding (vocab-TABLE path), then one
    map-side-combinable per-doc sum.

    ``carry`` (r19): additional documents columns — functionally dependent
    on doc_id — ride through the occurrence explode and the per-doc group
    key, so per-source/per-lang consumers (budget, packing) need no second
    corpus-grain join back to documents. At 100 TB that join is a full
    shuffle of the documents table against the per-doc counts; carrying
    the column widens the existing per-doc exchange key by a dependent
    attribute instead (same row count, no extra exchange)."""
    docs = load(spark, sf_dir, "documents")
    enc = _table_enc(spark, sf_dir).select("word", "n_pieces")
    occ = docs.select(
        "doc_id",
        *carry,
        F.explode(F.split(F.trim("text"), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    return (
        occ.join(F.broadcast(enc), "word")
        .groupBy("doc_id", *carry)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_subword_tokens"),
        )
    )


@_register(
    "ta_wordpiece_encode",
    f"""
    {_VOCAB_CTES}
    SELECT w.word, w.freq, e.pieces, e.n_pieces
    FROM words w JOIN enc e USING (word)
    ORDER BY w.word
    """,
    "Tokenizer APPLY: greedy longest-match wordpiece encode of every "
    f"distinct corpus word against a corpus-derived vocabulary (top-"
    f"{WORD_VOCAB_K} whole words + top-{PAIR_VOCAB_K} BPE pairs + the "
    "single-char alphabet). The walk is unrolled native column expressions "
    "over the distinct-word table — vocabulary-sized, no UDF; the oracle "
    "replays it as a recursive CTE. Closes the train->apply loop over "
    "ta_bpe_pairs; the reference only ever estimates tokens at 4 chars "
    "each (doc2vec.ts:2006-2008).",
)
def ta_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return encode_words(spark, sf_dir).orderBy("word")


@_register(
    "ta_subword_doc_counts",
    f"""
    {_TBL_CTES},
    occ AS (
      SELECT doc_id, word FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
        FROM documents) WHERE word <> '')
    SELECT o.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(e.n_pieces) AS BIGINT) AS n_subword_tokens
    FROM occ o JOIN enc e USING (word)
    GROUP BY o.doc_id ORDER BY o.doc_id
    """,
    "Per-document subword token counts: occurrences broadcast-join the "
    "distinct-word encoding table (the vocab-TABLE encoder since r12 — "
    "the path that carries a production vocabulary), then one map-side-"
    "combinable per-doc sum — the REAL token accounting the packing/"
    "budget plane needs (whitespace words undercount what a subword "
    "model trains on).",
)
def ta_subword_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _subword_doc_counts(spark, sf_dir).orderBy("doc_id")


# ---------------------------------------------------------------------------
# subword-exact packing and budgeting
# ---------------------------------------------------------------------------
# The pipeline.py originals (pipe_sequence_pack / pipe_data_budget) count
# whitespace words; these variants run the identical plans over SUBWORD
# counts from the encoder above. The pack-group expression is intentionally
# re-stated here rather than imported from pipeline.py: it is a one-line
# constant hash, and importing it would couple this module's spec closure
# to pipeline.py's perf-churn (the stamp-rotation discipline, COVERAGE.md).

SW_PACK_GROUPS = 8
SW_SEQ_LEN = 512

def _sw_pack_group_sql(col: str = "doc_id") -> str:
    return (
        f"('0x' || substr(md5(CAST({col} AS VARCHAR)), 9, 4))::BIGINT"
        f" % {SW_PACK_GROUPS}"
    )


def _sw_pack_group_col() -> Column:
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 9, 4), 16, 10)
        .cast("long")
        % SW_PACK_GROUPS
    )


@_register(
    "pipe_sequence_pack_subword",
    f"""
    {_TBL_CTES},
    swl AS (
      SELECT o.doc_id, o.lang, CAST(SUM(e.n_pieces) AS BIGINT) AS n_tok
      FROM (SELECT doc_id, lang, word FROM (
              SELECT doc_id, lang,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
              FROM documents) WHERE word <> '') o
      JOIN enc e USING (word) GROUP BY o.doc_id, o.lang),
    tok AS (
      SELECT doc_id, lang, {_sw_pack_group_sql('doc_id')} AS pack_group, n_tok
      FROM swl),
    iv AS (
      SELECT doc_id, lang, pack_group, n_tok,
             CAST(SUM(n_tok) OVER (PARTITION BY lang, pack_group ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tok AS BIGINT) AS start,
             CAST(SUM(n_tok) OVER (PARTITION BY lang, pack_group ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fin
      FROM tok)
    SELECT doc_id, lang, pack_group, CAST(s AS BIGINT) AS seq_id,
           CAST(greatest(start, s * {SW_SEQ_LEN}) - s * {SW_SEQ_LEN} AS BIGINT) AS tok_offset,
           CAST(least(fin, (s + 1) * {SW_SEQ_LEN}) - greatest(start, s * {SW_SEQ_LEN}) AS BIGINT) AS n_tok_in_seq
    FROM iv, unnest(generate_series(start // {SW_SEQ_LEN}, (fin - 1) // {SW_SEQ_LEN})) t(s)
    """,
    "Sequence packing in SUBWORD tokens: the pipe_sequence_pack plan "
    "(windowed cumsum -> interval explode, integer-exact) with per-doc "
    "token counts from the vocab-TABLE encoder instead of whitespace words — "
    "sequences a subword-model dataloader can actually consume. One extra "
    "broadcast join (the distinct-word encoding) on top of the original's "
    "single window shuffle.",
)
def pipe_sequence_pack_subword(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Documented row-set asymmetry vs pipe_sequence_pack (ADVICE r9): docs
    # with zero eligible words have no per-doc count row and are excluded
    # entirely (pre-r19 an INNER join encoded this; now the count table
    # simply has no row for them — same row set), whereas the whitespace
    # variant assigns empty/whitespace-only docs n_tok=1 (split('') has
    # size 1). Deliberate: a subword dataloader has nothing to pack for an
    # empty doc, so excluding it is the truthful accounting — padding it to
    # one phantom token would misstate the training-token budget. The
    # oracle's inner JOIN in the CTE above encodes the same exclusion, so
    # both engines agree row-for-row. ``lang`` rides the per-doc group key
    # (r19: no corpus-grain join back to documents); pack_group derives
    # from doc_id post-agg.
    tok = _subword_doc_counts(spark, sf_dir, carry=("lang",)).select(
        "doc_id",
        "lang",
        _sw_pack_group_col().alias("pack_group"),
        F.col("n_subword_tokens").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "pack_group")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    iv = tok.select(
        "doc_id",
        "lang",
        "pack_group",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("start"),
        F.sum("n_tok").over(w).alias("fin"),
    )
    L = F.lit(SW_SEQ_LEN)
    s = F.explode(
        F.sequence(F.floor(F.col("start") / L), F.floor((F.col("fin") - 1) / L))
    ).alias("s")
    seg = iv.select("doc_id", "lang", "pack_group", "start", "fin", s)
    seg_start = F.greatest(F.col("start"), F.col("s") * L)
    return seg.select(
        "doc_id",
        "lang",
        "pack_group",
        F.col("s").cast("long").alias("seq_id"),
        (seg_start - F.col("s") * L).cast("long").alias("tok_offset"),
        (F.least(F.col("fin"), (F.col("s") + 1) * L) - seg_start)
        .cast("long")
        .alias("n_tok_in_seq"),
    )


def _budget_subword_oracle() -> str:
    """The pipe_data_budget oracle over per-doc SUBWORD token counts
    (allocation constants imported so the two variants stay in lockstep)."""
    from doc2vec_spark.operators.budget import (
        BUDGET_X2,
        CAP_DEN,
        CAP_NUM,
        QUALITY_MIN_TOKENS,
    )

    return f"""
    {_TBL_CTES},
    per_doc AS (
      SELECT o.source, CAST(SUM(e.n_pieces) AS BIGINT) AS toks
      FROM (SELECT doc_id, source, word FROM (
              SELECT doc_id, source,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
              FROM documents) WHERE word <> '') o
      JOIN enc e USING (word) GROUP BY o.doc_id, o.source),
    per_source AS (
      SELECT source,
             CAST(SUM(toks) AS BIGINT) AS t_s,
             CAST(SUM(CASE WHEN toks >= {QUALITY_MIN_TOKENS} THEN toks
                           ELSE 0 END) AS BIGINT) AS w_s
      FROM per_doc GROUP BY source),
    tot AS (
      SELECT CAST(SUM(t_s) AS BIGINT) AS t, CAST(SUM(w_s) AS BIGINT) AS w
      FROM per_source),
    r1 AS (
      SELECT source, t_s, w_s,
             (t_s * {CAP_NUM}) // {CAP_DEN} AS cap_s,
             LEAST((t_s * {CAP_NUM}) // {CAP_DEN},
                   CASE WHEN t.w > 0 THEN ({BUDGET_X2} * t.t * w_s) // t.w
                        ELSE ({BUDGET_X2} * t.t * t_s) // t.t END) AS a1
      FROM per_source, tot t),
    lo AS (
      SELECT {BUDGET_X2} * (SELECT t FROM tot) - SUM(a1) AS leftover,
             SUM(CASE WHEN a1 < cap_s
                      THEN CASE WHEN (SELECT w FROM tot) > 0 THEN w_s ELSE t_s END
                      ELSE 0 END) AS u
      FROM r1),
    fin AS (
      SELECT source, t_s, w_s, cap_s,
             CASE WHEN a1 < cap_s AND lo.u > 0
                  THEN LEAST(cap_s, a1 + (lo.leftover *
                         (CASE WHEN (SELECT w FROM tot) > 0 THEN w_s
                               ELSE t_s END)) // lo.u)
                  ELSE a1 END AS alloc
      FROM r1, lo)
    SELECT source,
           t_s AS tokens,
           w_s AS quality_tokens,
           cap_s AS cap_tokens,
           CAST(alloc AS BIGINT) AS alloc_tokens,
           CAST(alloc * 1000000 // t_s AS BIGINT) AS epochs_ppm
    FROM fin
    ORDER BY source
    """


@_register(
    "pipe_data_budget_subword",
    _budget_subword_oracle(),
    "Token-budget waterfill (Muennighoff et al. 2023 repeat-cap rule, "
    "identical integer arithmetic to pipe_data_budget) over SUBWORD token "
    "mass from the vocab-TABLE encoder — budgets that match what a subword "
    "model actually trains on. Corpus collapses to one row per source; the "
    "waterfill stays bounded driver-side arithmetic.",
)
def pipe_data_budget_subword(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.operators.budget import QUALITY_MIN_TOKENS, waterfill

    # ``source`` rides the per-doc group key (r19): previously a second
    # corpus-grain shuffle join pulled it back from documents
    sw = _subword_doc_counts(spark, sf_dir, carry=("source",)).select(
        "source", F.col("n_subword_tokens").alias("toks")
    )
    per_source = (
        sw.groupBy("source")
        .agg(
            F.sum("toks").alias("t_s"),
            F.sum(
                F.when(
                    F.col("toks") >= QUALITY_MIN_TOKENS, F.col("toks")
                ).otherwise(F.lit(0))
            ).alias("w_s"),
        )
    )
    # |sources| rows — the waterfill is bounded driver-side integer
    # arithmetic (KMV/Q15 precedent), identical to pipe_data_budget's
    rows = sorted(per_source.collect(), key=lambda r: r["source"])
    schema = (
        "source string, tokens long, quality_tokens long, cap_tokens long, "
        "alloc_tokens long, epochs_ppm long"
    )
    if not rows:
        return spark.createDataFrame([], schema)
    alloc = waterfill([(r["source"], r["t_s"], r["w_s"]) for r in rows])
    # r22 batch 7: VALUES LocalRelation instead of a Python-RDD frame —
    # no Python-worker job per action; see functions/localframe.py.
    from doc2vec_spark.functions.localframe import local_frame

    return local_frame(spark, alloc, schema).orderBy("source")


@_register(
    "ta_tokenizer_fertility",
    f"""
    {_TBL_CTES},
    occ AS (
      SELECT doc_id, word FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
        FROM documents) WHERE word <> '')
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(e.n_pieces) AS BIGINT) AS n_pieces,
           CAST(SUM(CASE WHEN e.pieces = '{UNK}' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unk_words,
           CAST(SUM(e.n_pieces) * 1000000 // COUNT(*) AS BIGINT)
             AS fertility_ppm,
           CAST(SUM(CASE WHEN e.pieces = '{UNK}' THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS unk_ppm
    FROM occ o JOIN enc e USING (word)
    JOIN documents d ON d.doc_id = o.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
    "Tokenizer-fit monitor: per-source subword FERTILITY (pieces per word, "
    "integer ppm — the standard metric for how well a vocabulary fits a "
    "domain) and [UNK]-word rate under the vocab-TABLE encoder. Occurrences "
    "broadcast-join the distinct-word encoding; one map-side-combinable "
    "per-source aggregation — the drift check a 100 TB pipeline runs when "
    "a new source lands.",
)
def ta_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    enc = _table_enc(spark, sf_dir)
    occ = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    unk = F.count_if(F.col("pieces") == UNK)
    n_words = F.count(F.lit(1))
    n_pieces = F.sum("n_pieces")
    return (
        occ.join(F.broadcast(enc), "word")
        .groupBy("source")
        .agg(
            n_words.cast("long").alias("n_words"),
            n_pieces.cast("long").alias("n_pieces"),
            unk.cast("long").alias("n_unk_words"),
            F.floor(n_pieces * 1000000 / n_words).cast("long").alias("fertility_ppm"),
            F.floor(unk * 1000000 / n_words).cast("long").alias("unk_ppm"),
        )
        .orderBy("source")
    )
