"""Text-analysis operators for training-data pipelines (BASELINE.json north
star): language-ID heuristic, quality scoring, token counting, document
fingerprinting. All native column expressions — no UDFs, so the whole module
stays inside WholeStageCodegen and scales linearly with input bytes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.functions.text import BPE_ISH_PATTERN
from doc2vec_spark.functions.rounding import pround
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


# ---------------------------------------------------------------------------
# language ID: marker-token scoring (n-gram heuristic)
# ---------------------------------------------------------------------------
# Deterministic argmax over per-language marker-token hit counts with a fixed
# tie order. (The driver corpus is synthetic shared-vocabulary text, so the
# interesting part is the operator machinery: token membership scoring +
# deterministic argmax — the marker lists are the pluggable model.)

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "window"],
    "es": ["el", "la", "de", "que", "dup"],
    "fr": ["le", "la", "et", "les", "stream"],
    "de": ["der", "die", "und", "das", "merge"],
    "zh": ["的", "是", "了", "在", "spark"],
}
_TIE_ORDER = list(LANG_MARKERS)  # first wins ties


def _lang_scores() -> dict[str, Column]:
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def _argmax_lang(scores: dict[str, Column]) -> Column:
    best_lang = F.lit(_TIE_ORDER[0])
    best_score = scores[_TIE_ORDER[0]]
    for lang in _TIE_ORDER[1:]:
        better = scores[lang] > best_score  # strict > keeps earlier lang on tie
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, scores[lang]).otherwise(best_score)
    return best_lang


def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t IN ({markers})))"
    )


def _argmax_lang_sql() -> str:
    expr_lang = f"'{_TIE_ORDER[0]}'"
    expr_score = _lang_score_sql(_TIE_ORDER[0])
    for lang in _TIE_ORDER[1:]:
        s = _lang_score_sql(lang)
        expr_lang = f"CASE WHEN ({s}) > ({expr_score}) THEN '{lang}' ELSE ({expr_lang}) END"
        expr_score = f"CASE WHEN ({s}) > ({expr_score}) THEN ({s}) ELSE ({expr_score}) END"
    return expr_lang


@_register(
    "ta_langid",
    f"SELECT doc_id, lang, ({_argmax_lang_sql()}) AS predicted_lang, "
    f"CASE WHEN ({_argmax_lang_sql()}) = lang THEN 1 ELSE 0 END AS correct "
    "FROM documents",
    "Language-ID heuristic: marker-token scoring with deterministic argmax",
)
def ta_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PERF CONTRACT (r19, the expression-duplication cousin of the r18 18x
    # class): the marker scores are BOUND to columns before the argmax
    # when-chain references them. Each chain step embeds best_score twice
    # (condition + otherwise), so an inlined score expression — a split +
    # interpreted filter HOF — doubles per language: ~2^(n-1) copies of the
    # first language's full re-split per row. Bound refs keep the chain's
    # growth in cheap attribute nodes (measured 4.3x on this map stage at
    # sf0.1, values identical).
    docs = load(spark, sf_dir, "documents")
    scores = _lang_scores()
    bound = docs.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in _TIE_ORDER],
    )
    pred = _argmax_lang({lang: F.col(f"score_{lang}") for lang in _TIE_ORDER})
    return bound.select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        F.when(pred == F.col("lang"), 1).otherwise(0).alias("correct"),
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------


@_register(
    "ta_quality_score",
    r"""
    SELECT doc_id,
           n_chars,
           ws_tokens,
           floor((n_chars * 1.0 / ws_tokens) * 1000000.0 + 0.5) / 1000000.0 AS chars_per_token,
           floor((uniq_tokens * 1.0 / ws_tokens) * 1000000.0 + 0.5) / 1000000.0 AS unique_ratio,
           floor((punct_chars * 1.0 / n_chars) * 1000000.0 + 0.5) / 1000000.0 AS punct_ratio,
           floor(((CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 0.4 ELSE 0.0 END)
                + (CASE WHEN uniq_tokens * 1.0 / ws_tokens >= 0.3 THEN 0.3 ELSE 0.0 END)
                + (CASE WHEN punct_chars * 1.0 / n_chars <= 0.1 THEN 0.3 ELSE 0.0 END)) * 1000000.0 + 0.5) / 1000000.0
           AS quality_score
    FROM (
      SELECT doc_id, n_chars,
             len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
             len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS uniq_tokens,
             len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS punct_chars
      FROM documents
    )
    """,
    "Quality scoring: length / unique-token ratio / punctuation ratio with a "
    "rule-based composite score (the Gopher/C4-style heuristic family)",
)
def ta_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("ws_tokens"),
        F.size(F.array_distinct(toks)).alias("uniq_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"), 0)).alias(
            "punct_chars"
        ),
    )
    unique_ratio = F.col("uniq_tokens") * 1.0 / F.col("ws_tokens")
    punct_ratio = F.col("punct_chars") * 1.0 / F.col("n_chars")
    score = (
        F.when(F.col("n_chars").between(100, 20000), 0.4).otherwise(0.0)
        + F.when(unique_ratio >= 0.3, 0.3).otherwise(0.0)
        + F.when(punct_ratio <= 0.1, 0.3).otherwise(0.0)
    )
    return base.select(
        "doc_id",
        "n_chars",
        "ws_tokens",
        pround(F.col("n_chars") * 1.0 / F.col("ws_tokens"), 6).alias("chars_per_token"),
        pround(unique_ratio, 6).alias("unique_ratio"),
        pround(punct_ratio, 6).alias("punct_ratio"),
        pround(score, 6).alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------


@_register(
    "ta_token_counts",
    rf"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS bpe_tokens,
           n_chars
    FROM documents
    """,
    "Token counting: whitespace + BPE-ish regex pre-tokenizer counts",
)
def ta_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.functions.text import token_count_regex, token_count_ws

    return load(spark, sf_dir, "documents").select(
        "doc_id",
        token_count_ws(F.col("text")).alias("ws_tokens"),
        token_count_regex(F.col("text")).alias("bpe_tokens"),
        "n_chars",
    )


# ---------------------------------------------------------------------------
# document fingerprinting (winnowing-lite)
# ---------------------------------------------------------------------------


@_register(
    "ta_fingerprint",
    r"""
    SELECT doc_id,
           list_min(grams) AS fingerprint,
           len(list_distinct(grams)) AS n_shingles
    FROM (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(ws)-4, 0)),
                            i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS grams
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents)
    )
    """,
    "Document fingerprint: min-hash over rolling word-5-gram windows "
    "(winnowing-style content signature, stable under small edits). Docs "
    "with < 5 tokens emit a NULL fingerprint / 0 shingles on both engines "
    "(array-native in both, so the row is kept rather than dropped).",
)
def ta_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # array_min/array_distinct over the in-row shingle array: a pure
    # projection — no explode, no shuffle. At 100 TB this is a map-only scan.
    # Short docs (< 5 tokens) are guarded: an unguarded sequence(1, size-4)
    # descends through 0 and element_at(ws, 0) raises.
    #
    # PERF CONTRACT (r19, the r18 18x class): the token array is BOUND in
    # its own projection before the shingle lambda references it. Inlining
    # the split Column would embed a copy of the regexp split per
    # element_at reference — five re-splits of the whole document per
    # shingle index, all interpreted (HOF lambdas run outside whole-stage
    # codegen, no runtime CSE). See dedup.word_shingles' contract note.
    docs = load(spark, sf_dir, "documents")
    bound = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    )
    ws = F.col("ws")
    idx = F.sequence(F.lit(1), F.size(ws) - 4)
    grams = F.when(
        F.size(ws) >= 5,
        F.transform(
            idx,
            lambda i: F.md5(
                F.concat_ws(" ", *[F.element_at(ws, i + k) for k in range(5)])
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return bound.select(
        "doc_id",
        F.array_min(grams).alias("fingerprint"),
        F.size(F.array_distinct(grams)).alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# vocabulary + distinctive tokens
# ---------------------------------------------------------------------------

VOCAB_K = 100
KEYWORDS_PER_DOC = 3


@_register(
    "ta_vocab_topk",
    f"""
    SELECT tok, cnt FROM (
      SELECT tok, COUNT(*) AS cnt
      FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents)
      GROUP BY tok)
    ORDER BY cnt DESC, tok LIMIT {VOCAB_K}
    """,
    "Corpus vocabulary top-{k}: the canonical wordcount with a deterministic "
    "(count desc, token) tie order. Compiles to partial-agg -> final-agg -> "
    "TakeOrderedAndProject: no global sort, no single-partition "
    "exchange.".format(k=VOCAB_K),
)
def ta_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.session import default_parallelism

    docs = load(spark, sf_dir, "documents").repartition(default_parallelism())
    toks = docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(VOCAB_K)
    )


@_register(
    "ta_distinctive_tokens",
    f"""
    WITH tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents)
      GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)
    SELECT doc_id, tok, tf, df,
           floor((tf * 1.0 / df) * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM (
      SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf * 1.0 / df.df DESC, tf.tok) AS rn
      FROM tf JOIN df USING (tok))
    WHERE rn <= {KEYWORDS_PER_DOC}
    """,
    "Per-document distinctive tokens: top-{k} by tf/df ratio (the log-free "
    "tf-idf surrogate — a single integer division is bit-identical across "
    "engines, where ln() is libm-dependent). Shuffles: token tf agg, token "
    "df agg, tf x df equi-join on the token, per-doc window — all keyed, no "
    "global ordering.".format(k=KEYWORDS_PER_DOC),
)
def ta_distinctive_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from doc2vec_spark.session import default_parallelism

    docs = load(spark, sf_dir, "documents").repartition(default_parallelism())
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    # cached: tf feeds BOTH the join probe side and the df aggregate — an
    # uncached plan recomputes the whole explode+agg subtree twice
    from doc2vec_spark.caching import scoped_cache

    tf = scoped_cache(
        toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    score = F.col("tf") * 1.0 / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(F.desc(score), "tok")
    return (
        tf.join(df_, "tok")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KEYWORDS_PER_DOC)
        .select("doc_id", "tok", "tf", "df", pround(score, 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# repetition metrics + PII scrubbing
# ---------------------------------------------------------------------------


@_register(
    "ta_repetition",
    r"""
    WITH tf AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
            FROM documents)
      GROUP BY doc_id, tok),
    toktop AS (SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS top_c FROM tf GROUP BY doc_id),
    grams AS (
      SELECT doc_id,
             greatest(len(ws) - 2, 0) AS total_g,
             len(list_distinct(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
                                              i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]))) AS dist_g
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents))
    SELECT t.doc_id AS doc_id,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           floor((t.top_c * 1.0 / t.n_tokens) * 1000000.0 + 0.5) / 1000000.0 AS top_tok_frac,
           CASE WHEN g.total_g > 0
                THEN floor(((g.total_g - g.dist_g) * 1.0 / g.total_g) * 1000000.0 + 0.5) / 1000000.0
                ELSE NULL END AS dup_3gram_frac
    FROM toktop t JOIN grams g ON t.doc_id = g.doc_id
    """,
    "Within-document repetition metrics (Gopher-style filters): most-common-"
    "token fraction and duplicated-3-gram fraction. The gram side is pure "
    "per-row array arithmetic (map-only); the token side is one tf shuffle. "
    "Docs with < 3 tokens emit total_g=0 and a NULL dup_3gram_frac on both "
    "engines (guarded against the descending-sequence crash / 0-division).",
)
def ta_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.session import default_parallelism

    docs = load(spark, sf_dir, "documents").repartition(default_parallelism())
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    toktop = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_tokens"), F.max("c").alias("top_c"))
    )
    # Guarded for < 3-token docs: sequence(1, size-2) descends through 0
    # there (element_at(ws, 0) raises) and total_g=0 would divide by zero.
    #
    # PERF CONTRACT (r19, the r18 18x class): tokens bound in their own
    # projection before the 3-gram lambda — an inlined split Column would
    # re-split the document 3x per gram index, interpreted (no codegen/CSE
    # inside HOF lambdas). See dedup.word_shingles' contract note.
    bound = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    )
    ws = F.col("ws")
    idx = F.sequence(F.lit(1), F.size(ws) - 2)
    gram = F.when(
        F.size(ws) >= 3,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", F.element_at(ws, i), F.element_at(ws, i + 1), F.element_at(ws, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = bound.select(
        "doc_id",
        F.greatest(F.size(ws) - 2, F.lit(0)).alias("total_g"),
        F.size(F.array_distinct(gram)).alias("dist_g"),
    )
    return toktop.join(grams, "doc_id").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        pround(F.col("top_c") * 1.0 / F.col("n_tokens"), 6).alias("top_tok_frac"),
        F.when(
            F.col("total_g") > 0,
            pround((F.col("total_g") - F.col("dist_g")) * 1.0 / F.col("total_g"), 6),
        ).alias("dup_3gram_frac"),
    )


# PII scrubbing: the C4-style redaction pass. Patterns stay in RE2-
# compatible syntax so the same strings work in any engine.

PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+?\d[\d\-\s()]{7,}\d",
}


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails/IPs/phone-shaped spans in ``text_col`` and count each
    kind per row. Pure regexp_replace/regexp_extract_all column expressions:
    map-only, whole-stage-codegen, no UDF."""
    out = df
    scrubbed = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{kind}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)),
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{kind.upper()}>")
    return out.withColumn("scrubbed", scrubbed)


# The driver corpus contains no PII (an oracle row over raw documents would
# be all-zero signal), so the registered query PLANTS deterministic
# emails/IPs/phone spans into a subset of docs — arithmetic string concats
# both engines replay exactly — and redacts them (VERDICT r02 #6).
_PII_PLANT_SQL = """
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@corp.example.com today'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.3.' || CAST(doc_id % 250 AS VARCHAR) || ' zone'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' call +1415555' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' now'
                 ELSE '' END AS text
  FROM documents
"""


def _pii_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    planted = F.concat(
        F.col("text"),
        F.when(d % 7 == 0, F.concat(F.lit(" contact user"), s(d), F.lit("@corp.example.com today"))).otherwise(F.lit("")),
        F.when(d % 11 == 0, F.concat(F.lit(" from 10."), s(d % 200), F.lit(".3."), s(d % 250), F.lit(" zone"))).otherwise(F.lit("")),
        F.when(d % 13 == 0, F.concat(F.lit(" call +1415555"), s(1000 + d % 9000), F.lit(" now"))).otherwise(F.lit("")),
    )
    return load(spark, sf_dir, "documents").select("doc_id", planted.alias("text"))


@_register(
    "ta_scrub_pii",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{PII_PATTERNS["email"]}')) AS n_email,
           len(regexp_extract_all(text, '{PII_PATTERNS["ipv4"]}')) AS n_ipv4,
           len(regexp_extract_all(text, '{PII_PATTERNS["phone"]}')) AS n_phone,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{PII_PATTERNS["email"]}', '<EMAIL>', 'g'),
               '{PII_PATTERNS["ipv4"]}', '<IPV4>', 'g'),
             '{PII_PATTERNS["phone"]}', '<PHONE>', 'g') AS scrubbed
    FROM ({_PII_PLANT_SQL})
    """,
    "C4-style PII redaction over planted emails/IPv4s/phone spans: per-kind "
    "match counts + chained global regexp_replace. Map-only whole-stage-"
    "codegen column expressions (no UDF); the oracle replays the identical "
    "RE2-compatible patterns and planting arithmetic.",
)
def ta_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scrub_pii(_pii_planted(spark, sf_dir)).select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "scrubbed"
    )
