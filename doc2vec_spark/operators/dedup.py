"""Deduplication operators for LLM training-data pipelines (BASELINE.json
north star: first-class components beyond the reference's own surface).

All variants are declarative DataFrame plans over the `documents` table:

- exact:        hash-groupBy on sha256(text)
- ngram-jaccard: word-3-gram shingles -> shingle equi-join (blocked by lang)
                 -> pairwise Jaccard
- minhash-LSH:  k=12 minhash signature (lexicographic min of md5(seed:shingle),
                engine-portable) -> 4 bands of 3 -> band-bucket join ->
                signature-estimated Jaccard
- simhash:      32-bit simhash from md5 nibbles of tokens + hamming pairs
- embedding:    cosine near-dup pairs blocked by label (see similarity.py for
                the ANN path)

Scale notes (100 TB): every variant is a shuffle on a *blocking* key
(lang, shingle, band-bucket, label) — no cross join anywhere. The shingle
join's worst case is a hot shingle; the LSH banding path bounds that by
joining on 3-minhash band keys whose collision probability decays with
dissimilarity (the standard s-curve). Thresholds are calibrated on the
driver testdata (planted near-dup pairs sit at J >= 0.96, background < 0.06).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.functions import sha256_hex
from doc2vec_spark.caching import scoped_cache
from doc2vec_spark.functions.rounding import pround
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()

NUM_MINHASH = 12
BAND_SIZE = 3  # -> 4 bands
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 32  # 8 md5 nibbles x 4 bits
HAMMING_THRESHOLD = 3
SIMHASH_BANDS = HAMMING_THRESHOLD + 1  # pigeonhole: <=3 diff bits -> a shared band
COSINE_DUP_THRESHOLD = 0.4
# Pair-grid sharding bounds for the exact cosine pair join: the grid dim
# scales UP with input (~1 salt per 1000 vectors) so large inputs shard the
# O(n^2) work into (n/salts)^2-cell tasks, but never below 8 — join
# parallelism is bounded by distinct key combos (labels x grid^2), and a
# 2x2 grid was measured to halve effective parallelism on a cold JVM.
# Purely physical: the result set is grid-invariant (oracle unchanged).
GRID_SALTS_MIN = 8
GRID_SALTS_MAX = 64
GRID_TARGET_PER_SALT = 1000
# Hot-shingle document-frequency cap: a shingle present in d docs fans out
# into d^2 candidate rows in the inverted-index join; one stopword-gram
# ("the quick brown") in 10^6 docs would dominate the whole shuffle. Shingles
# above the cap carry no dedup signal (they're corpus-common boilerplate) and
# are dropped from BOTH the sizes and the pair join — the oracle applies the
# identical cap, so semantics stay hash-checkable. Testdata max DF is 7
# (sf0.01) / 25 (sf0.1), so results there are unchanged; at 100 TB the cap
# bounds any shingle's join fanout at 100^2 rows.
MAX_SHINGLE_DF = 100


# ---------------------------------------------------------------------------
# shared shingle builders
# ---------------------------------------------------------------------------


def _tokens() -> Column:
    return F.split(F.trim(F.col("text")), r"\s+")


def word_shingles_from(ws: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a (bound) token-array column.

    Guarded for docs with < n tokens: F.sequence(1, size-n+1) would generate
    a DESCENDING range there (e.g. [1, 0, -1]) and element_at(ws, 0) raises
    at runtime — short docs emit an empty shingle array instead (matching the
    oracle's generate_series, which is empty when start > stop)."""
    idx = F.sequence(F.lit(1), F.size(ws) - (n - 1))
    gram = F.when(
        F.size(ws) >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.element_at(ws, i + k) for k in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(gram)


def word_shingles(n: int = 3) -> Column:
    """Distinct word n-gram shingles of the `text` column.

    PERF CONTRACT (r18): tests/one-shots only — never on a hot path.
    Because `_tokens()` is inlined at Column-build time, every
    element_at(ws, i+k) inside the n-gram lambda carries its OWN copy of
    the regexp split: n re-splits of the whole document per shingle index,
    all interpreted (HOF lambdas are outside whole-stage codegen, so no
    runtime subexpression elimination saves you). Measured 18x slower than
    the bound form on the sf0.1 corpus (10.3 s vs 0.58 s single-threaded).
    Hot paths must bind tokens first and use `word_shingles_from`:

        docs.select("doc_id", _tokens().alias("ws"))
            .select(..., word_shingles_from(F.col("ws"), n), ...)
    """
    return word_shingles_from(_tokens(), n)


# Size measurement + posting partition calibration moved to the leaf
# module doc2vec_spark.measurement in r21 (VERDICT r20 #6 — extracted in
# the round dedup.py legitimately reopened, so future calibration tweaks
# no longer reopen the whole dedup plane). Re-exported here for the
# historical call sites; logic unchanged.
from doc2vec_spark.measurement import (  # noqa: F401  (re-exports)
    POSTING_BYTES_PER_PARTITION,
    corpus_agg_partitions,
    corpus_parquet_bytes,
)


_SHINGLES_SQL = """
  SELECT DISTINCT doc_id, lang, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
  FROM (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
       unnest(generate_series(1, len(ws)-2)) t(i)
"""


def pairs_in_posting(ids: Column) -> Column:
    """All (u, v) u < v pairs from a doc-id array — the map-side pair
    expansion of an inverted-index posting list. Emitting pairs from a
    grouped posting costs ONE shuffle of the shingle table (the groupBy);
    the equivalent self-join on the shingle shuffles it twice (once per join
    side). Posting lists are df-capped, so the expansion is bounded."""
    sorted_ids = F.array_sort(ids)
    n = F.size(sorted_ids)
    return F.flatten(
        F.transform(
            sorted_ids,
            lambda u, i: F.transform(
                F.slice(sorted_ids, i + 2, n),
                lambda v: F.struct(u.alias("u"), v.alias("v")),
            ),
        )
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


@_register(
    "dedup_exact",
    """
    SELECT content_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS group_size
    FROM (SELECT doc_id, sha256(text) AS content_hash FROM documents)
    GROUP BY content_hash
    """,
    "Exact dedup: hash-groupBy, deterministic representative (min doc_id). "
    "At scale this is one shuffle on a uniformly distributed 256-bit key — no skew.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", sha256_hex(F.col("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("group_size"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


_HASHED_SHINGLES3_SQL = (
    "SELECT doc_id, lang, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h "
    f"FROM ({_SHINGLES_SQL})"
)


@_register(
    "dedup_ngram_jaccard",
    f"""
    WITH sh0 AS ({_HASHED_SHINGLES3_SQL}),
    keep AS (SELECT lang, h FROM sh0 GROUP BY lang, h HAVING COUNT(*) <= {MAX_SHINGLE_DF}),
    sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (lang, h)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, floor((inter * 1.0 / (sa.n + sb.n - inter)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM pairs JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter * 1.0 / (sa.n + sb.n - inter) >= {JACCARD_THRESHOLD}
    """,
    "Near-dup pairs by word-3-gram Jaccard over an inverted index: shingles "
    "hashed map-side to 60-bit md5-prefix longs (8-byte shuffle keys instead "
    "of ~20-char strings), grouped into per-(lang, shingle) posting lists "
    "(the DF<={} hot-shingle cap IS the posting-size filter), pairs expanded "
    "map-side from each posting — ONE shuffle of the shingle table instead "
    "of a two-sided self-join, never a cross join.".format(MAX_SHINGLE_DF),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.session import default_parallelism

    docs = load(spark, sf_dir, "documents").repartition(default_parallelism())
    # tokens BOUND to a column before the shingle lambdas touch them
    # (r18): word_shingles(3) inlines the regexp split into every
    # element_at inside the n-gram lambda — 3 re-splits of the full
    # document PER SHINGLE INDEX, all interpreted (HOF lambdas never enter
    # whole-stage codegen). Binding makes each element_at an attribute
    # lookup; measured 18x on the sf0.1 map stage (10.3 s -> 0.58 s
    # single-threaded), values bit-identical.
    hashed = (
        docs.select("doc_id", "lang", _tokens().alias("ws"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    word_shingles_from(F.col("ws"), 3),
                    lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
                )
            ).alias("h"),
        )
    )
    # one shuffle: posting list per (lang, shingle-hash); the df cap is a
    # size filter on the posting, and both the pair expansion and the
    # per-doc size count are derived from the SAME cached postings.
    # Above the session default the shingle table is pre-partitioned by the
    # group key at a size-scaled count (corpus_agg_partitions, r18): a
    # grown corpus otherwise packs millions of posting buffers per reduce
    # task at the fixed default — the 32x rehearsal's super-linearity.
    nparts = corpus_agg_partitions(sf_dir)
    if nparts > default_parallelism():
        hashed = hashed.repartition(nparts, "lang", "h")
    postings = (
        hashed.groupBy("lang", "h")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") <= MAX_SHINGLE_DF)
    )
    postings = scoped_cache(postings)
    sizes = (
        postings.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        postings.filter(F.size("ids") >= 2)
        .select(F.explode(pairs_in_posting(F.col("ids"))).alias("p"))
        .groupBy(F.col("p.u").alias("doc_a"), F.col("p.v").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") * 1.0 / (F.col("sa.n") + F.col("sb.n") - F.col("inter"))
    return (
        pairs.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", pround(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# shingle-set containment (sub-document detection)
# ---------------------------------------------------------------------------
# Jaccard misses the asymmetric near-dup class every large crawl carries: a
# page EMBEDDED in a bigger page (article + boilerplate shell, quoted post,
# concatenated digest). |A ∩ B| / |A ∪ B| stays low when |B| >> |A|, but
# containment |A ∩ B| / |A| is ~1 for the embedded copy. Same inverted-index
# plan as dedup_ngram_jaccard — posting lists over df-capped hashed
# 3-shingles, map-side pair expansion, ONE shuffle — with SET semantics
# (distinct (doc, shingle): containment is defined on shingle sets) and the
# asymmetric score; the emitted pair is oriented (contained_doc = the
# smaller shingle set, its doc_id the tiebreak).

CONTAINMENT_THRESHOLD = 0.8


@_register(
    "dedup_containment",
    f"""
    WITH sh0 AS (SELECT DISTINCT doc_id, lang, h FROM ({_HASHED_SHINGLES3_SQL})),
    keep AS (SELECT lang, h FROM sh0 GROUP BY lang, h HAVING COUNT(*) <= {MAX_SHINGLE_DF}),
    sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (lang, h)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT CASE WHEN sa.n <= sb.n THEN doc_a ELSE doc_b END AS contained_doc,
           CASE WHEN sa.n <= sb.n THEN doc_b ELSE doc_a END AS container_doc,
           floor((inter * 1.0 / LEAST(sa.n, sb.n)) * 1000000.0 + 0.5) / 1000000.0
             AS containment
    FROM pairs JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter * 1.0 / LEAST(sa.n, sb.n) >= {CONTAINMENT_THRESHOLD}
    """,
    "Asymmetric near-dup pairs by word-3-shingle SET containment "
    "|A∩B|/|A| >= {thr} — catches sub-document copies (article inside a "
    "boilerplate shell) that Jaccard's symmetric denominator dilutes. Same "
    "df-capped posting-list inverted index as dedup_ngram_jaccard: one "
    "shuffle of the distinct shingle table, pairs expanded map-side, never "
    "a cross join.".format(thr=CONTAINMENT_THRESHOLD),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.session import default_parallelism

    docs = load(spark, sf_dir, "documents").repartition(default_parallelism())
    # tokens bound before the shingle lambdas (r18, same as
    # dedup_ngram_jaccard): unbound word_shingles re-splits the document
    # per shingle index inside the interpreted HOF lambda.
    hashed = (
        docs.select("doc_id", "lang", _tokens().alias("ws"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    word_shingles_from(F.col("ws"), 3),
                    lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
                )
            ).alias("h"),
        )
    )
    # containment is a SET measure: one row per (doc, shingle). collect_set
    # dedups INSIDE the posting aggregate (r18) — the r17 shape paid a
    # separate corpus-wide .distinct() shuffle of the full shingle table
    # before a collect_list; fusing the set semantics into the groupBy makes
    # the whole index build ONE shuffle of the widest table again (the
    # jaccard/containment parity the docstring claims). word_shingles_from
    # is already per-doc distinct, so the set only collapses the same doc
    # re-emitting a shingle across rows — cardinality per posting unchanged.
    # Above the session default the shingle table is pre-partitioned by the
    # group key at a size-scaled count (corpus_agg_partitions: the 32x
    # rehearsal's super-linearity fix); small corpora skip it and keep AQE
    # coalescing.
    nparts = corpus_agg_partitions(sf_dir)
    if nparts > default_parallelism():
        hashed = hashed.repartition(nparts, "lang", "h")
    postings = (
        hashed.groupBy("lang", "h")
        .agg(F.collect_set("doc_id").alias("ids"))
        .filter(F.size("ids") <= MAX_SHINGLE_DF)
    )
    postings = scoped_cache(postings)
    sizes = (
        postings.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        postings.filter(F.size("ids") >= 2)
        .select(F.explode(pairs_in_posting(F.col("ids"))).alias("p"))
        .groupBy(F.col("p.u").alias("doc_a"), F.col("p.v").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    cont = F.col("inter") * 1.0 / F.least(F.col("sa.n"), F.col("sb.n"))
    a_contained = F.col("sa.n") <= F.col("sb.n")
    return (
        pairs.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(cont >= CONTAINMENT_THRESHOLD)
        .select(
            F.when(a_contained, F.col("doc_a")).otherwise(F.col("doc_b")).alias("contained_doc"),
            F.when(a_contained, F.col("doc_b")).otherwise(F.col("doc_a")).alias("container_doc"),
            pround(cont, 6).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------
# Portable minhash via one strong hash + k universal hashes: each shingle is
# hashed ONCE (first 7 hex digits of md5 -> 28-bit int), then the i-th
# minhash is MIN over shingles of (a_i*h + b_i) mod p — the classic
# Carter-Wegman family. One md5 pass instead of k, and the arithmetic
# (products < 2^58) is exact in any engine's 64-bit integers, so the DuckDB
# oracle computes bit-identical signatures.

_SIG_COLS = [f"m{i}" for i in range(NUM_MINHASH)]
_BANDS = [
    _SIG_COLS[i : i + BAND_SIZE] for i in range(0, NUM_MINHASH, BAND_SIZE)
]

_MERSENNE_P = (1 << 31) - 1
# fixed Carter-Wegman coefficients (seeded, a odd and nonzero, < 2^30)
import numpy as _np

_cw_rng = _np.random.RandomState(7)
_CW_A = [int(x) * 2 + 1 for x in _cw_rng.randint(1, 1 << 29, NUM_MINHASH)]
_CW_B = [int(x) for x in _cw_rng.randint(0, 1 << 30, NUM_MINHASH)]

# all 12 Carter-Wegman min-folds as one parse (see _minhash_sig): every
# literal fits int32, so the parsed types match the F.lit forms exactly
_MINS_STRUCT_SQL = (
    "struct("
    + ", ".join(
        f"array_min(transform(hs, h -> ({_CW_A[i]} * h + {_CW_B[i]})"
        f" % {_MERSENNE_P})) AS m{i}"
        for i in range(NUM_MINHASH)
    )
    + ")"
)


def _minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Map-only signature: the shingle->28-bit-hash array is materialized once
    # behind a repartition barrier — (a) ProjectCollapse would otherwise
    # inline the split()/md5 work into all 12 min lambdas, (b) the
    # single-file parquet scan is one partition and the barrier spreads the
    # hashing across all cores (on a cluster, all executors).
    from doc2vec_spark.session import default_parallelism

    n = default_parallelism()
    # stage 1: tokenize (split once per row), spread across cores
    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", _tokens().alias("ws"))
        .repartition(n)
    )
    # stage 2: shingle + one md5 per shingle; the barrier below keeps this
    # out of the 12 min-lambdas
    hashed = toks.select(
        "doc_id",
        "lang",
        F.transform(
            word_shingles_from(F.col("ws"), 3),
            lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long"),
        ).alias("hs"),
    ).repartition(n)

    # r22 (VERDICT r21 #8, the ann_sq8_search single-parse precedent): the
    # 12 min-folds arrive as ONE parsed struct expression instead of 12
    # Python-lambda HOF trees — each F.transform lambda costs dozens of py4j
    # round trips plus unresolved-lambda analysis, and this subtree is built
    # once per consumer (3 registry queries). Interleaved A/B at sf0.1:
    # plan-construction 0.37 s -> 0.20 s per consumer, values bit-identical
    # (integer literals parse to the same int32 types F.lit produced; the
    # optimizer collapses struct(...).* back to the identical 12 columns,
    # so the physical plan is unchanged). No cross-run caching machinery —
    # the string is a module-level constant.
    return hashed.select(
        "doc_id", "lang", F.expr(_MINS_STRUCT_SQL).alias("s")
    ).select("doc_id", "lang", "s.*")


_HASHED_SHINGLES_SQL = (
    "SELECT doc_id, lang, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h "
    f"FROM ({_SHINGLES_SQL})"
)

_MINHASH_SIG_SQL = (
    "SELECT doc_id, lang, "
    + ", ".join(
        f"MIN(({_CW_A[i]} * h + {_CW_B[i]}) % {_MERSENNE_P}) AS m{i}"
        for i in range(NUM_MINHASH)
    )
    + f" FROM ({_HASHED_SHINGLES_SQL}) GROUP BY doc_id, lang"
)

_EST_SQL = (
    "("
    + " + ".join(f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(NUM_MINHASH))
    + f") * 1.0 / {NUM_MINHASH}"
)

_BAND_JOIN_SQL = " UNION ".join(
    "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " + _EST_SQL + " AS est_jaccard "
    "FROM sig a JOIN sig b ON a.lang = b.lang AND a.doc_id < b.doc_id AND "
    + " AND ".join(f"a.{c} = b.{c}" for c in band)
    for band in _BANDS
)


@_register(
    "dedup_minhash_lsh",
    f"""
    WITH sig AS ({_MINHASH_SIG_SQL})
    SELECT doc_a, doc_b, floor((est_jaccard) * 1000000.0 + 0.5) / 1000000.0 AS est_jaccard
    FROM ({_BAND_JOIN_SQL})
    WHERE est_jaccard >= {JACCARD_THRESHOLD}
    """,
    "MinHash({k})+LSH({b}x{r}) near-dup: signature agg -> band-bucket joins -> "
    "signature-estimated Jaccard. The band join is the scale path: candidate "
    "generation never compares dissimilar docs.".format(
        k=NUM_MINHASH, b=len(_BANDS), r=BAND_SIZE
    ),
)
def dedup_minhash_lsh(
    spark: SparkSession,
    sf_dir: str,
    sig: DataFrame | None = None,
    with_matches: bool = False,
) -> DataFrame:
    # bands via explode -> ONE equi-join on (lang, band_id, band_key) instead
    # of one join per band: a single shuffle whose key includes band_id, which
    # is exactly how LSH candidate generation shards at 100 TB (band_key is a
    # uniform hash -> no skew).
    # ``sig`` (r21): callers that ALSO consume the signature table pass their
    # cached copy so the whole tokenize->shingle->minhash pipeline runs once
    # per invocation instead of twice.
    # ``with_matches`` (r22): the band join computes the signature match
    # count anyway (est_jaccard IS matches/k); exposing it as a column lets
    # dedup_minhash_quality drop its two sig re-joins outright. The
    # registered query's own output (flag off) is unchanged.
    if sig is None:
        sig = _minhash_sig(spark, sf_dir)
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_id"),
                F.concat_ws("|", *[F.col(c) for c in band]).alias("band_key"),
            )
            for bi, band in enumerate(_BANDS)
        ]
    )
    banded = (
        sig.select(
            "doc_id",
            "lang",
            F.array(*[F.col(c) for c in _SIG_COLS]).alias("ms"),
            F.explode(bands).alias("band"),
        )
        .select("doc_id", "lang", "ms", "band.band_id", "band.band_key")
    )
    banded = scoped_cache(banded)  # both join sides read the signatures once

    a, b = banded.alias("a"), banded.alias("b")
    mcount = F.aggregate(
        F.zip_with(
            F.col("a.ms"), F.col("b.ms"), lambda x, y: (x == y).cast("int")
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = mcount * 1.0 / NUM_MINHASH
    cols = [
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        est.alias("est_jaccard"),
    ]
    if with_matches:
        # same pair via multiple bands carries the same ms arrays, hence the
        # same matches value — the pair-collapsing distinct is unaffected
        cols.append(mcount.cast("long").alias("matches"))
    pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(*cols)
        .distinct()  # docs sharing multiple bands collapse to one pair
    )
    keep = ["doc_a", "doc_b", pround("est_jaccard", 6).alias("est_jaccard")] + (
        ["matches"] if with_matches else []
    )
    return pairs.filter(F.col("est_jaccard") >= JACCARD_THRESHOLD).select(*keep)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
# 32-bit simhash over (non-distinct) whitespace tokens: bit (4p+q) is the sign
# of the sum over tokens of +-1 from bit q of md5-nibble p. md5 keeps it
# engine-portable; nibble parse differs per engine but yields the same value.
#
# Band-width scaling (BENCH_SCALING.md finding 1): with b-bit bands, CHANCE
# band collisions grow ~n^2 / 2^b and overtake true near-dups around
# n ~ sqrt(2^b) per language partition — the 10x rehearsal measured 58x
# candidate growth for 10x docs at 8-bit bands. At real scale, size bands so
# 2^bits ≈ n (e.g. 4 x 24-bit slices of a 96-bit simhash), or band on a
# (coarse-content-prefix, slice) composite key; the downstream hamming
# filter is unchanged. Kept at the test-SF configuration here because the
# oracle replays it bit-exactly.

_NIBBLE_BITS = [(p, q) for p in range(8) for q in range(4)]  # (nibble idx, bit idx)


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit simhash per document, computed array-per-doc (no token explode).

    Same shape as `_minhash_sig`: one md5 per token inside an array
    `transform`, materialized behind a repartition barrier (ProjectCollapse
    would otherwise inline the hashing into all 32 bit-sum aggregates), then
    each simhash bit is an `F.aggregate` bit-count over the hash array. Zero
    shuffles beyond the tiny doc-level repartition — no 54x row explosion,
    no groupBy of the token multiset. Per-doc arrays are bounded by document
    length, so at 100 TB this stays a map-only stage after the scan.

    Bit layout matches the oracle SQL exactly: simhash bit 4p+q is sign(sum
    over tokens of ±1 on bit q of md5 hex-nibble p); hex digit p+1 of the
    md5 sits at bits [4*(7-p), 4*(7-p)+3] of hv = int(md5[:8], 16), and
    sign-sum > 0  <=>  2 * popcount > n_tokens (integer-exact both engines).
    """
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from doc2vec_spark.session import default_parallelism

    n = default_parallelism()
    docs = load(spark, sf_dir, "documents").repartition(n)
    hashed = docs.select(
        "doc_id",
        "lang",
        F.transform(
            _tokens(),
            lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
        ).alias("hs"),
    )
    # sign sums as ONE Arrow-batched numpy popcount per document instead of
    # 32 interpreted F.aggregate folds (same r7 rewrite as _simhash64_df —
    # pure int64 arithmetic, bit-for-bit the oracle's integer sign sums)
    shifts = _np.array([4 * (7 - p) + q for p, q in _NIBBLE_BITS])
    pos = _np.array([4 * p + q for p, q in _NIBBLE_BITS])

    @pandas_udf("long")
    def sim32(hs):
        out = []
        for h_list in hs:
            h = _np.asarray(h_list, dtype=_np.int64)
            ones = ((h[:, None] >> shifts[None, :]) & 1).sum(axis=0)
            out.append(int(((ones * 2 > len(h)).astype(_np.int64) << pos).sum()))
        return pd.Series(out)

    return hashed.select("doc_id", "lang", sim32(F.col("hs")).alias("simhash"))


_SIMHASH_SQL = (
    "SELECT doc_id, lang, ("
    + " + ".join(
        f"((CASE WHEN s_{p}_{q} > 0 THEN 1 ELSE 0 END)::BIGINT << {4 * p + q})"
        for p, q in _NIBBLE_BITS
    )
    + ") AS simhash FROM (SELECT doc_id, lang, "
    + ", ".join(
        f"SUM(((('0x' || substr(md5(tok), {p + 1}, 1))::INT >> {q}) & 1) * 2 - 1) AS s_{p}_{q}"
        for p, q in _NIBBLE_BITS
    )
    + " FROM (SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok"
    " FROM documents) GROUP BY doc_id, lang)"
)


@_register(
    "dedup_simhash",
    _SIMHASH_SQL + " ORDER BY doc_id",
    "32-bit SimHash per document (md5-nibble hyperplanes over tokens)",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_df(spark, sf_dir).select("doc_id", "lang", "simhash")


_NIBBLE_BITS_64 = [(p, q) for p in range(16) for q in range(4)]


def _simhash64_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sim_hi, sim_lo) 32-bit halves of the 64-bit simhash per document.

    Hashing stays JVM-side (one md5 per token inside an array transform,
    parsed into two 32-bit longs behind repartition barriers so
    ProjectCollapse can't inline the md5 into both parses); the 64
    bit-count sign sums run as ONE Arrow-batched numpy popcount per
    document instead of 64 interpreted F.aggregate folds (measured: the
    fold version alone cost 2.6 s of the 2.6 s dedup_simhash_wide query at
    sf0.1; the batched version ~0.1 s). The UDF is pure int64 arithmetic —
    bit-for-bit the oracle's integer sign sums, no float-parity surface."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from doc2vec_spark.session import default_parallelism

    n = default_parallelism()
    docs = load(spark, sf_dir, "documents").repartition(n)
    md5s = docs.select(
        "doc_id", "lang", F.transform(_tokens(), lambda t: F.md5(t)).alias("md5s")
    ).repartition(n)  # barrier: one md5 per token, read by both parses
    parsed = md5s.select(
        "doc_id",
        "lang",
        F.transform(
            "md5s", lambda h: F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
        ).alias("ha"),
        F.transform(
            "md5s", lambda h: F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
        ).alias("hb"),
    )

    # bit 4p+q of a half is sign(sum over tokens of ±1 on bit 4*(7-p)+q of
    # that half's 32-bit value) — identical layout to the fold version
    shifts = _np.array([4 * (7 - p) + q for p in range(8) for q in range(4)])
    pos = _np.array([4 * p + q for p in range(8) for q in range(4)])

    @pandas_udf("sim_hi long, sim_lo long")
    def sim64(ha, hb):
        his, los = [], []
        for a_list, b_list in zip(ha, hb):
            a = _np.asarray(a_list, dtype=_np.int64)
            b = _np.asarray(b_list, dtype=_np.int64)
            nt = len(a)
            ones_a = ((a[:, None] >> shifts[None, :]) & 1).sum(axis=0)
            ones_b = ((b[:, None] >> shifts[None, :]) & 1).sum(axis=0)
            his.append(int(((ones_a * 2 > nt).astype(_np.int64) << pos).sum()))
            los.append(int(((ones_b * 2 > nt).astype(_np.int64) << pos).sum()))
        return pd.DataFrame({"sim_hi": his, "sim_lo": los})

    return parsed.select(
        "doc_id", "lang", sim64(F.col("ha"), F.col("hb")).alias("s")
    ).select("doc_id", "lang", F.col("s.sim_hi").alias("sim_hi"), F.col("s.sim_lo").alias("sim_lo"))


def _simhash64_sql() -> str:
    hi = " + ".join(
        f"((CASE WHEN s_{p}_{q} > 0 THEN 1 ELSE 0 END)::BIGINT << {4 * p + q})"
        for p, q in _NIBBLE_BITS_64
        if p < 8
    )
    lo = " + ".join(
        f"((CASE WHEN s_{p}_{q} > 0 THEN 1 ELSE 0 END)::BIGINT << {4 * (p - 8) + q})"
        for p, q in _NIBBLE_BITS_64
        if p >= 8
    )
    sums = ", ".join(
        f"SUM(((('0x' || substr(md5(tok), {p + 1}, 1))::INT >> {q}) & 1) * 2 - 1)"
        f" AS s_{p}_{q}"
        for p, q in _NIBBLE_BITS_64
    )
    return (
        f"SELECT doc_id, lang, ({hi}) AS sim_hi, ({lo}) AS sim_lo FROM ("
        f"SELECT doc_id, lang, {sums}"
        " FROM (SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok"
        " FROM documents) GROUP BY doc_id, lang)"
    )


# Corpus-size route for simhash pair generation (VERDICT r5 #4): the 32-bit
# hash offers at most 8-bit bands under the 4-band pigeonhole bound, so
# chance band collisions grow ~n^2/2^8 per lang and drown true near-dups
# around n ~ 10^4-10^5 (measured: 21,352 collision-dominated candidates at
# 5k docs, 1.24M at 50k — BENCH_SCALING finding 1; the full 32-bit hash
# itself starts colliding by birthday at n ~ 2^16). Above the cutoff the
# wide (64-bit, 16-bit-band) configuration is the only meaningful
# semantics, so the routed entry delegates wholesale — same output schema,
# hamming over all 64 hyperplane bits. The oracle routes on the same count.
#
# Binding note (ADVICE r6): the registered oracle SQL bakes this value in
# at IMPORT time (_simhash_pairs_oracle() runs inside the @_register
# decorator — QuerySpec oracles are static strings), while the Spark path
# reads the module global at CALL time. The two sides agree for every real
# invocation because neither is mutated at runtime; a runtime reassignment
# (tests only — test_plans.py's routing test) moves the SPARK route alone
# and must not be paired with the registered oracle.
SIMHASH_ROUTE_MAX_DOCS = 20_000


def _simhash_pairs_oracle(cutoff: int = SIMHASH_ROUTE_MAX_DOCS) -> str:
    h64 = "bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo))"
    return f"""
    WITH nn AS (SELECT COUNT(*) AS c FROM documents),
    s32 AS ({_SIMHASH_SQL}),
    s64 AS ({_simhash64_sql()}),
    narrow AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM s32 a JOIN s32 b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_THRESHOLD}
    ),
    wide AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {h64} AS hamming
      FROM s64 a JOIN s64 b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE {h64} <= {HAMMING_THRESHOLD}
    )
    SELECT * FROM narrow WHERE (SELECT c FROM nn) <= {cutoff}
    UNION ALL
    SELECT * FROM wide WHERE (SELECT c FROM nn) > {cutoff}
    """


@_register(
    "dedup_simhash_pairs",
    _simhash_pairs_oracle(),
    "SimHash near-dup pairs, corpus-size-routed: <= {n} docs uses the "
    "32-bit hash with {b} 8-bit bands (hamming <= {t} within lang blocks; "
    "pigeonhole makes the band join EXACTLY the all-pairs result); above "
    "the cutoff — where 8-bit bands saturate on chance collisions "
    "(~n^2/2^8) — it delegates to the 64-bit/16-bit-band configuration "
    "(dedup_simhash_wide). Candidate generation always shuffles on (lang, "
    "band_id, band_val), never on lang alone.".format(
        t=HAMMING_THRESHOLD, b=SIMHASH_BANDS, n=SIMHASH_ROUTE_MAX_DOCS
    ),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a cheap metadata-optimized count job (parquet row-group counts, no
    # column materialization) — one short job per invocation, accepted
    # (VERDICT r6 #4): caching it per (sf_dir) would save ~10 ms but add
    # cross-invocation state for a count the scan answers from footers
    if load(spark, sf_dir, "documents").count() > SIMHASH_ROUTE_MAX_DOCS:
        return dedup_simhash_wide(spark, sf_dir)
    bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << bits) - 1
    s = _simhash_df(spark, sf_dir)
    banded = (
        s.select(
            "doc_id",
            "lang",
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("band_id"),
                            F.shiftright(F.col("simhash"), bits * bi)
                            .bitwiseAND(F.lit(mask))
                            .alias("band_val"),
                        )
                        for bi in range(SIMHASH_BANDS)
                    ]
                )
            ).alias("band"),
        )
        .select("doc_id", "lang", "simhash", "band.band_id", "band.band_val")
    )
    banded = scoped_cache(banded)  # both join sides read the signatures once
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .distinct()  # docs sharing multiple bands collapse to one pair
    )


# ---------------------------------------------------------------------------
# 64-bit SimHash with 16-bit bands — the corpus-scale band configuration
# ---------------------------------------------------------------------------
# The 10x rehearsal (BENCH_SCALING.md finding 1) measured the 32-bit/8-bit
# configuration saturating: chance band collisions grow ~n^2 / 2^bits and
# overtake true near-dups around n ~ 10^5 docs. This variant is the
# documented remedy shipped as an operator: 64 hyperplane bits (all 16 md5
# nibbles) and 4 x 16-bit bands, so chance collisions shrink 256x per band
# while the pigeonhole guarantee (hamming <= 3 touches at most 3 of 4
# bands) is unchanged. The hash is carried as TWO 32-bit halves — a packed
# 64-bit value would need bit 63, whose signed overflow the two engines
# handle differently. (Builders live above dedup_simhash_pairs, whose
# corpus-size-routed oracle embeds the 64-bit SQL.)




SIMHASH64_BANDS = 4  # 4 x 16-bit: pigeonhole still covers hamming <= 3


@_register(
    "dedup_simhash_wide",
    f"""
    WITH s AS ({{sql}})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo))
             AS hamming
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo))
          <= {HAMMING_THRESHOLD}
    """.format(sql=_simhash64_sql()),
    "64-bit SimHash near-dup pairs with 16-bit bands — the corpus-scale "
    "band width (chance collisions ~n^2/2^16 per band, 256x fewer than the "
    "32-bit/8-bit variant; BENCH_SCALING.md finding 1). Hamming <= {t} "
    "within lang blocks; pigeonhole over {b} bands keeps the band join "
    "EXACTLY equal to the all-pairs oracle.".format(
        t=HAMMING_THRESHOLD, b=SIMHASH64_BANDS
    ),
)
def dedup_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _simhash64_df(spark, sf_dir)
    bands = [
        ("sim_hi", 0),
        ("sim_hi", 16),
        ("sim_lo", 0),
        ("sim_lo", 16),
    ]
    banded = s.select(
        "doc_id",
        "lang",
        "sim_hi",
        "sim_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_id"),
                        F.shiftright(F.col(col), off)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for bi, (col, off) in enumerate(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "lang", "sim_hi", "sim_lo", "band.band_id", "band.band_val")
    banded = scoped_cache(banded)  # both join sides read the signatures once
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(
        F.col("a.sim_hi").bitwiseXOR(F.col("b.sim_hi"))
    ) + F.bit_count(F.col("a.sim_lo").bitwiseXOR(F.col("b.sim_lo")))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .distinct()  # docs sharing multiple bands collapse to one pair
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


@_register(
    "dedup_embedding_cosine",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           floor((list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 1000000.0 + 0.5) / 1000000.0
           AS cosine_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          >= {COSINE_DUP_THRESHOLD}
    """,
    "Embedding near-dup pairs: cosine similarity >= {s}, exact, sharded on "
    "an adaptive gxg salt grid (~1 salt per {t} vectors, {lo}..{hi}). Why "
    "not SRP/LSH blocking: at this threshold "
    "(cos≈0.45 -> ~65° apart) qualifying pairs disagree on ~36% of SRP bits — "
    "measured on the driver testdata, the 5 true pairs differ in 2-5 of 8 "
    "signature bits under every seed tried — so any LSH band join either "
    "misses pairs or probes near-exhaustively. Exact all-pairs IS the "
    "semantics; the grid shards the O(n^2) work evenly: each side is "
    "replicated g x with a (salt, probe) key, every pair meets in exactly "
    "one of g^2 cells, so a hot label melts into g^2 uniform tasks and "
    "the join key is never label alone. At true near-dup thresholds (>=0.9, "
    "<26° -> bits agree p=0.86) the SRP bucket join in similarity.py is the "
    "right plan.".format(
        s=COSINE_DUP_THRESHOLD,
        t=GRID_TARGET_PER_SALT,
        lo=GRID_SALTS_MIN,
        hi=GRID_SALTS_MAX,
    ),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.functions.vectors import as_double_array

    # routed entry point: this threshold (< SRP_ROUTE_THRESHOLD) takes the
    # exact adaptive salt-grid path — sizing the grid counts the raw table
    # scan (a parquet-footer metadata read here; derived inputs would pay a
    # real job), the result set is grid-invariant, and pair (a,b) meets
    # exactly once in grid cell (a.salt, b.salt)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array(F.col("embedding")).alias("v")
    )
    return embedding_near_dup_pairs(spark, e, COSINE_DUP_THRESHOLD)


# ---------------------------------------------------------------------------
# common-span dedup (word-level exact-substring sharing)
# ---------------------------------------------------------------------------
# Jaccard/minhash measure BAG overlap; boilerplate detection needs CONTIGUOUS
# overlap — the word-level analog of suffix-array substring dedup (Lee et
# al., "Deduplicating Training Data Makes Language Models Better", ACL'22),
# re-expressed relationally: positioned 5-gram shingles -> df-capped inverted
# index -> map-side (u, pu, v, pv) match expansion -> matches on one DIAGONAL
# (pu - pv constant) with consecutive pu form a run, found with the classic
# pos - row_number() grouping. A run of R shingles = R + 4 identical
# consecutive words. Shuffles: the index groupBy, the per-(pair, diagonal)
# window, the per-pair max — all keyed, no global order; posting lists are
# double-capped (distinct docs AND total positions) so one boilerplate
# shingle cannot quadratically dominate the expansion.

MIN_RUN_SHINGLES = 8  # run of 8 shingles -> >= 12 identical consecutive words
SPAN_SHINGLE_DF = 50  # max distinct docs per shingle (boilerplate cap)
SPAN_POSTING_CAP = 200  # max total positions per shingle (within-doc repeats)


def _positioned_shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, h): every word-5-gram WITH its 1-based position (not
    distinct — positions are the signal here), hashed to 60-bit md5-prefix
    longs map-side."""
    from doc2vec_spark.session import default_parallelism

    docs = load(spark, sf_dir, "documents").repartition(default_parallelism())
    # tokens bound to a real column first (r18): with ws = _tokens() inline,
    # the five element_at(ws, i+k) inside the lambda each carried their own
    # copy of the regexp split — 5 re-splits of the document per shingle
    # index, interpreted. An attribute reference makes them array lookups.
    ws = F.col("ws")
    idx = F.sequence(F.lit(1), F.size(ws) - 4)
    entries = F.when(
        F.size(ws) >= 5,
        F.transform(
            idx,
            lambda i: F.struct(
                i.alias("pos"),
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(" ", *[F.element_at(ws, i + k) for k in range(5)])),
                        1,
                        15,
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,h:bigint>>"))
    rows = (
        docs.select("doc_id", _tokens().alias("ws"))
        .select("doc_id", F.explode(entries).alias("e"))
        .select("doc_id", F.col("e.pos").alias("pos"), F.col("e.h").alias("h"))
    )
    # the consumer groups this (positioned, NOT distinct — so larger than
    # the set-semantics tables) corpus-wide table by h into posting
    # structs; same size-scaled pre-partition as the other posting builds
    # (corpus_agg_partitions, r18 — the 32x rehearsal's super-linearity
    # fix). Small corpora skip it and keep AQE coalescing.
    nparts = corpus_agg_partitions(sf_dir)
    if nparts > default_parallelism():
        rows = rows.repartition(nparts, "h")
    return rows


@_register(
    "dedup_common_spans",
    rf"""
    WITH sh AS (
      SELECT doc_id, i AS pos,
             ('0x' || substr(md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
           unnest(generate_series(1, greatest(len(ws)-4, 0))) t(i)),
    keep AS (SELECT h FROM sh GROUP BY h
             HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {SPAN_SHINGLE_DF}
                AND COUNT(*) <= {SPAN_POSTING_CAP}),
    m AS (SELECT a.doc_id AS u, b.doc_id AS v, a.pos - b.pos AS diag, a.pos AS pu
          FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
          WHERE a.h IN (SELECT h FROM keep)),
    runs AS (SELECT u, v, diag,
                    pu - ROW_NUMBER() OVER (PARTITION BY u, v, diag ORDER BY pu) AS grp
             FROM m),
    rl AS (SELECT u, v, COUNT(*) AS run FROM runs GROUP BY u, v, diag, grp)
    SELECT u AS doc_a, v AS doc_b,
           CAST(MAX(run) AS BIGINT) AS max_run,
           CAST(MAX(run) + 4 AS BIGINT) AS span_words
    FROM rl GROUP BY u, v HAVING MAX(run) >= {MIN_RUN_SHINGLES}
    """,
    "Common-span dedup: doc pairs sharing >= {r} CONSECUTIVE word-5-grams "
    "(>= {w} identical consecutive words) — contiguous-overlap boilerplate "
    "detection, the relational re-expression of suffix-array substring "
    "dedup. Positioned shingles -> double-capped inverted index -> map-side "
    "match expansion -> diagonal run grouping (pos - row_number).".format(
        r=MIN_RUN_SHINGLES, w=MIN_RUN_SHINGLES + 4
    ),
)
def dedup_common_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    sh = _positioned_shingle_rows(spark, sf_dir)
    inv = sh.groupBy("h").agg(
        F.collect_list(F.struct("doc_id", "pos")).alias("entries")
    )
    ndocs = F.size(F.array_distinct(F.transform(F.col("entries"), lambda e: e.doc_id)))
    inv = inv.filter(
        (ndocs >= 2) & (ndocs <= SPAN_SHINGLE_DF) & (F.size("entries") <= SPAN_POSTING_CAP)
    )
    cross = F.flatten(
        F.transform(
            F.col("entries"),
            lambda a: F.transform(
                F.filter(F.col("entries"), lambda b: a.doc_id < b.doc_id),
                lambda b: F.struct(
                    a.doc_id.alias("u"),
                    b.doc_id.alias("v"),
                    (a.pos - b.pos).alias("diag"),
                    a.pos.alias("pu"),
                ),
            ),
        )
    )
    m = inv.select(F.explode(cross).alias("p")).select("p.u", "p.v", "p.diag", "p.pu")
    w = Window.partitionBy("u", "v", "diag").orderBy("pu")
    runs = (
        m.withColumn("grp", F.col("pu") - F.row_number().over(w))
        .groupBy("u", "v", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
    )
    return (
        runs.groupBy("u", "v")
        .agg(F.max("run").alias("max_run"))
        .filter(F.col("max_run") >= MIN_RUN_SHINGLES)
        .select(
            F.col("u").alias("doc_a"),
            F.col("v").alias("doc_b"),
            F.col("max_run").cast("long").alias("max_run"),
            (F.col("max_run") + 4).cast("long").alias("span_words"),
        )
    )


# ---------------------------------------------------------------------------
# threshold-routed embedding near-dup (VERDICT r02 #3)
# ---------------------------------------------------------------------------
# The scale boundary of the exact salt-grid pair join is now OPERATIONAL, not
# docstring advice: one entry point dispatches on the threshold. At >= 0.9
# (true near-dup: < 26 degrees, SRP bit-agreement p ~ 0.86) an SRP band join
# prunes candidates to colliding (label, band_id, band_val) buckets — cost
# scales with collisions, not n^2 — at ~98% recall per planted pair (4 bands
# x 4 bits, miss = (1 - p^4)^4). Below 0.9 qualifying pairs disagree on too
# many SRP bits for any banding to retain them (measured in the
# dedup_embedding_cosine docstring), so exact sharding IS the plan.
#
# Cross-engine exactness caveat: the embedding COMPONENTS are bitwise
# reproducible, but dot products are multi-term float sums whose
# accumulation order differs between Spark's sequential fold and DuckDB's
# pairwise list_sum (measured ~1e-15 relative). A hyperplane dot within
# ~1e-15 of zero could therefore band differently per engine; with O(1)-
# scale dots that is a ~1e-15-per-test event, deterministic per dataset, and
# the parity suite + driver gate would surface it as a plain mismatch.

SRP_ROUTE_THRESHOLD = 0.9
PAIR_PLANES_N = 16  # 4 bands x 4 bits
PAIR_BANDS = 4
_pp_rng = _np.random.RandomState(1337)
PAIR_PLANES: list[list[float]] = [
    [float(x) for x in _pp_rng.randn(64)] for _ in range(PAIR_PLANES_N)
]


def _pair_sig_expr(vcol: Column) -> Column:
    """16-bit SRP signature: bit i set iff dot(v, plane_i) > 0.

    One Arrow-batched matmul against the plane matrix (the assign_cell /
    PQ-encode pattern): the zip_with/aggregate form runs 16 interpreted
    HOF dots per row and alone cost 1.2 s of the 2.5 s query at sf0.1 —
    the batched signs compute in ~30 ms. A blas dot can differ from the
    oracle's sequential fold only in final ulps, which flips a sign bit
    only when dot(v, plane) is within ulps of 0.0 (probability ~0 for
    continuous data); the driver hash gate re-checks every banding each
    round, so drift would surface immediately."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    planes = _np.asarray(PAIR_PLANES)  # (16, DIM)
    weights = (1 << _np.arange(PAIR_PLANES_N, dtype=_np.int64))

    @pandas_udf("long")
    def srp_sig(vs):
        vm = _np.vstack(vs.to_numpy())
        bits = (vm @ planes.T) > 0  # n x 16
        return pd.Series((bits * weights[None, :]).sum(axis=1))

    return srp_sig(vcol)


def _sql_dvec(vals: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in vals) + "]::DOUBLE[]"


_PAIR_SIG_SQL = (
    "("
    + " + ".join(
        f"((CASE WHEN list_dot_product(v, {_sql_dvec(p)}) > 0 THEN 1 ELSE 0 END)::BIGINT << {i})"
        for i, p in enumerate(PAIR_PLANES)
    )
    + ")"
)

# Wide-band SRP configuration for large corpora (BENCH_SCALING round-7
# structural note, now shipped): 4-bit bands give only 16 buckets per
# (label, band), so chance collisions grow ~n^2/16 per band and the 10x
# rehearsal measured ~100x candidate noise. Above the cutoff the banded
# join uses 64 planes as 8 bands x 8 bits — 256 buckets per band (16x less
# chance collision) at near-identical recall for >= 0.9 pairs (bit
# agreement p ~ 0.856 at 26 degrees: miss = (1 - p^8)^8 ~ 6.7% vs
# (1 - p^4)^4 ~ 4.6%). Only the plane constants and band split change; the
# plan shape (one (label, band_id, band_val)-keyed shuffle, exact confirm
# on collisions) is identical.
EMB_LSH_ROUTE_MAX_VECS = 5_000
WIDE_PAIR_PLANES_N = 64
WIDE_PAIR_BANDS = 8
_wpp_rng = _np.random.RandomState(2025)
WIDE_PAIR_PLANES: list[list[float]] = [
    [float(x) for x in _wpp_rng.randn(64)] for _ in range(WIDE_PAIR_PLANES_N)
]
_WIDE_BITS = WIDE_PAIR_PLANES_N // WIDE_PAIR_BANDS


def _wide_band_vals_expr(vcol: Column) -> Column:
    """array<long> of the 8 wide band values via ONE Arrow-batched matmul
    (same blas-sign caveat as _pair_sig_expr; per-band values avoid packing
    64 bits into a signed long)."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    planes = _np.asarray(WIDE_PAIR_PLANES)  # (64, DIM)
    weights = 1 << _np.arange(_WIDE_BITS, dtype=_np.int64)  # within-band

    @pandas_udf("array<long>")
    def wide_bands(vs):
        vm = _np.vstack(vs.to_numpy())
        bits = (vm @ planes.T) > 0  # n x 64
        vals = (
            bits.reshape(len(vm), WIDE_PAIR_BANDS, _WIDE_BITS)
            * weights[None, None, :]
        ).sum(axis=2)
        return pd.Series(list(vals))

    return wide_bands(vcol)


def _wide_band_val_sql(band_id: int) -> str:
    lo = band_id * _WIDE_BITS
    return (
        "("
        + " + ".join(
            f"((CASE WHEN list_dot_product(v, {_sql_dvec(WIDE_PAIR_PLANES[lo + j])}) > 0"
            f" THEN 1 ELSE 0 END)::BIGINT << {j})"
            for j in range(_WIDE_BITS)
        )
        + ")"
    )


# Third routing tier (round 9: the 30x rehearsal measured the 8x8-bit tier
# saturating — 72.7M band candidates for ~3k true pairs at 63k vectors,
# chance collisions ~ bands * n^2 / 2^bits taking over). Keeping recall
# while cutting chance needs MORE bands of MORE bits: 16 bands x 12 bits
# (192 planes) holds >= 0.9-pair recall at the 8x8 level (per-band hit
# p^12 ~ 0.157, miss (1-p^12)^16 ~ 6.5% vs 6.7%) while chance collisions
# drop 8x (16/2^12 vs 8/2^8). The per-decade rule this encodes: every ~10x
# corpus growth adds ~3-4 band bits and ~2x bands — constants-only growth,
# plan shape identical.
EMB_LSH_WIDE2_MIN_VECS = 30_000
W2_PLANES_N = 192
W2_BANDS = 16
_W2_BITS = W2_PLANES_N // W2_BANDS
_w2_rng = _np.random.RandomState(1729)
W2_PLANES: list[list[float]] = [
    [float(x) for x in _w2_rng.randn(64)] for _ in range(W2_PLANES_N)
]


def _w2_band_vals_expr(vcol: Column) -> Column:
    """array<long> of the 16 wide2 band values via ONE Arrow-batched matmul
    (same blas-sign caveat as _pair_sig_expr)."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    planes = _np.asarray(W2_PLANES)  # (192, DIM)
    weights = 1 << _np.arange(_W2_BITS, dtype=_np.int64)  # within-band

    @pandas_udf("array<long>")
    def w2_bands(vs):
        vm = _np.vstack(vs.to_numpy())
        bits = (vm @ planes.T) > 0  # n x 192
        vals = (
            bits.reshape(len(vm), W2_BANDS, _W2_BITS) * weights[None, None, :]
        ).sum(axis=2)
        return pd.Series(list(vals))

    return w2_bands(vcol)


def _w2_band_val_sql(band_id: int) -> str:
    lo = band_id * _W2_BITS
    return (
        "("
        + " + ".join(
            f"((CASE WHEN list_dot_product(v, {_sql_dvec(W2_PLANES[lo + j])}) > 0"
            f" THEN 1 ELSE 0 END)::BIGINT << {j})"
            for j in range(_W2_BITS)
        )
        + ")"
    )


def _exact_grid_pairs(spark: SparkSession, e: DataFrame, threshold: float) -> DataFrame:
    """Exact all-pairs cosine >= threshold inside each label, sharded on the
    adaptive g x g salt grid (see dedup_embedding_cosine docstring).

    Two-phase since round 5: the all-pairs FLOPs run as ONE numpy matmul
    per grid block (cogroup + applyInPandas, Arrow-batched) with the
    threshold relaxed by 1e-9 — a pure prefilter, ~100x the throughput of
    per-pair JVM fold dots. The surviving candidate set (tiny: true pairs
    plus an epsilon shell) is then re-scored with the exact sequential JVM
    dot, so every EMITTED value is bit-identical to the oracle's; numpy's
    SIMD summation order never crosses the hash gate. The 1e-9 margin
    exceeds the worst-case |simd - sequential| drift (~1e-14 at dim 64) by
    five orders of magnitude, so no true pair can be prefiltered away.

    Sizing the grid costs ``e.count()`` — a parquet-footer metadata read
    when ``e`` is a plain table scan, but a full materialization job for a
    derived input (unions, filters, planted rows): pass raw scans where
    possible."""
    import math

    import numpy as np
    import pandas as pd

    from doc2vec_spark.functions.vectors import dot, l2_norm

    n_vecs = e.count()
    grid = max(GRID_SALTS_MIN, min(GRID_SALTS_MAX, math.ceil(n_vecs / GRID_TARGET_PER_SALT)))
    probes = F.array(*[F.lit(i) for i in range(grid)])
    # cast: salt (bigint from xxhash64) and the exploded probe (int) must
    # carry IDENTICAL types on both cogroup sides — mismatched key schemas
    # group the two sides into disjoint key spaces and every block sees one
    # side empty (observed: all candidate pairs silently lost)
    e = e.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(grid)).cast("int")
    )
    # block (i, j) holds side-a rows with salt i and side-b rows with salt
    # j; every unordered pair lands in exactly one block after the
    # vec_a < vec_b cut (its mirror block produces only the reversed order)
    side_a = e.select(
        "label", "vec_id", "v", F.col("salt").alias("i"), F.explode(probes).alias("j")
    )
    side_b = e.select(
        "label", "vec_id", "v", F.explode(probes).alias("i"), F.col("salt").alias("j")
    )

    def block_pairs(key, a_pdf, b_pdf):
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame({"vec_a": [], "vec_b": []}).astype("int64")
        va = np.vstack(a_pdf["v"].to_numpy())
        vb = np.vstack(b_pdf["v"].to_numpy())
        sims = (va @ vb.T) / (
            np.sqrt((va * va).sum(axis=1))[:, None]
            * np.sqrt((vb * vb).sum(axis=1))[None, :]
        )
        ia, ib = np.nonzero(sims >= threshold - 1e-9)
        pa = a_pdf["vec_id"].to_numpy()[ia]
        pb = b_pdf["vec_id"].to_numpy()[ib]
        keep = pa < pb
        return pd.DataFrame({"vec_a": pa[keep], "vec_b": pb[keep]})

    cand = (
        side_a.groupby("label", "i", "j")
        .cogroup(side_b.groupby("label", "i", "j"))
        .applyInPandas(block_pairs, "vec_a long, vec_b long")
    )
    # exact confirm: re-score the tiny candidate list with the sequential
    # JVM dot (broadcastable join back to the vector table, both sides)
    ea = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        l2_norm(F.col("v")).alias("na"),
    )
    eb = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        l2_norm(F.col("v")).alias("nb"),
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", pround("sim", 6).alias("cosine_sim"))
    )


def _srp_band_pairs(
    spark: SparkSession, e: DataFrame, threshold: float, wide: bool | str = False
) -> DataFrame:
    """SRP-banded candidate join + exact cosine confirm — the >= 0.9 path.
    One shuffle keyed (label, band_id, band_val); candidates are only bucket
    collisions, so cost tracks collision rate, never n^2. ``wide`` selects
    the band configuration: False = 4x4-bit, True/"wide" = 8x8-bit
    (WIDE_PAIR_PLANES), "wide2" = 16x12-bit (W2_PLANES, the 30x tier)."""
    from doc2vec_spark.functions.vectors import dot, l2_norm

    from doc2vec_spark.caching import scoped_cache

    mask = (1 << (PAIR_PLANES_N // PAIR_BANDS)) - 1
    bits = PAIR_PLANES_N // PAIR_BANDS
    # candidate stage ships ONLY (vec_id, label, band): the banded self-join
    # used to carry the 64-dim vectors through the explode and compute the
    # exact cosine per COLLISION (a pair colliding in k bands paid k dots,
    # deduped only afterwards); candidates now dedup to unique id pairs
    # first and the vectors join back for exactly one confirm per pair
    # (r7 — the candidate->confirm structure every other dedup path uses).
    ev = scoped_cache(
        e.withColumn("nrm", l2_norm(F.col("v"))).select("vec_id", "v", "nrm")
    )
    if wide:
        band_expr = (
            _w2_band_vals_expr(F.col("v"))
            if wide == "wide2"
            else _wide_band_vals_expr(F.col("v"))
        )
        banded = (
            e.withColumn("bands", band_expr)
            .select(
                "vec_id",
                "label",
                F.posexplode("bands").alias("band_id", "band_val"),
            )
        )
    else:
        banded = (
            e.withColumn("sig", _pair_sig_expr(F.col("v")))
            .withColumn(
                "band",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(bi).alias("band_id"),
                                F.shiftright(F.col("sig"), bits * bi)
                                .bitwiseAND(F.lit(mask))
                                .alias("band_val"),
                            )
                            for bi in range(PAIR_BANDS)
                        ]
                    )
                ),
            )
            .select("vec_id", "label", "band.band_id", "band.band_val")
        )
    # the self-join below references the banded subtree twice; uncached, the
    # Arrow plane-matmul over the whole corpus (plus any derived-corpus union
    # feeding it) runs once PER SIDE. The banded table is narrow (4 small
    # columns, bands rows per vector — no vectors carried), so cache it and
    # pay the matmul once.
    banded = scoped_cache(banded)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()  # pairs colliding in multiple bands collapse to one row
    )
    ea = ev.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    eb = ev.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", pround("sim", 6).alias("cosine_sim"))
    )


def embedding_near_dup_pairs(
    spark: SparkSession,
    e: DataFrame,
    threshold: float = COSINE_DUP_THRESHOLD,
    wide_bands: bool | str = False,
) -> DataFrame:
    """Routed entry point over (vec_id, label, v double-array) rows:
    threshold >= SRP_ROUTE_THRESHOLD -> SRP band join (collision-bounded;
    ``wide_bands`` selects the large-corpus configuration: True/"wide" =
    8x8-bit, "wide2" = 16x12-bit); below -> exact salt-grid shard (O(n^2)
    FLOPs is the semantics there)."""
    if threshold >= SRP_ROUTE_THRESHOLD:
        return _srp_band_pairs(spark, e, threshold, wide=wide_bands)
    return _exact_grid_pairs(spark, e, threshold)


# Planted near-identical vectors: the driver corpus has no pairs above
# cos 0.52 (checked at sf0.001/sf0.01), so the >= 0.9 route would return an
# empty — hence unfalsifiable — result. Every 20th vector gets a clone with
# +0.25 on its first component: double arithmetic both engines replay
# exactly, cos(v, clone) ~ 0.95-0.99. Clone ids offset by max(vec_id)+1 —
# derived from the data, not a constant, so planted ids can never collide
# with real ids at a larger scale factor (ADVICE r03); exact integer
# arithmetic both engines replay.
_LSH_CORPUS_SQL = """
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings) AS vec_id, label,
         list_transform(range(1, 65), i -> CASE WHEN i = 1 THEN embedding[i]::DOUBLE + 0.25
                                                ELSE embedding[i]::DOUBLE END) AS v
  FROM embeddings WHERE vec_id % 20 = 0
"""


def _lsh_corpus(
    spark: SparkSession, sf_dir: str, max_vec_id: int | None | str = "unknown"
) -> DataFrame:
    """``max_vec_id``: callers that already ran an aggregate over the raw
    table pass the observed max(vec_id) (or None for an empty corpus) so the
    plant offset costs no extra job; the default sentinel runs the 1-row
    aggregate here."""
    from doc2vec_spark.functions.vectors import as_double_array

    base = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array(F.col("embedding")).alias("v")
    )
    mx = (
        base.agg(F.max("vec_id")).first()[0]  # bounded: 1-row job
        if max_vec_id == "unknown"
        else max_vec_id
    )
    if mx is None:  # empty corpus: nothing to plant; band join emits 0 rows
        return base
    offset = mx + 1
    planted = base.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + F.lit(offset)).alias("vec_id"),
        "label",
        F.transform(
            "v", lambda x, i: F.when(i == 0, x + F.lit(0.25)).otherwise(x)
        ).alias("v"),
    )
    return base.unionByName(planted)


def _emb_lsh_oracle(
    cutoff: int = EMB_LSH_ROUTE_MAX_VECS,
    w2_cutoff: int = EMB_LSH_WIDE2_MIN_VECS,
) -> str:
    wide_band_val = (
        "CASE band_id "
        + " ".join(
            f"WHEN {b} THEN {_wide_band_val_sql(b)}"
            for b in range(WIDE_PAIR_BANDS)
        )
        + " END"
    )
    w2_band_val = (
        "CASE band_id "
        + " ".join(
            f"WHEN {b} THEN {_w2_band_val_sql(b)}" for b in range(W2_BANDS)
        )
        + " END"
    )

    def branch(banded_sql: str) -> str:
        return f"""
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
      FROM ({banded_sql}) a JOIN ({banded_sql}) b
        ON a.label = b.label AND a.band_id = b.band_id AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id"""

    narrow_banded = f"""
      SELECT vec_id, label, v, band_id, (sig >> (band_id * 4)) & 15 AS band_val
      FROM (SELECT vec_id, label, v, {_PAIR_SIG_SQL} AS sig FROM corpus),
           unnest([0, 1, 2, 3]) t(band_id)"""
    wide_banded = f"""
      SELECT vec_id, label, v, band_id, {wide_band_val} AS band_val
      FROM corpus, unnest([{", ".join(map(str, range(WIDE_PAIR_BANDS)))}]) t(band_id)"""
    w2_banded = f"""
      SELECT vec_id, label, v, band_id, {w2_band_val} AS band_val
      FROM corpus, unnest([{", ".join(map(str, range(W2_BANDS)))}]) t(band_id)"""
    return f"""
    WITH nn AS (SELECT COUNT(*) AS c FROM embeddings),
    corpus AS ({_LSH_CORPUS_SQL}),
    narrow AS ({branch(narrow_banded)}),
    wide AS ({branch(wide_banded)}),
    wide2 AS ({branch(w2_banded)})
    SELECT vec_a, vec_b, floor(sim * 1000000.0 + 0.5) / 1000000.0 AS cosine_sim
    FROM narrow WHERE sim >= {SRP_ROUTE_THRESHOLD} AND (SELECT c FROM nn) <= {cutoff}
    UNION ALL
    SELECT vec_a, vec_b, floor(sim * 1000000.0 + 0.5) / 1000000.0 AS cosine_sim
    FROM wide WHERE sim >= {SRP_ROUTE_THRESHOLD}
     AND (SELECT c FROM nn) > {cutoff} AND (SELECT c FROM nn) <= {w2_cutoff}
    UNION ALL
    SELECT vec_a, vec_b, floor(sim * 1000000.0 + 0.5) / 1000000.0 AS cosine_sim
    FROM wide2 WHERE sim >= {SRP_ROUTE_THRESHOLD} AND (SELECT c FROM nn) > {w2_cutoff}
    """


@_register(
    "dedup_embedding_lsh",
    _emb_lsh_oracle(),
    "Embedding near-dup at threshold {t} through the ROUTED entry point -> "
    "SRP band join, with corpus-size-routed band WIDTH (the simhash-band "
    "lesson): <= {n} vectors uses 16 planes as 4 bands x 4 bits; above, "
    "64 planes as 8 bands x 8 bits; above {n2} — where the 30x rehearsal "
    "measured the 8-bit tier saturating (72.7M band candidates for ~3k "
    "true pairs at 63k vectors) — 192 planes as 16 bands x 12 bits (same "
    ">= 0.9 recall ~93.5%, 8x fewer chance collisions; the per-decade "
    "widening rule: ~3-4 more band bits and ~2x bands per 10x corpus). "
    "One shuffle keyed (label, band_id, band_val), exact cosine confirm on "
    "collisions only, every tier. Planted clone vectors (cos ~0.95+) make "
    "the result falsifiable; the oracle replays planes, banding, planting "
    "and the COUNT(*) route verbatim.".format(
        t=SRP_ROUTE_THRESHOLD, n=EMB_LSH_ROUTE_MAX_VECS, n2=EMB_LSH_WIDE2_MIN_VECS
    ),
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE aggregate job on the RAW table yields both routing inputs: the
    # COUNT(*) that picks the band tier (the routing idiom of
    # dedup_simhash_pairs; the derived planted-clone corpus is never
    # materialized for the route) and the max(vec_id) plant offset that
    # _lsh_corpus otherwise pays a second job for. Oracle binding: the
    # registered SQL bakes EMB_LSH_ROUTE_MAX_VECS in at import time, like
    # the simhash cutoff.
    n, mx = (
        load(spark, sf_dir, "embeddings")
        .agg(F.count(F.lit(1)), F.max("vec_id"))
        .first()
    )
    wide: bool | str = False
    if n > EMB_LSH_WIDE2_MIN_VECS:
        wide = "wide2"
    elif n > EMB_LSH_ROUTE_MAX_VECS:
        wide = "wide"
    return embedding_near_dup_pairs(
        spark,
        _lsh_corpus(spark, sf_dir, max_vec_id=mx),
        SRP_ROUTE_THRESHOLD,
        wide_bands=wide,
    )


# ---------------------------------------------------------------------------
# incremental near-dup admission check
# ---------------------------------------------------------------------------
# The production shape: a new crawl batch is checked against the EXISTING
# corpus before admission — an asymmetric band join (new x corpus), never
# corpus x corpus. Cost scales with |new| x collision rate, not corpus^2:
# at 100 TB the corpus side is a bucketed signature index and each new doc
# probes only its band buckets. Batch membership is the deterministic md5
# split from operators/pipeline.py (bucket >= _INC_NEW_BUCKET plays "new").

_INC_NEW_BUCKET = 50  # >= -> "new batch"; < -> "existing corpus" (split point
# is arbitrary for the demo; chosen so planted near-dup pairs straddle it at
# every test SF, keeping the check's result set nonempty)
_INC_BUCKET_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"


@_register(
    "dedup_incremental_check",
    f"""
    WITH sig AS (SELECT *, {_INC_BUCKET_SQL} AS bucket FROM ({_MINHASH_SIG_SQL})),
    newb AS (SELECT * FROM sig WHERE bucket >= {_INC_NEW_BUCKET}),
    corpus AS (SELECT * FROM sig WHERE bucket < {_INC_NEW_BUCKET})
    SELECT new_doc_id, corpus_doc_id,
           floor((est_jaccard) * 1000000.0 + 0.5) / 1000000.0 AS est_jaccard
    FROM ({" UNION ".join(
        "SELECT a.doc_id AS new_doc_id, b.doc_id AS corpus_doc_id, "
        + _EST_SQL + " AS est_jaccard "
        "FROM newb a JOIN corpus b ON a.lang = b.lang AND "
        + " AND ".join(f"a.{c} = b.{c}" for c in band)
        for band in _BANDS
    )})
    WHERE est_jaccard >= {JACCARD_THRESHOLD}
    """,
    "Incremental near-dup admission: new-batch docs (md5 bucket >= {b}) "
    "probed against the existing corpus via the MinHash band index — an "
    "asymmetric band join whose cost scales with the new batch, not "
    "corpus^2.".format(b=_INC_NEW_BUCKET),
)
def dedup_incremental_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    sig = _minhash_sig(spark, sf_dir).withColumn("bucket", bucket)
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_id"),
                F.concat_ws("|", *[F.col(c) for c in band]).alias("band_key"),
            )
            for bi, band in enumerate(_BANDS)
        ]
    )
    banded = (
        sig.select(
            "doc_id",
            "lang",
            "bucket",
            F.array(*[F.col(c) for c in _SIG_COLS]).alias("ms"),
            F.explode(bands).alias("band"),
        )
        .select("doc_id", "lang", "bucket", "ms", "band.band_id", "band.band_key")
    )
    banded = scoped_cache(banded)  # one signature pass feeds both sides
    newb = banded.filter(F.col("bucket") >= _INC_NEW_BUCKET).alias("a")
    corpus = banded.filter(F.col("bucket") < _INC_NEW_BUCKET).alias("b")
    est = (
        F.aggregate(
            F.zip_with(F.col("a.ms"), F.col("b.ms"), lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        * 1.0
        / NUM_MINHASH
    )
    return (
        newb.join(
            corpus,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col("a.doc_id").alias("new_doc_id"),
            F.col("b.doc_id").alias("corpus_doc_id"),
            est.alias("est_jaccard"),
        )
        .distinct()
        .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
        .select("new_doc_id", "corpus_doc_id", pround("est_jaccard", 6).alias("est_jaccard"))
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup inside coarse embedding clusters (round 4;
# centroid scheme rescaled round 5)
# ---------------------------------------------------------------------------
# Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
# semantic deduplication" (arXiv:2303.09540): cluster the embedding space,
# then drop all but one member of every within-cluster near-duplicate group.
# The clustering bounds the pairwise work — cosine is only evaluated between
# vectors sharing a cell, so the pair join is equi-keyed on the cell id and
# the cost is sum(|cell| choose 2), not (n choose 2).
#
# Centroids (round 5): every SEMDEDUP_STRIDE-th vector BY ID seeds a cell
# (cell id = the seed's vec_id), so k = ceil(n / stride) grows linearly with
# the corpus — the paper's k ∝ n scaling — keeping E[|cell|] ≈ stride
# constant and total pair work O(n), with k join keys of parallelism. The
# round-4 version used 8 FIXED centroids: O(n²/8) pair work and 8-way
# parallelism, quadratic at scale. Stride sampling is deterministic and
# data-derived, so the DuckDB oracle reproduces the exact assignment with
# no stored model state. Assignment is a broadcast of the k×dim centroid
# table against the vector stream (constant equi-key → BroadcastHashJoin,
# map-side partial argmin, one n-row shuffle). At real scale (n ~ 10^9) the
# centroid broadcast must stay bounded: cap k (the paper uses 50k clusters
# for 600M vectors) via MLlib KMeans (mllib_ann.py) and accept larger
# cells; the stride scheme is the oracle-checkable deterministic stand-in
# at test SFs. Survivor choice is the SemDeDup convention of a
# deterministic representative — lowest vec_id — per duplicate group.

SEMDEDUP_THRESHOLD = 0.4  # same planted-near-dup level as COSINE_DUP_THRESHOLD
SEMDEDUP_STRIDE = 32  # every 32nd vec_id seeds a centroid: k = ceil(n/32)
SEMDEDUP_MAX_K = 4096  # centroid-table cap: broadcast stays <= ~2 MiB
# Once SEMDEDUP_MAX_K caps k, E[|cell|] = n/k grows linearly with the
# corpus — and a pair stage that loads a WHOLE cell into one pandas group
# becomes a single-task memory cliff (VERDICT r5 #3: 10^9 vectors x 3072
# dims => multi-GB tasks). The pair stage therefore shards each cell on the
# same salt-block scheme as _exact_grid_pairs: rows are salted into
# ceil(E[|cell|] / SEMDEDUP_BLOCK_TARGET) blocks and pair work runs as a
# cogrouped per-(cell, block-i, block-j) matmul, so task memory is bounded
# by ~2 x BLOCK_TARGET vectors regardless of cell size.
SEMDEDUP_BLOCK_TARGET = 1000  # max expected vectors per cogroup side


def _semdedup_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    st AS (
      SELECT GREATEST({SEMDEDUP_STRIDE},
                      CAST(CEIL(COUNT(*) / {SEMDEDUP_MAX_K}.0) AS BIGINT)) AS s
      FROM e
    ),
    cents AS (
      SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % (SELECT s FROM st) = 0
    ),
    d AS (
      SELECT e.vec_id, e.v, cents.cid,
             1 - list_dot_product(e.v, cents.cv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.cv, cents.cv))) AS dist
      FROM e, cents
    ),
    a AS (
      SELECT vec_id, v, cid AS cell FROM (
        SELECT vec_id, v, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d
      ) WHERE rn = 1
    ),
    p AS (
      SELECT x.cell AS cell, x.vec_id AS keep_id, y.vec_id AS drop_id,
             list_dot_product(x.v, y.v)
               / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS sim
      FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
    )
    SELECT drop_id, cell, MIN(keep_id) AS kept_id, COUNT(*) AS n_closer,
           floor((MAX(sim)) * 1000000.0 + 0.5) / 1000000.0 AS max_sim
    FROM p WHERE sim >= {SEMDEDUP_THRESHOLD}
    GROUP BY drop_id, cell
    """


@_register(
    "dedup_semdedup",
    _semdedup_oracle(),
    "SemDeDup (arXiv:2303.09540): within-cluster cosine >= {t}; cells from "
    "stride-sampled centroids so k = n/{s} grows with the corpus (paper "
    "scaling), E[|cell|] ~ {s} constant, pair work O(n), and the pair join "
    "stays equi-keyed on the cell id with k keys of parallelism. Each "
    "duplicate keeps its lowest-id representative.".format(
        t=SEMDEDUP_THRESHOLD, s=SEMDEDUP_STRIDE
    ),
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.functions.rounding import pround
    from doc2vec_spark.functions.vectors import as_double_array, dot, l2_norm
    from doc2vec_spark.tables import load as _load

    import math

    e = _load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    # the centroid table is bounded (k <= MAX_K rows of dim doubles,
    # ~2 MiB) — collect it once and close over it in an Arrow-batched
    # assignment UDF: cell = argmin_j dist(v, c_j) as one numpy matmul per
    # batch, a map-only stage with zero joins/shuffles before the pair
    # join. numpy's SIMD summation is not bit-identical to the oracle's
    # sequential dot, but only the ARGMIN crosses engines here (cell ids,
    # not distances): a flip needs two centroid distances within ~1e-15 of
    # each other while Voronoi gaps sit ~13 orders of magnitude above
    # float noise. The hash-gated sim values are still computed with the
    # exact sequential JVM dot in the pair join below.
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # r22 batch 4 (guide §1.2, fewer passes): n and the default-stride
    # centroid rows come out of ONE scan — the corpus count rides the
    # centroid collect as an Observation (CollectMetrics sits above the
    # scan and below the stride filter, which the optimizer cannot push
    # through it, so it sees every row). Only when the corpus is large
    # enough that the MAX_K cap widens the stride (n > STRIDE * MAX_K —
    # never at driver SFs) does a second, correctly-strided collect run,
    # which is exactly the two-job count the old count()+collect() shape
    # always paid. Guarded by test_semdedup_observation_counts_prefilter.
    from pyspark.sql import Observation

    obs = Observation()
    cent_rows = sorted(
        e.observe(obs, F.count(F.lit(1)).alias("n"))
        .filter((F.col("vec_id") % SEMDEDUP_STRIDE) == 0)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        .collect(),
        key=lambda r: r["cid"],  # ascending cid => argmin's first-min
    )  # tie-break == the oracle's ORDER BY dist, cid
    n = obs.get["n"]
    stride = max(SEMDEDUP_STRIDE, math.ceil(n / SEMDEDUP_MAX_K))
    if stride != SEMDEDUP_STRIDE:
        cent_rows = sorted(
            e.filter((F.col("vec_id") % stride) == 0)
            .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
            .collect(),
            key=lambda r: r["cid"],
        )
    if not cent_rows:
        # No vec_id divisible by the stride (tiny/sparse/1-based id space):
        # the oracle's cents CTE is empty and it returns zero rows; without
        # this guard assign_cell's argmin over a zero-width matrix raises
        # instead (ADVICE r5). Agree on the empty result.
        return spark.createDataFrame(
            [], "drop_id long, cell long, kept_id long, n_closer long, max_sim double"
        )
    cmat = np.array([r["cv"] for r in cent_rows])  # k x d
    cids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))  # k

    # no type hints: module-level `from __future__ import annotations`
    # stringifies them, which pandas_udf's hint parser rejects; hint-less
    # scalar UDFs take the SERIES -> SERIES path directly
    @pandas_udf("long")
    def assign_cell(vs):
        vm = np.vstack(vs.to_numpy())  # batch x d
        d = 1.0 - (vm @ cmat.T) / (
            np.sqrt((vm * vm).sum(axis=1))[:, None] * cnorm[None, :]
        )
        return pd.Series(cids[np.argmin(d, axis=1)])

    c = scoped_cache(
        e.select("vec_id", "v", assign_cell(F.col("v")).alias("cell"))
    )  # read by the per-cell prefilter AND both confirm-join sides

    # within-cell pair work, two-phase like _exact_grid_pairs: numpy matmul
    # prefilter at threshold-1e-9, exact sequential JVM re-score below —
    # every hash-gated sim value is bit-identical to the oracle's. The pair
    # stage is keyed (cell, i, j), NOT cell alone: rows are salted into
    # ``blocks`` sub-blocks per cell and each cogroup task sees one
    # (block_i, block_j) slice, so task memory stays ~2 x BLOCK_TARGET
    # vectors even when the MAX_K cap makes cells grow with the corpus
    # (VERDICT r5 #3). Every unordered in-cell pair lands in exactly one
    # block after the keep_id < drop_id cut; when the LARGEST cell fits the
    # target the grid degenerates to 1 block and the plan is the round-5
    # one. Block count derives from the MAX observed cell size (ADVICE r6:
    # the mean left the bound holding only in expectation — one skewed
    # Voronoi cell several times the average blew past the target), via a
    # single small groupBy-count job on the cached assignment, which the
    # pair stage was about to materialize anyway.
    max_cell = (
        c.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cn"))
        .agg(F.max("cn").alias("m"))
        .first()["m"]
        or 1
    )
    blocks = max(1, math.ceil(max_cell / SEMDEDUP_BLOCK_TARGET))
    probes = F.array(*[F.lit(i) for i in range(blocks)])
    # int cast on both key columns: mismatched cogroup key schemas silently
    # split the sides into disjoint key spaces (see _exact_grid_pairs)
    cb = c.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(blocks)).cast("int")
    )
    side_a = cb.select(
        "cell", "vec_id", "v", F.col("blk").alias("i"), F.explode(probes).alias("j")
    )
    side_b = cb.select(
        "cell", "vec_id", "v", F.explode(probes).alias("i"), F.col("blk").alias("j")
    )

    def cell_block_pairs(key, a_pdf, b_pdf):
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame({"cell": [], "keep_id": [], "drop_id": []}).astype(
                "int64"
            )
        va = np.vstack(a_pdf["v"].to_numpy())
        vb = np.vstack(b_pdf["v"].to_numpy())
        sims = (va @ vb.T) / (
            np.sqrt((va * va).sum(axis=1))[:, None]
            * np.sqrt((vb * vb).sum(axis=1))[None, :]
        )
        ia, ib = np.nonzero(sims >= SEMDEDUP_THRESHOLD - 1e-9)
        pa = a_pdf["vec_id"].to_numpy()[ia]
        pb = b_pdf["vec_id"].to_numpy()[ib]
        keep = pa < pb
        return pd.DataFrame(
            {
                "cell": np.full(int(keep.sum()), key[0], dtype=np.int64),
                "keep_id": pa[keep],
                "drop_id": pb[keep],
            }
        )

    cand = (
        side_a.groupby("cell", "i", "j")
        .cogroup(side_b.groupby("cell", "i", "j"))
        .applyInPandas(cell_block_pairs, "cell long, keep_id long, drop_id long")
    )
    ka = c.select(F.col("vec_id").alias("keep_id"), F.col("v").alias("va"))
    kb = c.select(F.col("vec_id").alias("drop_id"), F.col("v").alias("vb"))
    sim = dot(F.col("va"), F.col("vb")) / (
        l2_norm(F.col("va")) * l2_norm(F.col("vb"))
    )
    pairs = (
        cand.join(ka, "keep_id")
        .join(kb, "drop_id")
        .select("drop_id", "cell", "keep_id", sim.alias("sim"))
        .filter(F.col("sim") >= SEMDEDUP_THRESHOLD)
    )
    return pairs.groupBy("drop_id", "cell").agg(
        F.min("keep_id").alias("kept_id"),
        F.count(F.lit(1)).alias("n_closer"),
        pround(F.max("sim"), 6).alias("max_sim"),
    )
