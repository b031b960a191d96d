"""Training-data pipeline operators (BASELINE.json north star): the ops a
100 TB LLM-corpus build needs between raw documents and training shards.

- pipe_split_assign:      deterministic train/val/test assignment by content
                          hash — reproducible across engines and runs, no RNG.
- pipe_shard_pack:        token-budget shard packing via windowed cumulative
                          sums inside (lang, pack_group) — packing needs *a*
                          deterministic grouping, not a global order, so the
                          window partition key includes a hash group and every
                          group packs in parallel (no single-ordering
                          bottleneck at 100 TB).
- pipe_stratified_sample: exact-fraction per-stratum sampling, rank-by-hash —
                          deterministic replacement for sampleBy's Bernoulli
                          draw when exact split sizes matter.
- pipe_contamination:     train-split documents sharing 5-gram shingles with
                          the eval split (the standard n-gram eval-leakage
                          check) via a df-capped inverted-index join.
- dedup_cc_clusters:      connected components over the near-dup candidate
                          graph (docs sharing >= 2 distinct 5-grams) by
                          iterative min-label propagation with path
                          compression; DuckDB oracle is the recursive-CTE
                          transitive closure.

All hashing is md5-hex -> integer (engine-portable, like operators/dedup.py);
every output is integer/string-exact so the driver's value-hash comparison is
bitwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doc2vec_spark.caching import scoped_cache
from doc2vec_spark.session import scoped_conf
from doc2vec_spark.operators.dedup import (
    POSTING_BYTES_PER_PARTITION as _POSTING_BYTES_PER_PARTITION,
    corpus_agg_partitions as _corpus_agg_partitions_measured,
    corpus_parquet_bytes as _corpus_parquet_bytes,
)
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()

TRAIN_PCT = 80  # bucket < 80 -> train
VAL_PCT = 90  # 80 <= bucket < 90 -> val; rest test
PACK_GROUPS = 8  # parallel packing groups per lang
PACK_BUDGET_TOKENS = 2000  # per-shard token budget
SAMPLE_DENOM = 5  # stratified sample keeps ceil(n/5) per stratum (20%)
SHINGLE_N = 5  # contamination / candidate-graph n-gram width
# Hot-shingle cap: same rationale as dedup.MAX_SHINGLE_DF — a 5-gram present
# in d docs fans into d^2 join rows and carries no leakage/dup signal when
# corpus-common. Applied identically in the oracle, so results stay
# hash-checkable.
MAX_SHINGLE5_DF = 50
MIN_SHARED_EDGE = 2  # >= 2 shared distinct 5-grams -> candidate edge
CC_MAX_ITERS = 15
CC_STEPS_PER_ROUND = 2  # full propagate+compress steps fused per materialized job
# Loop-scope shuffle sizing (r18): iterative CC re-shuffles its label/edge
# state every round, so partition count should track the MEASURED state size
# (known for free from the init materialization), not the session default —
# a few-hundred-edge sf0.1 graph paying 32-task exchanges per round is pure
# dispatch floor, while the clamp keeps the session default as the ceiling
# so a 100 TB edge set still fans out fully. ~2M longs-pair rows per
# partition ≈ 50-60 MB shuffle blocks, inside executor memory at the target
# scales.
STAR_EDGES_PER_PARTITION = 2_000_000


# ---------------------------------------------------------------------------
# deterministic hash split
# ---------------------------------------------------------------------------
# bucket in [0, 100) from the first 8 md5 hex digits of the doc id; the split
# is a pure function of the id, so re-running the pipeline (or running it in
# another engine) assigns every document identically — the property that makes
# held-out splits trustworthy across pipeline versions.


def _bucket_col() -> Column:
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )


_BUCKET_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"

_SPLIT_CASE_SQL = (
    f"CASE WHEN ({_BUCKET_SQL}) < {TRAIN_PCT} THEN 'train' "
    f"WHEN ({_BUCKET_SQL}) < {VAL_PCT} THEN 'val' ELSE 'test' END"
)


@_register(
    "pipe_split_assign",
    f"SELECT doc_id, lang, {_BUCKET_SQL} AS bucket, {_SPLIT_CASE_SQL} AS split "
    "FROM documents",
    "Deterministic train/val/test split by md5 bucket of doc_id "
    f"({TRAIN_PCT}/{VAL_PCT - TRAIN_PCT}/{100 - VAL_PCT}). Map-only: no "
    "shuffle, no RNG, reproducible across engines and runs.",
)
def pipe_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    b = _bucket_col()
    split = (
        F.when(b < TRAIN_PCT, F.lit("train"))
        .when(b < VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select("doc_id", "lang", b.alias("bucket"), split.alias("split"))


# ---------------------------------------------------------------------------
# token-budget shard packing
# ---------------------------------------------------------------------------
# A global "order all docs, cut every B tokens" pack serializes the corpus
# through one cumulative sum — the classic scale trap. Packing only needs
# deterministic, budget-bounded bins, so we pack independently inside
# (lang, pack_group) where pack_group is a hash of the doc id: each group is a
# window partition, all groups run in parallel, and shard identity
# (lang, pack_group, shard_id) is stable under re-runs. At 100 TB, raise
# PACK_GROUPS until each group's token mass fits one task comfortably.


def _pack_group_col() -> Column:
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 9, 4), 16, 10)
        .cast("long")
        % PACK_GROUPS
    )


_PACK_GROUP_SQL = (
    f"('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 4))::BIGINT % {PACK_GROUPS}"
)


# the packed-corpus derivation shared VERBATIM by the pipe_shard_pack and
# pipe_shard_skew oracles (review finding r12: the skew oracle inlined a
# copy, so a packing-rule edit could silently desynchronize the audit)
_PACKED_ROWS_SQL = f"""
      SELECT doc_id, lang, pack_group, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang, pack_group ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM (SELECT doc_id, lang, {_PACK_GROUP_SQL} AS pack_group,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
            FROM documents)"""


@_register(
    "pipe_shard_pack",
    f"""
    SELECT doc_id, lang, pack_group, n_tokens,
           CAST(floor((cum - n_tokens) / {float(PACK_BUDGET_TOKENS)}) AS BIGINT) AS shard_id
    FROM ({_PACKED_ROWS_SQL})
    """,
    "Token-budget shard packing: windowed cumulative token counts inside "
    f"(lang, pack_group % {PACK_GROUPS}), shard_id = floor(tokens-before / "
    f"{PACK_BUDGET_TOKENS}). Hash groups keep packing parallel at 100 TB.",
)
def pipe_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        _pack_group_col().alias("pack_group"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "pack_group")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    shard = F.floor(
        (cum - F.col("n_tokens")) / F.lit(float(PACK_BUDGET_TOKENS))
    ).cast("long")
    return base.select(
        "doc_id", "lang", "pack_group", "n_tokens", shard.alias("shard_id")
    )



# ---------------------------------------------------------------------------
# shard skew audit
# ---------------------------------------------------------------------------
# The pre-launch health check on any packed corpus: one oversized shard is a
# guaranteed straggler for the whole training job (every data-parallel epoch
# waits on the slowest shard). Reports each shard's token load against the
# global mean in basis points, with the straggler flag the launch checklist
# gates on. Integer-exact: bp = (10000 * shard_tokens * n_shards) // total —
# n_shards and total enter as bounded one-row scalars.

SKEW_FLAG_BP = 12000  # flag shards >20% over the mean load


@_register(
    "pipe_shard_skew",
    f"""
    WITH packed AS (
      SELECT lang, pack_group,
             CAST(floor((cum - n_tokens) / {float(PACK_BUDGET_TOKENS)}) AS BIGINT) AS shard_id,
             n_tokens
      FROM ({_PACKED_ROWS_SQL})),
    shards AS (
      SELECT lang, pack_group, shard_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
      FROM packed GROUP BY lang, pack_group, shard_id),
    tot AS (SELECT CAST(SUM(shard_tokens) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_shards FROM shards)
    SELECT lang, pack_group, shard_id, n_docs, shard_tokens,
           CAST((10000 * shard_tokens * (SELECT n_shards FROM tot))
                // (SELECT total FROM tot) AS BIGINT) AS load_bp,
           CAST(CASE WHEN (10000 * shard_tokens * (SELECT n_shards FROM tot))
                          // (SELECT total FROM tot) > {SKEW_FLAG_BP}
                     THEN 1 ELSE 0 END AS BIGINT) AS straggler
    FROM shards
    """,
    "Shard skew audit over the packed corpus: per-shard doc/token load vs "
    "the global mean in bp, straggler flag above "
    f"{SKEW_FLAG_BP} bp — the pre-launch check that catches the one shard "
    "every data-parallel epoch would wait on. One agg over the "
    "(lang, pack_group)-parallel packing window; totals are bounded "
    "one-row scalars.",
)
def pipe_shard_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = pipe_shard_pack(spark, sf_dir)
    shards = packed.groupBy("lang", "pack_group", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
    )
    shards = scoped_cache(shards)
    tot = shards.agg(
        F.sum("shard_tokens").alias("t"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    if tot["t"] is None or int(tot["t"]) == 0:
        # empty corpus: the oracle's GROUP BY yields zero shards; mirror it
        # (pipe_mixture_drift precedent, ADVICE r12)
        return spark.createDataFrame(
            [],
            "lang string, pack_group long, shard_id long, n_docs long, "
            "shard_tokens long, load_bp long, straggler long",
        )
    total, n_shards = int(tot["t"]), int(tot["n"])
    # bp product bound: 10000 * shard_tokens * n_shards must stay < 2^63.
    # shard_tokens <= PACK_BUDGET_TOKENS + one doc (~2*8192 here), so the
    # product overflows only past ~5.6e13 shards — far beyond any real
    # packing run (100 TB at 8k-token shards is ~1.2e10 shards), and Spark
    # (non-ANSI) would wrap silently while DuckDB raises. Keep the factor
    # order (10000 * tokens first) so the intermediate stays minimal; a
    # deployment past that ceiling should divide by total before scaling.
    load_bp = F.expr(f"(10000 * shard_tokens * {n_shards}) div {total}")
    return shards.select(
        "lang",
        "pack_group",
        "shard_id",
        "n_docs",
        F.col("shard_tokens").cast("long").alias("shard_tokens"),
        load_bp.cast("long").alias("load_bp"),
        (load_bp > SKEW_FLAG_BP).cast("long").alias("straggler"),
    )


# ---------------------------------------------------------------------------
# exact-fraction stratified sample
# ---------------------------------------------------------------------------
# sampleBy() draws Bernoulli per row: stratum sizes vary run to run and engine
# to engine. Rank-by-hash gives exactly ceil(n/SAMPLE_DENOM) rows per
# (lang, source) stratum, deterministically: one shuffle (the window
# partition), rank key = (md5(doc_id), doc_id) so the "random" order is
# reproducible.


@_register(
    "pipe_stratified_sample",
    f"""
    SELECT doc_id, lang, source, sample_rank, stratum_n
    FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank,
             COUNT(*) OVER (PARTITION BY lang, source) AS stratum_n
      FROM documents)
    WHERE sample_rank <= ceil(stratum_n * 1.0 / {SAMPLE_DENOM})
    """,
    "Exact-fraction stratified sample: deterministic rank-by-hash keeps "
    f"ceil(n/{SAMPLE_DENOM}) docs per (lang, source) stratum — one shuffle.",
)
def pipe_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    part = Window.partitionBy("lang", "source")
    rn = F.row_number().over(
        part.orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    )
    n = F.count(F.lit(1)).over(
        part.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            rn.alias("sample_rank"),
            n.alias("stratum_n"),
        )
        .filter(F.col("sample_rank") <= F.ceil(F.col("stratum_n") * 1.0 / SAMPLE_DENOM))
    )


# ---------------------------------------------------------------------------
# 5-gram shingles (shared by contamination + candidate graph)
# ---------------------------------------------------------------------------

_SHINGLES5_SQL = """
  SELECT DISTINCT doc_id,
         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
       unnest(generate_series(1, len(ws)-4)) t(i)
"""

_HASHED_SHINGLES5_SQL = (
    "SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h "
    f"FROM ({_SHINGLES5_SQL})"
)


def _hashed_shingle5_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h) rows: 5-gram shingles hashed map-side to 60-bit md5-prefix
    longs — 8-byte shuffle keys instead of ~30-char strings (same
    engine-portable construction as the dedup ops; the oracle mirrors it)."""
    from doc2vec_spark.operators.dedup import _tokens, word_shingles_from
    from doc2vec_spark.session import default_parallelism

    # the pre-explode round-robin decouples the shingle explode's
    # parallelism from the parquet split count (one small file locally =
    # one task without it; at scale it also rebalances doc-size skew
    # before the 10x-expanding explode)
    docs = load(spark, sf_dir, "documents").repartition(default_parallelism())
    # tokens bound to a column before the shingle lambdas (r18): the
    # unbound word_shingles form inlines the regexp split into every
    # element_at in the 5-gram lambda — 5 re-splits of the document per
    # shingle index, interpreted. Binding measured 18x on this map stage
    # (10.3 s -> 0.58 s single-threaded at sf0.1), values bit-identical.
    rows = (
        docs.select("doc_id", _tokens().alias("ws"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    word_shingles_from(F.col("ws"), SHINGLE_N),
                    lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
                )
            ).alias("h"),
        )
    )
    # every consumer groups these rows by h into posting lists; above the
    # session default, pre-partition by h at a size-scaled count (the r18
    # 32x rehearsal's super-linearity fix for collect_* posting aggregates
    # at a fixed partition default — r19: directory-aware measurement, so
    # store.py-layout corpora engage it too). Small corpora skip it and
    # keep AQE's post-shuffle coalescing.
    nparts = _corpus_agg_partitions_measured(sf_dir)
    if nparts > default_parallelism():
        rows = rows.repartition(nparts, "h")
    return rows


# ---------------------------------------------------------------------------
# eval-set contamination
# ---------------------------------------------------------------------------


@_register(
    "pipe_contamination",
    f"""
    WITH sh0 AS ({_HASHED_SHINGLES5_SQL}),
    keep AS (SELECT h FROM sh0 GROUP BY h HAVING COUNT(*) <= {MAX_SHINGLE5_DF}),
    sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (h)),
    shb AS (SELECT doc_id, h, {_BUCKET_SQL} AS b FROM sh),
    tr AS (SELECT doc_id, h FROM shb WHERE b < {TRAIN_PCT}),
    ev AS (SELECT doc_id, h FROM shb WHERE b >= {TRAIN_PCT})
    SELECT tr.doc_id AS doc_id,
           COUNT(DISTINCT tr.h) AS n_shared_ngrams,
           COUNT(DISTINCT ev.doc_id) AS n_eval_docs
    FROM tr JOIN ev ON tr.h = ev.h
    GROUP BY tr.doc_id
    HAVING COUNT(DISTINCT tr.h) >= {MIN_SHARED_EDGE}
    """,
    f"Eval-leakage check: train docs sharing >= {MIN_SHARED_EDGE} distinct "
    f"{SHINGLE_N}-gram shingles with the val/test split. Hashed posting "
    "lists: shingles become 60-bit longs map-side, ONE groupBy builds the "
    f"inverted index (df <= {MAX_SHINGLE5_DF} cap = posting-size filter), "
    "train x eval pairs expand map-side per posting — never a cross join, "
    "no second shuffle of the shingle table.",
)
def pipe_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = _hashed_shingle5_rows(spark, sf_dir).withColumn("b", _bucket_col())
    postings = (
        rows.groupBy("h")
        .agg(F.collect_list(F.struct("doc_id", "b")).alias("ids"))
        .filter(F.size("ids").between(2, MAX_SHINGLE5_DF))
    )
    tr = F.filter(F.col("ids"), lambda x: x["b"] < TRAIN_PCT)
    ev = F.filter(F.col("ids"), lambda x: x["b"] >= TRAIN_PCT)
    pairs = F.flatten(
        F.transform(
            tr,
            lambda t: F.transform(
                ev,
                lambda e: F.struct(
                    t["doc_id"].alias("doc_id"), e["doc_id"].alias("eval_doc_id")
                ),
            ),
        )
    )
    return (
        postings.select("h", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.doc_id").alias("doc_id"))
        .agg(
            F.countDistinct("h").alias("n_shared_ngrams"),
            F.countDistinct("p.eval_doc_id").alias("n_eval_docs"),
        )
        .filter(F.col("n_shared_ngrams") >= MIN_SHARED_EDGE)
    )


# ---------------------------------------------------------------------------
# connected-components dup clustering
# ---------------------------------------------------------------------------


def candidate_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate edges: (u, v) docs sharing >= MIN_SHARED_EDGE
    distinct 5-gram shingles, u < v. Inverted-index shape: group doc ids per
    shingle into posting lists, expand pairs map-side, count per pair. The
    hot-shingle df cap IS the posting-size filter — no separate window pass,
    so the whole edge build is two shuffles (groupBy h, groupBy (u, v)).

    Shingles are hashed map-side to 60-bit md5-prefix longs before the
    shuffle: equality is all the posting groupBy needs, and an 8-byte key
    shuffles ~4x less than a ~30-char 5-gram string. The hash is the same
    engine-portable md5 construction as operators/dedup.py, computed
    identically in the oracle — even a (2^-60-improbable) collision is
    mirrored, so results stay hash-checkable."""
    from doc2vec_spark.operators.dedup import pairs_in_posting

    postings = (
        _hashed_shingle5_rows(spark, sf_dir)
        .groupBy("h")
        .agg(F.collect_list("doc_id").alias("ids"))
    )
    return (
        postings.filter(F.size("ids").between(2, MAX_SHINGLE5_DF))
        .select(F.explode(pairs_in_posting(F.col("ids"))).alias("p"))
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= MIN_SHARED_EDGE)
        .select("u", "v")
    )


# Checkpoint hygiene (VERDICT r03 #2): every round's localCheckpoint used to
# pin blocks forever — consecutive CC invocations degraded 2.8s -> 14.9s.
# Superseded rounds are freed as soon as the next round is materialized; the
# final result's blocks are parked and freed at the NEXT CC entry (a freed
# local checkpoint is unrecoverable, so they must outlive the returned
# frame's consumption — every registry caller consumes before re-entering).
_CC_FAMILY = "connected_components"


def free_cc_checkpoints() -> None:
    """Free checkpoint blocks parked by previous CC invocations."""
    from doc2vec_spark.checkpoints import free_parked

    free_parked(_CC_FAMILY)


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Both orientations of an undirected edge list in ONE pass.

    A union of (u,v) and (v,u) duplicates the entire upstream edge plan
    into both branches (for candidate_edges callers that is the whole
    shingle pipeline, scanned and shuffled twice); exploding the two
    orientations per row scans it once (r7: halves edge-build stages)."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
    )


# Size measurement + posting partition calibration are single-sourced in
# dedup.py since r20 (the r19 "unified in r20" commitment): dedup.
# corpus_parquet_bytes folds directory layouts RECURSIVELY (nested
# partitionBy shapes included — ADVICE r19 #1), and the top-of-module
# aliases below keep pipeline's historical call sites stable.


def _small_corpus(sf_dir: str) -> bool:
    """True when the documents table is MEASURED small enough that the
    size-scaled posting partition count stays at the session default — the
    signal the CC entry points use to widen their static-plan (AQE-off)
    scope over the edge build itself (r18): below the threshold every
    edge-build exchange is tiny, runtime re-planning has nothing to
    re-plan, and each AQE materialization job is pure scheduler floor
    (measured: 12 -> 6 jobs, 1.87 -> 1.59 s for dedup_cc_clusters at
    sf0.1). At scale the count exceeds the default and the edge build
    keeps AQE's skew handling and coalescing exactly as before.

    Fail-safe (ADVICE r18): an UNMEASURABLE corpus (non-local scheme,
    unreadable path) is NOT small — the old route returned the session
    default for both 'tiny' and 'unknown', so both CC entry points
    disabled AQE over the full edge build of arbitrarily large s3a://
    corpora, contradicting the documented 100 TB invariant.

    (r21: logic single-sourced in measurement.small_corpus — the leaf
    extraction VERDICT r20 #6 assigned to dedup.py's next reopen.)"""
    from doc2vec_spark.measurement import small_corpus

    return small_corpus(sf_dir)


def connected_components(
    edges: DataFrame, max_iters: int = CC_MAX_ITERS, small_input: bool = False
) -> DataFrame:
    """Min-label propagation with path compression over an undirected edge
    list (u, v) -> (doc_id, component) where component = min doc id reachable.

    ``small_input=True`` (callers pass ``_small_corpus(sf_dir)``) widens the
    loop's AQE-off scope over the upstream edge materialization: on a small
    corpus the edge build's exchanges are tiny and statically plannable, so
    paying one scheduler job per exchange buys nothing. Large corpora keep
    AQE on the edge build (skew, coalescing) — the 100 TB path is unchanged.

    Round-9 job-depth cut (VERDICT r8 #4). Three structural changes take the
    typical near-clique dup graph from three materialized rounds of ~6
    exchanges each to ONE materialized job:

    1. **Linear batched plans.** Each materialization fuses
       ``CC_STEPS_PER_ROUND`` propagate+compress steps. The r8 round shape
       referenced the (unmaterialized) previous intermediate 3x, which is
       why r8 had to materialize every round — duplicated subtrees are not
       reliably exchange-reused under AQE (measured this round: a naive
       2-step batch of the r8 shape exploded 17 -> 76 jobs). The batched
       step here references its unmaterialized input exactly ONCE: the
       propagate join runs over a closed-neighborhood edge list (self-loops
       fused into the symmetrize explode), so "min over self and
       neighbors" is a single join + groupBy with no self-branch union,
       and compression jumps pointers through the MATERIALIZED input
       generation (cache/checkpoint-backed — extra references are free)
       instead of through the current intermediate. Old-generation pointer
       jumping still compounds reach geometrically per batch, so the
       O(log diameter) total is kept (the 32-node-path test pins it).
    2. **Fused convergence, zero confirm rounds.** Each batch observes
       (SUM(label), COUNT(*)) after its first step and after its last
       (labels are monotone non-increasing over constant rows, so equal
       sums <=> the final full step changed nothing <=> fixed point: for
       every edge (u,v), label(u) <= label(v) and vice versa). A graph that
       converges mid-batch is CONFIRMED by the same job — near-clique dup
       corpora finish in one materialization where r8 needed two or three.
    3. **AQE off inside the loop (restored by `scoped_conf`).** AQE turns every
       exchange of every materialization into its own scheduler job — for
       an iterative loop over small already-partitioned label state that
       is pure per-round latency (and the measured stall surface,
       BENCH_DETAIL stalls) with nothing to re-plan; runtime re-planning
       pays off on the one-shot corpus-sized scans, not here. With it off,
       each batch is ONE job regardless of exchange count.

    The edge side of every join is the cached closed-neighborhood list,
    hash-partitioned by the join key ONCE. Deep/chainy graphs still route
    to `connected_components_star` (alternating large-star/small-star,
    O(log^2 n) rounds on any shape — same output contract). Checkpoint
    hygiene unchanged (checkpoints.py): first batch is a plain cache,
    later batches eager localCheckpoints (the checkpoint job fills both
    observations), superseded generations freed immediately.
    """
    from pyspark.sql import Observation

    from doc2vec_spark.checkpoints import ckpt_tracked, free_blocks, park_blocks

    free_cc_checkpoints()
    spark = edges.sparkSession
    # closed-neighborhood edge list: both orientations PLUS a self-loop per
    # endpoint, exploded in ONE pass over the upstream edge plan (the r7
    # single-scan discipline)
    symp = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                    F.struct(F.col("u").alias("u"), F.col("u").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("v").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .cache()
    )
    # materialize the edge cache BEFORE the AQE toggle (unless small_input:
    # then the static scope below covers it): the upstream edge build is
    # the one corpus-sized scan in this algorithm and keeps AQE's runtime
    # re-planning (skew, coalescing); the loop below is pure label-state —
    # nothing for AQE to re-plan, one scheduler job per exchange to pay.
    # The cache is deliberately NOT pre-partitioned by the join key: that
    # exchange would cost its own AQE job here, while the AQE-off batch
    # jobs absorb the v-shuffle as one stage INSIDE the job — and a
    # typical near-clique corpus runs exactly one batch, so the edge list
    # shuffles once either way.
    # ADVICE r9 scoping: scoped_conf restores the true prior state (unset
    # stays unset) even when a batch job fails.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_conf(spark, "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"):
        if small_input:
            # r18: static plan for the edge materialization too — tiny
            # exchanges, nothing for AQE to re-plan, one job instead of six
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        n_symp = symp.count()
        # init = the propagate step applied to the identity labeling: min
        # over the closed neighborhood straight from the edge list
        # (self-loops make that one groupBy). Cache-backed: batch 0's job
        # fills it, and the compression references below read the cache
        # instead of re-deriving.
        labels: DataFrame = (
            symp.groupBy(F.col("u").alias("doc_id"))
            .agg(F.min("v").alias("label"))
            .cache()
        )
        gen_blocks: list = []
        gen_cache = labels  # cache handle backing the current generation
        # the fused fixed-point confirmation needs a step AFTER the mid
        # observation; a 1-step batch would compare an observation to itself
        assert CC_STEPS_PER_ROUND >= 2
        n_batches = (max_iters + CC_STEPS_PER_ROUND - 1) // CC_STEPS_PER_ROUND

        def _metrics(obs_df: DataFrame, obs: Observation) -> DataFrame:
            return obs_df.observe(
                obs,
                F.sum(F.col("label").cast("decimal(28, 0)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )

        # r18: loop-scope shuffle partitions sized to the MEASURED
        # closed-neighborhood row count (free from the cache-fill count
        # above) instead of the session default — with AQE off every batch
        # exchange dispatches exactly this many tasks, and a few-hundred-
        # edge graph paying 32-task exchanges per stage is pure scheduler
        # floor. Clamped to the session default so a 100 TB edge set still
        # fans out fully.
        parts = max(
            1, min(int(prev_parts), int(n_symp) // STAR_EDGES_PER_PARTITION + 1)
        )
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        for batch in range(n_batches):
            lmat = labels  # materialized input generation of this batch

            def _prop(lbl: DataFrame) -> DataFrame:
                # min over the closed neighborhood: ONE join + groupBy, the
                # unmaterialized input referenced exactly once
                return (
                    symp.join(lbl, symp["v"] == lbl["doc_id"])
                    .groupBy(symp["u"].alias("doc_id"))
                    .agg(F.min("label").alias("label"))
                )

            def _compress(lbl: DataFrame) -> DataFrame:
                # pointer jump through the MATERIALIZED generation (extra
                # references to lmat are cache-backed, keeping the batch
                # plan linear); label values are node ids present in lmat,
                # so the inner join preserves every row
                ref = lmat.select(
                    F.col("doc_id").alias("ref_id"), F.col("label").alias("ref_label")
                )
                return lbl.join(ref, lbl["label"] == ref["ref_id"]).select(
                    lbl["doc_id"],
                    F.least(lbl["label"], F.col("ref_label")).alias("label"),
                )

            obs_mid = Observation(f"cc_b{batch}_mid")
            obs_end = Observation(f"cc_b{batch}_end")
            step = _metrics(_compress(_prop(lmat)), obs_mid)
            for _ in range(CC_STEPS_PER_ROUND - 1):
                step = _compress(_prop(step))
            out = _metrics(step, obs_end)
            if batch >= 1:
                # localCheckpoint is eager and runs through the two
                # CollectMetricsExec nodes — one job fills everything
                new_labels, new_blocks = ckpt_tracked(out)
                new_cache = None
            else:
                new_labels, new_blocks = out.cache(), []
                new_cache = new_labels
                # one job: fills the cache AND both observations
                new_labels.count()
            mid, end = obs_mid.get, obs_end.get
            # the new generation is materialized: the one it derives from is
            # dead weight — free its checkpoint blocks / cache now
            free_blocks(gen_blocks)
            if gen_cache is not None:
                gen_cache.unpersist(False)
            gen_blocks, gen_cache = new_blocks, new_cache
            labels = new_labels.select("doc_id", "label")
            if mid["s"] == end["s"] and mid["n"] == end["n"]:
                # monotone labels over constant rows: equal sums mean the
                # batch's LAST full step changed nothing => fixed point,
                # confirmation already fused into this batch's job
                break
    symp.unpersist(False)  # plain cache: lineage survives, recompute possible
    park_blocks(_CC_FAMILY, gen_blocks)  # freed at next CC entry
    if gen_cache is not None:
        # cache-backed final result: park the handle the same way (its
        # .unpersist(blocking) signature matches the block handles')
        park_blocks(_CC_FAMILY, [gen_cache])
    return labels.select("doc_id", F.col("label").alias("component"))


def _canon(df: DataFrame) -> DataFrame:
    """Undirected edge set canonicalized to (u > v), self-loops dropped."""
    return (
        df.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame, max_iters: int = 30, small_input: bool = False
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    converges in O(log^2 n) rounds on ANY graph shape, where plain
    min-label propagation needs O(diameter). Use this variant for deep/
    chainy graphs; `connected_components` stays the default for near-dup
    clusters (near-cliques, diameter 2-3, fewer shuffles per round).

    large-star: every node connects its LARGER neighbors to its
    neighborhood minimum; small-star: every node connects its smaller-or-
    equal neighbors (and itself) to that minimum. Both are one groupBy +
    one join per round, keyed on node id — no global structure. At the
    fixed point the edge set is a union of stars centered at component
    minima, so labels read off as min(self, neighbors)."""
    from pyspark.sql import Observation

    from doc2vec_spark.checkpoints import ckpt_tracked, free_blocks, park_blocks

    # O(1)-driver convergence signature: (row count, XOR of row hashes),
    # collected as Observation metrics FUSED into the job that materializes
    # the round's checkpoint (r7, the connected_components treatment) — no
    # separate aggregate job per round. bit_xor is order-independent and
    # can't overflow (ANSI-safe, unlike SUM of longs); on canonical
    # DISTINCT edge sets equal signatures differ only with a ~2^-64
    # xxhash64 collision, and identical sets always produce identical
    # signatures (no spurious extra rounds).
    def _observed_ckpt(df: DataFrame, tag: str):
        obs = Observation(f"star_sig_{tag}")
        out, blocks = ckpt_tracked(
            df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("u", "v")).alias("h"),
            )
        )
        metrics = obs.get  # filled by the eager checkpoint job
        return out, blocks, (metrics["n"], metrics["h"])

    free_cc_checkpoints()
    spark = edges.sparkSession
    # r18 loop treatment, mirroring connected_components (r9): AQE OFF for
    # the iterations — with it on, every exchange of every round's
    # checkpoint job becomes its own scheduler job (measured: 23 jobs ->
    # 11 for the same sf0.1 graph), pure per-round latency with nothing to
    # re-plan on already-materialized label-state. And shuffle partitions
    # sized to the measured edge count instead of the session default: an
    # iterative loop re-shuffles its (shrinking) edge set every round, so a
    # 285-edge graph paying 32-task exchanges is pure dispatch floor, while
    # at 100 TB the clamp keeps the session default as the ceiling.
    # The init checkpoint stays under the caller's AQE UNLESS small_input
    # (callers pass _small_corpus(sf_dir)): at scale the upstream edge
    # build earns AQE's skew handling; on a small corpus its exchanges are
    # tiny and the static plan drops the per-exchange scheduler jobs. The
    # init observation hands us the canonical edge COUNT for free — the
    # loop's partition sizing below.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_conf(spark, "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"):
        if small_input:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        cur, cur_blocks, prev_sig = _observed_ckpt(_canon(edges), "init")
        parts = max(
            1, min(int(prev_parts), int(prev_sig[0]) // STAR_EDGES_PER_PARTITION + 1)
        )
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        for rnd in range(max_iters):
            # large-star over the symmetric adjacency: emit (v, m(u)) for v > u
            sym = _symmetrize(cur)
            m = (
                sym.groupBy("u")
                .agg(F.least(F.min("v"), F.first("u")).alias("m"))
            )
            large = _canon(
                sym.join(m, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            # small-star over larger->smaller oriented edges: connect all
            # smaller neighbors and the node itself to the minimum
            m2 = large.groupBy("u").agg(F.min("v").alias("m"))
            small, small_blocks, sig = _observed_ckpt(
                _canon(
                    large.join(m2, "u")
                    .select(F.col("v").alias("u"), F.col("m").alias("v"))
                    .union(m2.select("u", F.col("m").alias("v")))
                ),
                f"r{rnd}",
            )
            free_blocks(cur_blocks)  # small is materialized; last round is dead
            cur, cur_blocks = small, small_blocks
            if sig == prev_sig:
                break
            prev_sig = sig
    park_blocks(_CC_FAMILY, cur_blocks)  # freed at next CC entry
    sym = _symmetrize(cur)
    return (
        sym.groupBy(F.col("u").alias("doc_id"))
        .agg(F.least(F.min("v"), F.first("u")).alias("component"))
    )


# Transitive-closure ground truth shared by BOTH CC implementations: the
# output contract (doc_id, component=min reachable, is_canonical) is
# algorithm-independent, so label propagation and the Kiveris star variant
# are hash-checked against the identical recursive CTE.
_CC_ORACLE = f"""
    WITH RECURSIVE sh0 AS ({_HASHED_SHINGLES5_SQL}),
    keep AS (SELECT h FROM sh0 GROUP BY h HAVING COUNT(*) BETWEEN 2 AND {MAX_SHINGLE5_DF}),
    sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (h)),
    pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_SHARED_EDGE}),
    edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    reach(u, v) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u)
    SELECT doc_id, component,
           CASE WHEN doc_id = component THEN 1 ELSE 0 END AS is_canonical
    FROM comp
    """


@_register(
    "dedup_cc_clusters",
    _CC_ORACLE,
    "Dup-cluster assignment: connected components over the candidate graph "
    f"(>= {MIN_SHARED_EDGE} shared {SHINGLE_N}-grams) via iterative min-label "
    "propagation + path compression; canonical doc = component min. Oracle is "
    "the recursive-CTE transitive closure, so multi-hop merges are "
    "hash-verified (the driver corpus contains a 3-doc chain).",
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = connected_components(
        candidate_edges(spark, sf_dir), small_input=_small_corpus(sf_dir)
    )
    return comp.select(
        "doc_id",
        "component",
        F.when(F.col("doc_id") == F.col("component"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_canonical"),
    )


@_register(
    "dedup_cc_star",
    _CC_ORACLE,
    "Same dup-cluster contract through the alternating large-star/small-star "
    "algorithm (Kiveris et al., SoCC'14): O(log^2 n) rounds on ANY graph "
    "shape where min-label propagation needs O(diameter) — the variant to "
    "route deep/chainy graphs to at 100 TB. Driver-verified against the "
    "identical recursive-CTE closure as dedup_cc_clusters (previously "
    "property-tested only).",
)
def dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = candidate_edges(spark, sf_dir)
    comp = connected_components_star(edges, small_input=_small_corpus(sf_dir))
    # star CC labels only nodes WITH edges (isolated docs have no candidate
    # pairs and are their own component) — same as the propagation variant,
    # whose seed groupBy also only sees edge endpoints; the oracle's
    # reach CTE seeds from the edge list identically.
    return comp.select(
        "doc_id",
        "component",
        F.when(F.col("doc_id") == F.col("component"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# end-to-end corpus build
# ---------------------------------------------------------------------------
# The composition a real corpus build runs nightly: exact-dedup to canonical
# docs -> quality gate -> deterministic split -> per-(split, lang) shard
# stats. Every stage is the already-verified operator above / in
# textanalysis.py; this query proves they compose into one declarative plan
# (Catalyst sees a single tree: the dedup window, the quality projection and
# the split bucket all collapse into two shuffles — the hash-partition for
# the dedup window and the final stats groupBy).

QUALITY_CUTOFF = 0.7


@_register(
    "pipe_corpus_build",
    rf"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             MIN(doc_id) OVER (PARTITION BY sha256(text)) AS canonical_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
             (CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) * 1.0
                        / len(regexp_split_to_array(trim(text), '\s+')) >= 0.3 THEN 0.3 ELSE 0.0 END)
           + (CASE WHEN len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0 / n_chars <= 0.1
                   THEN 0.3 ELSE 0.0 END) AS q
      FROM documents)
    SELECT {_SPLIT_CASE_SQL} AS split, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(ws_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM scored
    WHERE doc_id = canonical_id AND q >= {QUALITY_CUTOFF}
    GROUP BY 1, 2
    """,
    "End-to-end corpus build: exact-dedup canonical filter -> quality gate "
    f"(score >= {QUALITY_CUTOFF}) -> deterministic split -> per-(split, lang) "
    "doc/token/char totals. One declarative plan, two shuffles.",
)
def pipe_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.functions import sha256_hex

    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    canonical = F.min("doc_id").over(Window.partitionBy(sha256_hex(F.col("text"))))
    unique_ratio = F.size(F.array_distinct(toks)) * 1.0 / F.size(toks)
    punct_ratio = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"), 0))
        * 1.0
        / F.col("n_chars")
    )
    q = (
        F.when(F.col("n_chars").between(100, 20000), 0.4).otherwise(0.0)
        + F.when(unique_ratio >= 0.3, 0.3).otherwise(0.0)
        + F.when(punct_ratio <= 0.1, 0.3).otherwise(0.0)
    )
    b = _bucket_col()
    split = (
        F.when(b < TRAIN_PCT, F.lit("train"))
        .when(b < VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    scored = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        split.alias("split"),
        canonical.alias("canonical_id"),
        F.size(toks).alias("ws_tokens"),
        q.alias("q"),
    )
    return (
        scored.filter(
            (F.col("doc_id") == F.col("canonical_id"))
            & (F.col("q") >= QUALITY_CUTOFF)
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


# ---------------------------------------------------------------------------
# domain-level quality signals (C4/RefinedWeb-style domain triage)
# ---------------------------------------------------------------------------
# Real corpus curation decides keep/drop per DOMAIN, not per document:
# a domain with a high exact-dup rate or low quality-pass rate is boilerplate
# or spam and gets dropped wholesale. `source` plays the registrable-domain
# role in the driver corpus. All ratios are single integer-over-integer IEEE
# divisions (bit-identical across engines); the flag compares the RAW ratios
# so no rounding sits inside the decision.

DOMAIN_DUP_FLAG = 0.2  # dup_frac above -> flagged
DOMAIN_PASS_FLAG = 0.5  # quality pass_rate below -> flagged

_QUALITY_Q_SQL = r"""
             (CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) * 1.0
                        / len(regexp_split_to_array(trim(text), '\s+')) >= 0.3 THEN 0.3 ELSE 0.0 END)
           + (CASE WHEN len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0 / n_chars <= 0.1
                   THEN 0.3 ELSE 0.0 END)
"""


def _quality_indicators() -> tuple[Column, Column, Column]:
    """The THREE boolean quality predicates, built once and shared by
    `_quality_q` and `_quality_s` (review finding r12: the two functions
    used to carry separate copies of this expression set, so an edit to
    one threshold without the other would silently break the s<->q
    monotonicity the canonical-select fusion's correctness rests on —
    now the predicates are structurally identical by construction)."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    unique_ratio = F.size(F.array_distinct(toks)) * 1.0 / F.size(toks)
    punct_ratio = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"), 0))
        * 1.0
        / F.col("n_chars")
    )
    return (
        F.col("n_chars").between(100, 20000),
        unique_ratio >= 0.3,
        punct_ratio <= 0.1,
    )


def _quality_q() -> Column:
    # stays the SUM of double-weighted cases (0.4+0.3 -> 0.7000000000000001)
    # because that is what _QUALITY_Q_SQL emits — deriving q from s/10.0
    # would change the IEEE value and break the hash gate
    a, b, c = _quality_indicators()
    return (
        F.when(a, 0.4).otherwise(0.0)
        + F.when(b, 0.3).otherwise(0.0)
        + F.when(c, 0.3).otherwise(0.0)
    )


def _quality_s() -> Column:
    """Integer surrogate of `_quality_q` (10x the weights): EXACTLY monotone
    with q — both are sums of the same three indicators, and indicator sets
    with equal s always produce the same double q — so ordering by s is
    ordering by q, with a long-typed key that hash aggregates (max_by) can
    buffer. Used by pipe_canonical_select's sort-free survivor pick."""
    a, b, c = _quality_indicators()
    return (
        F.when(a, 4).otherwise(0)
        + F.when(b, 3).otherwise(0)
        + F.when(c, 3).otherwise(0)
    )


@_register(
    "pipe_domain_quality",
    f"""
    WITH scored AS (
      SELECT source, lang, n_chars, sha256(text) AS h,
             CASE WHEN ({_QUALITY_Q_SQL}) >= {QUALITY_CUTOFF} THEN 1 ELSE 0 END AS pass
      FROM documents),
    agg AS (
      SELECT source,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT lang) AS n_langs,
             (COUNT(*) - COUNT(DISTINCT h)) * 1.0 / COUNT(*) AS dup_raw,
             SUM(pass) * 1.0 / COUNT(*) AS pass_raw,
             CAST(SUM(n_chars) AS BIGINT) * 1.0 / COUNT(*) AS chars_raw
      FROM scored GROUP BY source)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_langs AS BIGINT) AS n_langs,
           floor(dup_raw * 1000000.0 + 0.5) / 1000000.0 AS dup_frac,
           floor(pass_raw * 1000000.0 + 0.5) / 1000000.0 AS pass_rate,
           floor(chars_raw * 1000000.0 + 0.5) / 1000000.0 AS mean_chars,
           CASE WHEN dup_raw > {DOMAIN_DUP_FLAG} OR pass_raw < {DOMAIN_PASS_FLAG}
                THEN 1 ELSE 0 END AS flagged
    FROM agg
    """,
    "Domain-level corpus triage: per-source doc counts, language spread, "
    "exact-dup fraction, quality-pass rate, mean chars, and the keep/drop "
    "flag (dup_frac > {d} or pass_rate < {p}). One shuffle keyed on the "
    "domain; every ratio is one integer/integer division so the flag is "
    "bit-identical across engines. At 100 TB this is THE decision table a "
    "crawl curator materializes nightly.".format(d=DOMAIN_DUP_FLAG, p=DOMAIN_PASS_FLAG),
)
def pipe_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.functions import sha256_hex
    from doc2vec_spark.functions.rounding import pround

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "lang",
        "n_chars",
        sha256_hex(F.col("text")).alias("h"),
        F.when(_quality_q() >= QUALITY_CUTOFF, F.lit(1)).otherwise(F.lit(0)).alias("pass"),
    )
    n = F.count(F.lit(1))
    dup_raw = (n - F.count_distinct(F.col("h"))) * 1.0 / n
    pass_raw = F.sum("pass") * 1.0 / n
    chars_raw = F.sum("n_chars").cast("long") * 1.0 / n
    return scored.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        F.count_distinct(F.col("lang")).cast("long").alias("n_langs"),
        pround(dup_raw, 6).alias("dup_frac"),
        pround(pass_raw, 6).alias("pass_rate"),
        pround(chars_raw, 6).alias("mean_chars"),
        F.when((dup_raw > DOMAIN_DUP_FLAG) | (pass_raw < DOMAIN_PASS_FLAG), F.lit(1))
        .otherwise(F.lit(0))
        .alias("flagged"),
    )


# ---------------------------------------------------------------------------
# temperature-balanced language mixture sampling
# ---------------------------------------------------------------------------
# Multilingual pretraining doesn't sample languages proportionally (English
# would drown everything) — it allocates token budgets ~ T_l^alpha
# (temperature resampling, alpha=0.5 here) and fills each language's budget
# in a deterministic pseudo-random order. Every arithmetic step is
# cross-engine exact: per-language token totals are integers, the weight is
# floor(sqrt(T)) (sqrt is IEEE correctly-rounded, floor of it identical),
# budgets are integer floor-division, and the fill is an integer window
# cumsum in (md5(doc_id), doc_id) order.

MIXTURE_ALPHA_NOTE = "alpha = 0.5 via floor(sqrt(tokens))"
MIXTURE_BUDGET_FRAC = 0.4  # of total corpus tokens

_MIX_TOK_SQL = r"""
  SELECT doc_id, lang,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
  FROM documents
"""


@_register(
    "pipe_mixture_sample",
    f"""
    WITH tok AS ({_MIX_TOK_SQL}),
    lt AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS t FROM tok GROUP BY lang),
    w AS (SELECT lang, CAST(floor(sqrt(t)) AS BIGINT) AS w FROM lt),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sw FROM w),
    budget AS (SELECT CAST(floor({MIXTURE_BUDGET_FRAC} * (SELECT SUM(n_tok) FROM tok)) AS BIGINT) AS b),
    lb AS (SELECT lang, CAST((b * w) // sw AS BIGINT) AS lang_budget FROM w, tot, budget),
    r AS (SELECT doc_id, lang, n_tok,
                 CAST(SUM(n_tok) OVER (PARTITION BY lang
                                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM tok)
    SELECT r.doc_id, r.lang, r.n_tok FROM r JOIN lb ON r.lang = lb.lang
    WHERE r.cum <= lb.lang_budget
    """,
    "Language-mixture sampler: per-language token budgets ~ sqrt(T_l) "
    "(temperature resampling), filled in deterministic md5 order by an "
    "integer window cumsum until the budget. The per-language totals are a "
    "bounded driver-side literal map (#languages rows, same convention as "
    "KNN probe literals) re-joined via broadcast HASH join; the fill is one "
    "shuffle keyed on lang.",
)
def pipe_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tok"),
    )
    # per-language totals: bounded collect (#languages rows) -> budgets
    # computed in exact integer arithmetic driver-side, inlined as a
    # broadcast dimension. Identical math to the oracle's CTEs.
    lt = {r["lang"]: r["t"] for r in tok.groupBy("lang").agg(F.sum("n_tok").alias("t")).collect()}
    total = sum(lt.values())
    weights = {lang: int(math.floor(math.sqrt(t))) for lang, t in lt.items()}
    sw = sum(weights.values())
    b = int(math.floor(MIXTURE_BUDGET_FRAC * total))
    budgets = [(lang, (b * w) // sw) for lang, w in sorted(weights.items())]
    lb = spark.createDataFrame(budgets, "lang string, lang_budget long")

    w = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = tok.withColumn("cum", F.sum("n_tok").over(w))
    return (
        r.join(F.broadcast(lb), "lang")
        .filter(F.col("cum") <= F.col("lang_budget"))
        .select("doc_id", "lang", "n_tok")
    )



@_register(
    "pipe_mixture_drift",
    f"""
    WITH tok AS ({_MIX_TOK_SQL}),
    lt AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS t FROM tok GROUP BY lang),
    w AS (SELECT lang, CAST(floor(sqrt(t)) AS BIGINT) AS w FROM lt),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sw FROM w),
    budget AS (SELECT CAST(floor({MIXTURE_BUDGET_FRAC} * (SELECT SUM(n_tok) FROM tok)) AS BIGINT) AS b),
    lb AS (SELECT lang, CAST((b * w) // sw AS BIGINT) AS lang_budget FROM w, tot, budget),
    r AS (SELECT doc_id, lang, n_tok,
                 CAST(SUM(n_tok) OVER (PARTITION BY lang
                                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM tok),
    sampled AS (
      SELECT r.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(r.n_tok) AS BIGINT) AS got_tokens
      FROM r JOIN lb ON r.lang = lb.lang
      WHERE r.cum <= lb.lang_budget GROUP BY r.lang),
    st AS (SELECT CAST(SUM(got_tokens) AS BIGINT) AS g FROM sampled)
    SELECT s.lang, s.n_docs, s.got_tokens,
           CAST((10000 * w.w) // (SELECT sw FROM tot) AS BIGINT) AS target_bp,
           CAST((10000 * s.got_tokens) // (SELECT g FROM st) AS BIGINT) AS achieved_bp,
           CAST((10000 * s.got_tokens) // (SELECT g FROM st)
                - (10000 * w.w) // (SELECT sw FROM tot) AS BIGINT) AS drift_bp
    FROM sampled s JOIN w ON w.lang = s.lang
    """,
    "Mixture-drift monitor over pipe_mixture_sample's draw: achieved "
    "per-language token share vs the sqrt-temperature target, in bp — the "
    "post-sampling alarm for when whole-document fill granularity (or a "
    "language running out of corpus) bends the mixture away from its "
    "recipe. Bounded #languages output; one agg over the sampler's plan.",
)
def pipe_mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tok"),
    )
    # identical bounded driver arithmetic to pipe_mixture_sample
    lt = {r["lang"]: r["t"] for r in tok.groupBy("lang").agg(F.sum("n_tok").alias("t")).collect()}
    total = sum(lt.values())
    weights = {lang: int(math.floor(math.sqrt(t))) for lang, t in lt.items()}
    sw = sum(weights.values())
    b = int(math.floor(MIXTURE_BUDGET_FRAC * total))
    dim = spark.createDataFrame(
        [(lang, (b * w) // sw, (10000 * w) // sw) for lang, w in sorted(weights.items())],
        "lang string, lang_budget long, target_bp long",
    )

    win = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sampled = (
        tok.withColumn("cum", F.sum("n_tok").over(win))
        .join(F.broadcast(dim), "lang")
        .filter(F.col("cum") <= F.col("lang_budget"))
        .groupBy("lang", "target_bp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("got_tokens"),
        )
    )
    # r21: the grand total g used to be a scoped-cache + collect + driver
    # branch (one extra cache fill and one extra job per run). It is a sum
    # over the ALREADY-AGGREGATED per-language rows — #languages of them,
    # bounded at any corpus scale — so an unbounded-frame window computes it
    # in-plan for free. The empty-draw degenerate case (review finding r12)
    # now falls out structurally: zero sampled rows produce zero output
    # rows, exactly the oracle's empty result, with no g=None branch. A
    # non-empty draw always has g > 0 (every sampled doc has n_tok >= 1),
    # so the integer division is never div-by-zero.
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    achieved = F.expr("(10000 * got_tokens) div g")
    return (
        sampled.withColumn("g", F.sum("got_tokens").over(wall))
        .select(
            "lang",
            "n_docs",
            F.col("got_tokens").cast("long").alias("got_tokens"),
            "target_bp",
            achieved.cast("long").alias("achieved_bp"),
            (achieved - F.col("target_bp")).cast("long").alias("drift_bp"),
        )
    )


# ---------------------------------------------------------------------------
# token-exact sequence packing (fixed-length training sequences)
# ---------------------------------------------------------------------------
# pipe_shard_pack bins whole documents under a token budget; actual
# pretraining packs the token STREAM into fixed-length sequences, splitting
# documents across sequence boundaries. Relationally: a windowed cumsum
# gives each doc its half-open token interval [start, end) inside
# (lang, pack_group); the doc then explodes into one row per overlapped
# sequence floor(start/L)..floor((end-1)/L) with exact in-sequence offsets.
# Pure integer arithmetic end to end; the window partitions on
# (lang, pack_group) so packing stays parallel at 100 TB.

SEQ_LEN = 512


@_register(
    "pipe_sequence_pack",
    rf"""
    WITH tok AS (
      SELECT doc_id, lang, {_PACK_GROUP_SQL} AS pack_group,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
      FROM documents),
    iv AS (
      SELECT doc_id, lang, pack_group, n_tok,
             CAST(SUM(n_tok) OVER (PARTITION BY lang, pack_group ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tok AS BIGINT) AS start,
             CAST(SUM(n_tok) OVER (PARTITION BY lang, pack_group ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fin
      FROM tok)
    SELECT doc_id, lang, pack_group, CAST(s AS BIGINT) AS seq_id,
           CAST(greatest(start, s * {SEQ_LEN}) - s * {SEQ_LEN} AS BIGINT) AS tok_offset,
           CAST(least(fin, (s + 1) * {SEQ_LEN}) - greatest(start, s * {SEQ_LEN}) AS BIGINT) AS n_tok_in_seq
    FROM iv, unnest(generate_series(start // {SEQ_LEN}, (fin - 1) // {SEQ_LEN})) t(s)
    """,
    "Token-exact sequence packing: windowed cumsum assigns each doc the "
    f"token interval [start, end) inside (lang, pack_group); docs explode "
    f"into one row per overlapped {SEQ_LEN}-token training sequence with "
    "exact in-sequence offset and length — the concat-and-chunk layout "
    "pretraining dataloaders consume. Integer arithmetic end to end; one "
    "shuffle (the window partition).",
)
def pipe_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        _pack_group_col().alias("pack_group"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tok"),
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
        "n_tok",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("start"),
        F.sum("n_tok").over(w).alias("fin"),
    )
    L = F.lit(SEQ_LEN)
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


# ---------------------------------------------------------------------------
# canonical-document selection (dedup survivor policy)
# ---------------------------------------------------------------------------
# Clustering tells you WHICH docs are near-dups; a corpus build must then
# pick each cluster's survivor. Policy here: highest quality score, doc_id
# as the tie-break — not "lowest id", which silently prefers crawl order.
# Docs outside any candidate cluster are their own singleton component
# (left join + coalesce).
#
# Round-12 fusion (VERDICT r11 #3). The r10 shape ran a row_number+count
# WINDOW partitioned by component over the WHOLE corpus — but components
# are mostly singletons (component = doc_id), so that window was a full
# corpus shuffle + per-partition SORT keyed on ~n distinct keys, re-paying
# a corpus-sized pass on top of the CC job. Calm-window 10x re-measure
# proved the 6.4x ratio structural. The survivor of a group needs no sort:
# it is max_by(doc_id, (q, -doc_id)) — one HASH aggregate, map-side
# combinable (partial MaxBy per input partition), zero ordering. The plan
# is now: one pruned corpus scan computing (doc_id, q) -> left join with
# the CC labels (whose final materialized generation is already hash-
# partitioned by doc_id, so the comp side re-uses the CC loop's own
# shuffle) -> groupBy(component) hash agg. The post-CC cost drops from
# shuffle+sort(all columns through a window) to shuffle(3 narrow columns)
# +hash-combine — the pipeline a 100 TB corpus build can actually afford
# after clustering. Plan shape (no Window/Sort, HashAggregate on
# component) is pinned by test_pipeline_ops.py.


@_register(
    "pipe_canonical_select",
    rf"""
    WITH RECURSIVE sh0 AS ({_HASHED_SHINGLES5_SQL}),
    keep AS (SELECT h FROM sh0 GROUP BY h HAVING COUNT(*) BETWEEN 2 AND {MAX_SHINGLE5_DF}),
    sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (h)),
    pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_SHARED_EDGE}),
    edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    reach(u, v) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
    scored AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
             ({_QUALITY_Q_SQL}) AS q
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
    ranked AS (
      SELECT component, doc_id, q,
             ROW_NUMBER() OVER (PARTITION BY component ORDER BY q DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY component) AS n_members
      FROM scored)
    SELECT component, doc_id AS survivor_doc_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_members - 1 AS BIGINT) AS n_dropped,
           floor(q * 1000000.0 + 0.5) / 1000000.0 AS best_q
    FROM ranked WHERE rn = 1
    """,
    "Dedup survivor selection: every doc joins its near-dup component "
    "(singletons stay their own), and each component keeps its highest-"
    "quality member (doc_id tie-break) — the keep/drop decision a corpus "
    "build executes after clustering. One component-keyed window; quality "
    "is the same three-term score pipe_corpus_build gates on.",
)
def pipe_canonical_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    comp = connected_components(
        candidate_edges(spark, sf_dir), small_input=_small_corpus(sf_dir)
    )
    scored = (
        docs.join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
            _quality_q().alias("q"),
            _quality_s().alias("s"),
        )
    )
    from doc2vec_spark.functions.rounding import pround

    # survivor = member maximizing (q, -doc_id): max q, ties -> MIN doc_id,
    # matching the oracle's ROW_NUMBER ORDER BY q DESC, doc_id. A struct
    # ordering key would demote max_by to SortAggregate (struct agg
    # buffers are not mutable-width), re-introducing the sort this fusion
    # removes — so the ordering packs into ONE long: q is a sum of the
    # indicator weights {0.4, 0.3, 0.3}, hence EXACTLY monotone with the
    # integer surrogate s = 4a+3b+3c in [0, 10] (equal s <=> equal q:
    # every indicator set with the same s sums to the same double), and
    # key = s*2^52 - doc_id orders by (q desc, doc_id asc) with headroom
    # for any doc_id < 2^52. max_by(long, long) keeps HashAggregate with
    # map-side partial combine. best_q == max(q) == the survivor's q.
    n = F.count(F.lit(1))
    ord_key = F.col("s").cast("long") * F.lit(1 << 52).cast("long") - F.col("doc_id")
    return (
        scored.groupBy("component")
        .agg(
            F.max_by("doc_id", ord_key).alias("survivor_doc_id"),
            n.cast("long").alias("n_members"),
            (n - 1).cast("long").alias("n_dropped"),
            pround(F.max("q"), 6).alias("best_q"),
        )
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity buckets (round 7)
# ---------------------------------------------------------------------------
# CCNet (Wenzek et al., arXiv:1911.00359) partitions each language's crawl
# into head/middle/tail by the tercile of a corpus-LM perplexity — training
# mixes then draw from buckets instead of thresholding documents away. The
# engine's cross-engine-deterministic LM signal is ta_unigram_lm_score
# (lm.py: integer-exact mean in-vocab corpus frequency — monotone in the
# unigram perplexity, so terciles are the SAME documents a ppl sort gives);
# this query assigns per-(lang) NTILE(3) buckets over that score. Shape:
# the LM scoring pass (token-keyed shuffle + broadcast vocab join) plus one
# lang-keyed window — at 100 TB the window partitions by language, the
# natural CCNet granularity, with doc_id the deterministic tiebreak.
# Registered oracle embeds the ta_unigram_lm_score oracle verbatim as a
# CTE, so both layers stay hash-locked to one spec.

from doc2vec_spark.operators.lm import QUERIES as _LM_QUERIES


@_register(
    "pipe_perplexity_buckets",
    f"""
    WITH lm AS ({_LM_QUERIES["ta_unigram_lm_score"].oracle}),
    j AS (
      SELECT lm.doc_id, d.lang, lm.lm_score_ppm
      FROM lm JOIN documents d ON lm.doc_id = d.doc_id
    )
    SELECT doc_id, lang, lm_score_ppm,
           CASE ntile(3) OVER (PARTITION BY lang
                               ORDER BY lm_score_ppm DESC, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM j
    """,
    "CCNet-style head/middle/tail assignment: per-language terciles of the "
    "unigram-LM quality score (monotone in unigram perplexity), NTILE(3) "
    "ordered by score DESC with doc_id tiebreak (arXiv:1911.00359). One "
    "lang-keyed window over the ta_unigram_lm_score pass.",
)
def pipe_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.operators.lm import ta_unigram_lm_score

    lm = ta_unigram_lm_score(spark, sf_dir).select("doc_id", "lm_score_ppm")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    j = lm.join(docs, "doc_id")
    nt = F.ntile(3).over(
        Window.partitionBy("lang").orderBy(F.desc("lm_score_ppm"), F.asc("doc_id"))
    )
    return j.select(
        "doc_id",
        "lang",
        "lm_score_ppm",
        F.when(nt == 1, "head").when(nt == 2, "middle").otherwise("tail").alias("bucket"),
    )
