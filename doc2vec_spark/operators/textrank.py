"""TextRank keyword extraction — integer-exact PageRank (round 8).

TextRank (Mihalcea & Tarau 2004) ranks tokens by PageRank over the
token-adjacency co-occurrence graph; it is the classic unsupervised
keyword/keyphrase scorer a corpus-curation pipeline runs to build domain
vocabularies and per-source topic profiles. This implementation makes the
iteration *hash-checkable*: ranks are 64-bit integers at a fixed scale and
every damping/contribution step uses integer division only, so Spark and
the DuckDB oracle replay bit-identical arithmetic (the same discipline as
the unigram-LM ppm scores and the sketch family — no floats cross the
driver's value-hash gate).

Graph: undirected adjacency — for consecutive tokens (a, b) in a document
(a != b), edges a->b and b->a with corpus-wide co-occurrence counts as
weights. Rank update per iteration, SCALE = 1e6:

    contrib(u->v) = (rank_u * w_uv) div out_w_u        -- exact int div
    rank'_v       = 150000 + (85 * SUM_u contrib) div 100

i.e. the standard damped weighted PageRank with d = 0.85, fixed-point.
K = 4 iterations, unrolled in both engines (the oracle chains one CTE per
iteration — deterministic without recursive-CTE aggregation, which ANSI
disallows in the recursive term).

100 TB story: the edge list is built by ONE map-side pair emit + groupBy
(token positions never shuffle individually — pairs come from zip_with over
the already-split array), and each PageRank iteration is one
broadcast-or-shuffle hash join (edges ⋈ ranks on src, |ranks| = |vocab| <<
|corpus|) plus one groupBy(dst). K is fixed, so the whole computation is
K + 1 shuffles over VOCABULARY-sized state — corpus size only enters the
one-off edge aggregation. Rank state is two longs per vocab entry.

Reference anchor: the reference has no graph analytics; this belongs to the
build brief's text-analysis tier (ta_* family) alongside tf-idf / PMI
collocations (quality.py), which share the same corpus-statistics shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.caching import scoped_cache
from doc2vec_spark.session import scoped_conf
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


PR_SCALE = 1_000_000  # fixed-point rank scale
PR_ITERS = 4  # unrolled in both engines
PR_TOP_K = 20
# static-loop shuffle sizing: edges per reduce partition (the CC loops'
# STAR_EDGES_PER_PARTITION idiom, restated so this module's spec closure
# stays independent of pipeline.py)
_EDGES_PER_PARTITION = 4096
# below this many (symmetrized, weighted) edges the per-iteration broadcast
# hint costs more in build jobs than re-shuffling the cached edge state
_BROADCAST_ROUTE_EDGES = 1 << 17


def _textrank_oracle() -> str:
    steps = []
    for i in range(1, PR_ITERS + 1):
        steps.append(
            f"""pr{i} AS (
  SELECT e.dst AS tok,
         CAST(150000 + (85 * SUM((p.rank * e.w) // o.out_w)) // 100
              AS BIGINT) AS rank
  FROM pr{i - 1} p
  JOIN edges e ON e.src = p.tok
  JOIN outw o ON o.src = e.src
  GROUP BY e.dst
)"""
        )
    chained = ",\n".join(steps)
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1)
           AS pos
  FROM documents
),
pairs AS (
  SELECT a.tok AS src, b.tok AS dst
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 AND a.tok <> b.tok
),
edges AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM (SELECT src, dst FROM pairs
        UNION ALL
        SELECT dst AS src, src AS dst FROM pairs)
  GROUP BY src, dst
),
outw AS (
  SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src
),
pr0 AS (
  SELECT src AS tok, CAST({PR_SCALE} AS BIGINT) AS rank
  FROM (SELECT DISTINCT src FROM edges)
),
{chained}
SELECT tok, rank
FROM pr{PR_ITERS}
ORDER BY rank DESC, tok
LIMIT {PR_TOP_K}
"""


@_register(
    "ta_textrank",
    _textrank_oracle(),
    "TextRank keyword extraction (Mihalcea & Tarau 2004): damped weighted "
    f"PageRank (d=0.85, {PR_ITERS} unrolled iterations) over the undirected "
    "token-adjacency graph, in fixed-point 64-bit integer arithmetic "
    "(SCALE=1e6, integer division only) so every iteration is bit-identical "
    "in both engines. Edge build is one map-side zip_with pair emit + "
    "groupBy; each iteration is one vocabulary-sized join + groupBy — "
    "corpus size only enters the one-off edge aggregation. Returns the "
    f"top-{PR_TOP_K} tokens by final rank.",
)
def ta_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        F.split(F.trim("text"), r"\s+").alias("toks")
    )
    # map-only adjacent-pair emit: zip the token array against itself
    # shifted by one — individual token positions never shuffle
    pairs = (
        docs.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("toks"), 1, F.greatest(F.size("toks") - 1, F.lit(0))),
                    F.slice(
                        F.col("toks"),
                        2,
                        F.greatest(F.size("toks") - 1, F.lit(0)),
                    ),
                    lambda a, b: F.struct(a.alias("src"), b.alias("dst")),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    # both orientations in ONE pass (r21 — pipeline._symmetrize's r7
    # discipline, which this module predates): the unionByName form
    # duplicated the whole pairs subtree, scanning + splitting + zipping
    # the corpus twice
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = sym.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
    outw = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    # static per-edge state reused by every iteration: one small (vocab^2
    # bounded) DataFrame, invocation-scoped cache for the K joins
    estate = scoped_cache(edges.join(outw, "src"))
    # r21 (the CC-loop treatment, guide §1.2/§7): the K iterations are
    # vocabulary-sized label state — with AQE on, every exchange of every
    # broadcast-build subtree became its own scheduler job (measured: 18
    # exec jobs, ~1.7 s of which is per-job floor at sf0.1, with nothing
    # for AQE to re-plan). The edge build keeps the caller's AQE (the one
    # corpus-sized stage; its cache fill materializes here), then the
    # iterations run under a static plan with shuffle partitions sized to
    # the MEASURED edge count, and the bounded top-k materializes inside
    # the invocation scope so the static conf actually covers execution.
    # The conf is restored unconditionally (the ADVICE r9 scoping rule).
    spark = estate.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_conf(
        spark,
        "spark.sql.adaptive.enabled",
        "spark.sql.shuffle.partitions",
        "spark.sql.autoBroadcastJoinThreshold",
    ):
        from doc2vec_spark.measurement import small_corpus

        if small_corpus(sf_dir):
            # r18/CC idiom: a measured-small corpus statically plans the
            # edge build too — its exchanges are tiny, and each AQE
            # materialization job is pure scheduler floor (measured here:
            # 6 jobs / 0.93 s for a 930-edge graph). Unmeasurable or large
            # corpora keep AQE's skew handling over the one corpus-sized
            # stage.
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        n_edges = estate.count()  # fills the cache
        # ADVICE r21 #3: the static-plan scope (AQE off + measured shuffle
        # sizing) is justified only for the MEASURED-small edge sets below
        # the broadcast route's cutoff — on the large-graph route the
        # vocab-keyed groupBy(dst) shuffles at scale keep AQE's skew
        # handling and post-shuffle coalescing.
        use_broadcast = int(n_edges) > _BROADCAST_ROUTE_EDGES
        if not use_broadcast:
            parts = max(
                1, min(int(prev_parts), int(n_edges) // _EDGES_PER_PARTITION + 1)
            )
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        elif small_corpus(sf_dir):
            # the r18 edge-build static scope was keyed on corpus size; a
            # small corpus with an (atypical) over-cutoff edge set still
            # restores AQE for the broadcast-route iterations
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        ranks = (
            estate.select("src")
            .distinct()
            .select(
                F.col("src").alias("tok"), F.lit(PR_SCALE).cast("long").alias("rank")
            )
        )
        # size route (r21): each F.broadcast(ranks) build is its own
        # scheduler job — 4 of them per invocation. On a MEASURED-small
        # edge set, re-shuffling the cached edge state per iteration is
        # cheaper than 4 broadcast-build jobs, and with AQE off the whole
        # K-iteration chain plans as ONE static job. A large graph keeps
        # the broadcast hint: rank state is vocabulary-sized while the
        # edge state is corpus-shaped, and shuffling edges K times is the
        # thing the hint exists to avoid.
        if not use_broadcast:
            # the planner's statistics would still pick an auto-broadcast
            # for the vocabulary-sized rank state (one build JOB per
            # iteration — the cost this route exists to avoid); force the
            # chain to plan as shuffle joins inside the single static job
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for _ in range(PR_ITERS):
            rstate = F.broadcast(ranks) if use_broadcast else ranks
            ranks = (
                estate.join(rstate, estate["src"] == rstate["tok"])
                .select(
                    F.col("dst"),
                    F.expr("(rank * w) div out_w").alias("contrib"),
                )
                .groupBy("dst")
                .agg(
                    (
                        F.lit(150000).cast("long")
                        + F.expr("(85 * sum(contrib)) div 100")
                    ).alias("rank")
                )
                .select(F.col("dst").alias("tok"), "rank")
            )
        out = scoped_cache(ranks.orderBy(F.desc("rank"), "tok").limit(PR_TOP_K))
        out.count()  # materialize the bounded result under the static plan
    return out
