"""Line-level exact deduplication with document reconstruction (round 8).

The C4 / "Deduplicating Training Data Makes Language Models Better"
(Lee et al. 2021, arXiv:2107.06499) curation step the registry was missing:
the dedup family so far decides at DOCUMENT granularity (exact, MinHash,
SimHash, SemDeDup, containment) or REPORTS shared spans
(``dedup_common_spans``); this operator *removes* repeated text and emits
the cleaned corpus. Every document is tiled into fixed-width token "lines",
each line's first occurrence in global (doc_id, line_idx) order is kept,
all later occurrences anywhere in the corpus are dropped, and the surviving
lines are stitched back into a cleaned document.

The fixture corpus has planted duplicated spans (the same generator signal
``dedup_common_spans`` detects), so removal is exercised with real hits.

100 TB story: exactly two shuffles —
  1. the keep/drop decision is ONE window (`row_number` partitioned by the
     line's sha2-256, ordered by (doc_id, line_idx)); partitioning by the
     256-bit content hash rather than the raw line keeps shuffle keys fixed
     width and uniformly distributed no matter how long lines get;
  2. reconstruction is ONE groupBy(doc_id) with an array-sort concat.
Line tiling itself is map-only (array slice arithmetic on the already-split
token array — no posexplode shuffle). Nothing is quadratic, nothing is
collected; skew is bounded because a pathologically frequent line (boiler-
plate at web scale) lands on one reducer only for a first-occurrence argmin,
which AQE skew-split handles — the payload per key is (doc_id, line_idx),
not document text.

Reference anchor: the reference dedups at chunk granularity via
content-hash ids (utils.ts:6-8, doc2vec.ts:1936-1955); this extends the
same content-addressed idea below document level, per the build brief's
training-data-pipeline tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


LINE_W = 10  # tokens per "line" tile — the dedup granularity


_LINE_LEVEL_ORACLE = f"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
docs AS (
  SELECT doc_id, toks,
         CAST(ceil(len(toks) / {LINE_W}.0) AS BIGINT) AS n_lines
  FROM base WHERE len(toks) > 0
),
lines AS (
  SELECT doc_id, i AS line_idx,
         array_to_string(toks[i * {LINE_W} + 1 : (i + 1) * {LINE_W}], ' ')
           AS line
  FROM docs, unnest(generate_series(0, n_lines - 1)) t(i)
),
kept AS (
  SELECT doc_id, line_idx, line,
         row_number() OVER (
           PARTITION BY line ORDER BY doc_id, line_idx) AS rn
  FROM lines
),
rebuilt AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS kept_lines,
         string_agg(line, ' ' ORDER BY line_idx) AS cleaned_text
  FROM kept WHERE rn = 1 GROUP BY doc_id
)
SELECT d.doc_id,
       d.n_lines,
       COALESCE(r.kept_lines, 0) AS kept_lines,
       d.n_lines - COALESCE(r.kept_lines, 0) AS removed_lines,
       COALESCE(r.cleaned_text, '') AS cleaned_text
FROM docs d LEFT JOIN rebuilt r USING (doc_id)
ORDER BY d.doc_id
"""


@_register(
    "dedup_line_level",
    _LINE_LEVEL_ORACLE,
    "C4-style line-level exact dedup (Lee et al. 2021): tile every document "
    f"into {LINE_W}-token lines (map-only array-slice arithmetic), keep each "
    "distinct line's first occurrence in global (doc_id, line_idx) order "
    "(ONE row_number window partitioned by the line's sha2-256 — fixed-width "
    "uniformly-distributed shuffle keys), drop every later occurrence "
    "corpus-wide, and reconstruct the cleaned document (ONE groupBy with "
    "array_sort concat). Emits per-doc line counts, removed-line counts and "
    "the full cleaned text, all hash-checked.",
)
def dedup_line_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.trim("text"), r"\s+").alias("toks"))
        .filter(F.size("toks") > 0)
        .withColumn(
            "n_lines",
            F.ceil(F.size("toks") / F.lit(float(LINE_W))).cast("long"),
        )
    )
    # map-only tiling: explode a 0..n_lines-1 index and slice the token
    # array — no posexplode of individual tokens, no shuffle
    lines = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_lines") - 1)).alias(
            "line_idx"
        ),
        F.col("toks"),
    ).select(
        "doc_id",
        "line_idx",
        F.array_join(
            F.slice(
                F.col("toks"),
                (F.col("line_idx") * LINE_W + 1).cast("int"),
                LINE_W,
            ),
            " ",
        ).alias("line"),
    )
    # shuffle 1: first-occurrence keep, partitioned by the content hash so
    # shuffle keys stay fixed-width at any line length (sha2 is injective in
    # practice; the tie-break order is the line's global position)
    first = Window.partitionBy(F.sha2(F.col("line"), 256)).orderBy(
        "doc_id", "line_idx"
    )
    kept = (
        lines.withColumn("rn", F.row_number().over(first))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # shuffle 2: rebuild each cleaned document in line order
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_lines"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_idx", "line"))),
                lambda s: s["line"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return (
        docs.select("doc_id", "n_lines")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("kept_lines", F.lit(0)).alias("kept_lines"),
            (F.col("n_lines") - F.coalesce("kept_lines", F.lit(0))).alias(
                "removed_lines"
            ),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )
