"""Weighted (probability-proportional-to-size) sampling at corpus scale
(round 12).

``pipe_stratified_sample`` / ``pipe_mixture_sample`` (pipeline.py) draw by
GROUP quota; the third sampling primitive a training-data pipeline needs is
WEIGHTED selection of individual documents — "sample k documents with
probability proportional to length/quality" (mixture construction, eval-set
draws, per-epoch subsampling). The float-free, replay-exact way to do that
at 100 TB is **systematic PPS sampling** (Madow 1949; the classic survey-
statistics estimator): lay every document's integer weight end-to-end along
a deterministically shuffled line, then take one document at every STEP-th
position. Each document is selected floor/ceil(k * w / T) times — exactly
proportional, zero variance in the selection count, and every stage is
integer arithmetic both engines replay bit-identically.

The scale story is the interesting part: the prefix sum. A single global
cumulative window is one partition — the anti-pattern. This implements the
classic **two-level distributed prefix sum**: documents are ordered by
(md5(doc_id), doc_id) — a deterministic shuffle of the line — and BUCKETED
by the md5's first two hex digits (256 buckets), so bucket id is a PREFIX
of the sort key and per-bucket order concatenated in bucket order IS the
global order. Then:

  1. one windowed cumsum per bucket (256-way parallel, each ~1/256 of the
     corpus),
  2. bucket totals -> 256-row driver prefix-scan -> broadcast offsets
     (the waterfill/PQ-LUT bounded-driver-state discipline),
  3. global_cum = bucket_offset + local_cum, map-only.

Selection: doc i with weight w occupying (cum-w, cum] is picked once per
grid point m*STEP in the interval — times = cum // STEP - (cum-w) // STEP.
At 100 TB the same plan holds with more buckets (the offset table stays
KB-sized at 64k buckets).

The oracle runs the textbook single-window formulation — same integers,
different physical plan — which is exactly the point: the distributed
prefix sum is plan-level engineering the hash gate proves semantics-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


SAMPLE_K = 100  # target draw count (grid points)


def systematic_pps(spark: SparkSession, line: DataFrame, k: int) -> DataFrame:
    """The reusable core: ``line`` carries (doc_id, source, w); returns every
    doc drawn >= once with its exact draw count. Two-level distributed
    prefix sum over the md5-shuffled order — see the module docstring."""
    line = line.select(
        "doc_id",
        "source",
        F.col("w"),
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
    ).withColumn(
        # bucket = first two hex digits: a PREFIX of ord_key, so
        # (bucket, ord_key) order == global ord_key order
        "bucket",
        F.conv(F.substring(F.col("ord_key"), 1, 2), 16, 10).cast("long"),
    )

    # level 1: per-bucket cumsum — 256-way parallel windows
    wb = Window.partitionBy("bucket").orderBy("ord_key", "doc_id")
    local = line.withColumn("local_cum", F.sum("w").over(wb))

    # level 2: bucket totals -> bounded (<=256-row) driver prefix scan
    totals = {
        r["bucket"]: r["t"]
        for r in line.groupBy("bucket").agg(F.sum("w").alias("t")).collect()
    }
    offsets: dict[int, int] = {}
    running = 0
    for b in sorted(totals):
        offsets[b] = running
        running += int(totals[b])
    total = running
    # guard the degenerate corpus (total mass < k): step would be 0 and the
    # grid undefined — Spark's `div 0` yields NULL (silently empty sample)
    # while DuckDB's // 0 raises, so the engines would diverge. Clamping to
    # 1 is the correct PPS limit: k >= T means one grid point per unit of
    # mass, i.e. every doc drawn exactly w times (mirrored in the oracle's
    # greatest(total // k, 1)).
    step = max(total // k, 1)

    # offsets rejoin as a BROADCAST join of the bounded offset table (256
    # rows here, KB-sized at 64k buckets). The first cut inlined them as a
    # 256-branch CASE chain — whole-stage codegen compiled the 256-deep
    # expression on every run, dominating wall time on a query whose data
    # work is trivial; the join keeps the plan size constant in the bucket
    # count.
    off_df = spark.createDataFrame(
        [(b, o) for b, o in offsets.items()], "bucket long, bucket_offset long"
    )
    cum = local.join(F.broadcast(off_df), "bucket").select(
        "doc_id",
        "source",
        F.col("w").cast("long").alias("w"),
        (F.col("local_cum") + F.col("bucket_offset")).cast("long").alias("cum"),
    )
    # Spark SQL's `div` is true BIGINT division (never a double), so this
    # stays exact at any corpus size; operands are non-negative so trunc ==
    # floor == the oracle's BIGINT //
    drawn = F.expr(f"(cum div {step}) - ((cum - w) div {step})").cast("long")
    return (
        cum.withColumn("times_drawn", drawn)
        .filter(F.col("times_drawn") > 0)
        .select("doc_id", "source", "w", "times_drawn")
    )



@_register(
    "pipe_pps_systematic_sample",
    f"""
    WITH line AS (
      SELECT doc_id, source, n_chars AS w,
             md5(CAST(doc_id AS VARCHAR)) AS ord_key
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, w,
             CAST(SUM(w) OVER (ORDER BY ord_key, doc_id) AS BIGINT) AS cum
      FROM line
    ),
    t AS (SELECT CAST(SUM(w) AS BIGINT) AS total FROM line),
    s AS (SELECT greatest(total // {SAMPLE_K}, 1) AS step, total FROM t)
    SELECT doc_id, source, CAST(w AS BIGINT) AS w,
           CAST(cum // (SELECT step FROM s)
                - (cum - w) // (SELECT step FROM s) AS BIGINT) AS times_drawn
    FROM cum
    WHERE cum // (SELECT step FROM s) > (cum - w) // (SELECT step FROM s)
    """,
    "Systematic PPS sample, k=100 grid points over n_chars weights on the "
    "md5-shuffled line: every doc drawn floor/ceil(k*w/T) times, integer-"
    "exact. Spark plan is the two-level distributed prefix sum (256 md5 "
    "buckets -> per-bucket window cumsum -> broadcast bucket offsets); the "
    "oracle is the single-window textbook form — same integers.",
)
def pipe_pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    line = docs.select("doc_id", "source", F.col("n_chars").alias("w"))
    return systematic_pps(spark, line, SAMPLE_K)
