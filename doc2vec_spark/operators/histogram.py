"""Equi-width histogram over a numeric measure (round 12).

The distribution primitives so far are quantile-shaped (ext_percentiles,
ext_approx_quantile, pipe_perplexity_buckets' NTILE terciles); the
remaining classic is the fixed-bucket EQUI-WIDTH histogram — the shape
an optimizer's column statistics, a monitoring dashboard, or a
data-quality profile actually stores, because the bucket function is a
pure map (no per-row rank/sort) and the state is HIST_BUCKETS counters:
map-side combinable, mergeable across partitions and days.

Integer-exact bucketing (the repo-wide log/float-free rule): `value`
carries two decimals, so cents = floor(value*100 + 0.5) is an exact
integer in both engines; bucket = ((cents - min) * B) div (max - min + 1)
is pure BIGINT arithmetic landing every row in [0, B-1] with identical
edges everywhere. Bounds enter as bounded 1-row scalars (the lm.py /
ann_ivf_search precedent).

100 TB shape: one bounds aggregation + ONE map-only bucket projection +
one (event_type, bucket)-keyed count shuffle, all map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


HIST_BUCKETS = 16

_CENTS_SQL = "CAST(floor(value * 100.0 + 0.5) AS BIGINT)"


@_register(
    "ev_value_histogram",
    f"""
    WITH c AS (SELECT event_type, {_CENTS_SQL} AS cents FROM events),
    b AS (SELECT CAST(MIN(cents) AS BIGINT) AS lo,
                 CAST(MAX(cents) AS BIGINT) AS hi FROM c)
    SELECT event_type,
           CAST(((cents - (SELECT lo FROM b)) * {HIST_BUCKETS})
                // ((SELECT hi FROM b) - (SELECT lo FROM b) + 1) AS BIGINT)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM c GROUP BY 1, 2
    """,
    f"Equi-width {HIST_BUCKETS}-bucket histogram of the event value per "
    "event_type — the optimizer-statistics / monitoring distribution "
    "shape. Integer-exact: values fixed-pointed to cents, bucket = "
    "((cents-min)*B) div (max-min+1), bounds as bounded 1-row scalars. "
    "One map-only bucket projection + one map-side-combinable "
    "(type, bucket) count shuffle.",
)
def ev_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    c = events.select(
        "event_type",
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
    )
    b = c.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi")).collect()[0]
    if b["lo"] is None:
        # empty events table: the oracle's GROUP BY yields zero rows; mirror
        # it with an empty frame in the output schema (pipe_mixture_drift
        # precedent, ADVICE r12)
        return spark.createDataFrame(
            [], "event_type string, bucket long, n long, sum_cents long"
        )
    lo, hi = int(b["lo"]), int(b["hi"])
    bucket = F.expr(f"((cents - {lo}) * {HIST_BUCKETS}) div ({hi} - {lo} + 1)")
    return (
        c.select("event_type", bucket.cast("long").alias("bucket"), "cents")
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
    )
