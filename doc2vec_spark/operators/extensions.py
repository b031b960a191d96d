"""Engine extensions beyond the reference's surface (SURVEY 2.5 note):
multi-dimensional aggregates (rollup / cube / grouping sets) and approximate
distinct counting — all built-in Catalyst operators, registered here so the
coverage inventory exercises them against the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.functions.rounding import pround
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


@_register(
    "ext_rollup_daily",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS n,
           floor((SUM(value)) * 100.0 + 0.5) / 100.0 AS total_value
    FROM events GROUP BY ROLLUP (1, 2)
    """,
    "ROLLUP aggregation: per-(day,type), per-day and grand totals in one pass "
    "(partial-agg friendly; one shuffle)",
)
def ext_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.rollup(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.sum("value"), 2).alias("total_value"),
    )


@_register(
    "ext_cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           floor((SUM(o_totalprice)) * 100.0 + 0.5) / 100.0 AS total_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "CUBE aggregation over orders: all 4 grouping combinations in one shuffle",
)
def ext_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@_register(
    "ext_grouping_sets",
    """
    SELECT lang, source, COUNT(*) AS n FROM documents
    GROUP BY GROUPING SETS ((lang), (source), ())
    """,
    "GROUPING SETS: per-lang, per-source and grand totals without a self-union",
)
def ext_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents_gs")
    return spark.sql(
        "SELECT lang, source, COUNT(*) AS n FROM documents_gs "
        "GROUP BY GROUPING SETS ((lang), (source), ())"
    )


@_register(
    "ext_salted_agg",
    """
    SELECT event_type, SUM(n)::BIGINT AS n,
           floor((SUM(total)) * 100.0 + 0.5) / 100.0 AS total_value
    FROM (
      SELECT event_type, event_id % 8 AS salt, COUNT(*) AS n, SUM(value) AS total
      FROM events GROUP BY 1, 2
    ) GROUP BY event_type
    """,
    "Two-stage salted aggregation: the skew pattern for hot keys at 100 TB — "
    "partial agg on (key, salt) spreads a hot key over 8 reducers, final agg "
    "combines. Same result as a direct groupBy (the oracle states exactly that).",
)
def ext_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", F.col("event_id") % 8)
        .groupBy("event_type", "salt")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
    )
    return partial.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n"),
        pround(F.sum("total"), 2).alias("total_value"),
    )


@_register(
    "ext_running_totals",
    """
    SELECT event_id, user_id,
           floor((SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING)) * 100.0 + 0.5) / 100.0
             AS running_value
    FROM events
    """,
    "Running per-user totals (window prefix sums; DuckDB evaluates windowed "
    "sums with a segment tree, so only the fixed-point-rounded value is "
    "engine-portable — cents inputs make round-2 boundary-safe)",
)
def ext_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = F.sum("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        pround(running, 2).alias("running_value"),
    )


@_register(
    "ext_topn_per_group",
    """
    SELECT o_custkey, o_orderkey, floor((o_totalprice) * 100.0 + 0.5) / 100.0 AS total_price
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    "Top-N per group (row_number window): the grouped-top-k workhorse",
)
def ext_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", pround(F.col("o_totalprice"), 2).alias("total_price"))
    )


@_register(
    "ext_percentiles",
    """
    SELECT event_type,
           floor((quantile_cont(value, 0.5)) * 1000000.0 + 0.5) / 1000000.0 AS p50,
           floor((quantile_cont(value, 0.95)) * 1000000.0 + 0.5) / 1000000.0 AS p95
    FROM events GROUP BY event_type
    """,
    "Exact interpolated percentiles per group (Spark percentile == DuckDB "
    "quantile_cont: same sort + linear interpolation)",
)
def ext_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        pround(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        pround(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
    )


# Sketch values are engine-specific (Spark HLL++ / GK vs DuckDB's sketches),
# so the raw estimates can never hash-match an oracle. What IS
# cross-engine-checkable is the ACCURACY CONTRACT: the queries below emit
# the exact aggregate (identical on both engines) plus a boolean asserting
# the sketch landed within its documented error bound. The oracle computes
# the same exact aggregate and a literal TRUE — the hash matches iff
# Spark's sketch actually met the contract (VERDICT r03 #4b/c). Sketches are
# deterministic for fixed input, so the booleans are stable, not flaky.


@_register(
    "ext_approx_count_distinct",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
    "approx_count_distinct (HyperLogLog++, rsd 1%): constant-memory distinct "
    "counts — at 100 TB the only viable distinct-user metric. Emits the "
    "exact count plus |approx-exact|/exact <= 5% (5 sigma of the configured "
    "rsd), hash-checked against an oracle asserting the same bound",
)
def ext_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact"),
        (
            F.abs(
                F.approx_count_distinct("user_id", 0.01).cast("double")
                - F.count_distinct("user_id").cast("double")
            )
            <= 0.05 * F.count_distinct("user_id").cast("double")
        ).alias("approx_within_5pct"),
    )


@_register(
    "ext_approx_quantile",
    """
    SELECT event_type,
           floor((quantile_cont(value, 0.5)) * 1000000.0 + 0.5) / 1000000.0 AS p50_exact,
           floor((quantile_cont(value, 0.95)) * 1000000.0 + 0.5) / 1000000.0 AS p95_exact,
           TRUE AS ap50_within_rank_2pct,
           TRUE AS ap95_within_rank_2pct
    FROM events GROUP BY event_type
    """,
    "approx_percentile (GK sketch, accuracy 100 => 1% rank error): mergeable "
    "constant-memory quantiles — the scale path where exact percentile would "
    "sort each group. Emits the exact interpolated percentiles plus booleans "
    "asserting each approx value lies between the exact quantiles at "
    "q +/- 2% rank, hash-checked against an oracle asserting the same bound",
)
def ext_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")

    def within(q: float) -> Column:
        ap = F.approx_percentile("value", F.lit(q), F.lit(100))
        lo = F.percentile("value", F.lit(q - 0.02))
        hi = F.percentile("value", F.lit(q + 0.02))
        return (ap >= lo) & (ap <= hi)

    return ev.groupBy("event_type").agg(
        pround(F.percentile("value", F.lit(0.5)), 6).alias("p50_exact"),
        pround(F.percentile("value", F.lit(0.95)), 6).alias("p95_exact"),
        within(0.5).alias("ap50_within_rank_2pct"),
        within(0.95).alias("ap95_within_rank_2pct"),
    )


# ---------------------------------------------------------------------------
# explicit key-salting for skewed shuffle joins (round 7)
# ---------------------------------------------------------------------------
# AQE's skew-join splitter handles skew it can SEE (oversized sort-merge
# partitions at runtime); the structural remedy when a handful of hot keys
# dominate a fact table — the "null key / celebrity user" shape every
# 100 TB fact join eventually hits — is salting: fact keys get a
# deterministic salt in [0, SALT_R), the dim side is exploded across all R
# salts, and the join key becomes (key, salt), spreading each hot key over
# R tasks. Results are IDENTICAL to the unsalted join (the oracle is the
# plain join), which is exactly what makes the pattern safe to apply
# mechanically. The merge-join hint forces the sort-merge path so the
# salted shuffle is structurally exercised (a broadcast would hide it at
# this SF; at the target scale both sides are too big to broadcast).

SALT_R = 8


@_register(
    "ext_salted_skew_join",
    """
    SELECT c.c_mktsegment, COUNT(*) AS n_orders,
           floor((SUM(o.o_totalprice)) * 100.0 + 0.5) / 100.0 AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    "Skew-resistant fact-dim join via explicit key salting: fact rows carry "
    "salt = xxhash64(row id) mod {r}, the dim side is exploded across all "
    "{r} salts, and the sort-merge join runs on (key, salt) — each hot key "
    "spreads over {r} tasks. Aggregated output is hash-checked against the "
    "PLAIN unsalted join, proving salting is result-invariant.".format(r=SALT_R),
)
def ext_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    fact = orders.select(
        "o_custkey",
        "o_totalprice",
        F.pmod(F.xxhash64("o_orderkey"), F.lit(SALT_R)).cast("int").alias("salt"),
    )
    dim = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.array(*[F.lit(i) for i in range(SALT_R)])).alias("salt"),
    )
    joined = fact.hint("merge").join(
        dim,
        (F.col("o_custkey") == F.col("c_custkey")) & (fact["salt"] == dim["salt"]),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        pround(F.sum("o_totalprice"), 2).alias("total_price"),
    )
