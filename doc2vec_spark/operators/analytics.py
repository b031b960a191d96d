"""Headline analytical queries: TPC-H-style joins/aggs (bench workload) and
the T1 vector-KNN core operator (SURVEY 2.6, reference mcp/src/server.ts:448-476).

These are the queries bench.py times at sf0.1; each is written so the
physical plan is the one we'd want at 100 TB: filters reach the parquet scan,
dims broadcast, top-k compiles to TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from doc2vec_spark.functions.vectors import as_double_array, cosine_distance_lit
from doc2vec_spark.functions.rounding import det_avg, pround, sql_det_avg
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


@_register(
    "tpch_q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           floor((SUM(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
           floor((SUM(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS sum_base_price,
           floor((SUM(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
           floor((SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100.0 + 0.5) / 100.0 AS sum_charge,
           {sql_det_avg('SUM(l_quantity)', 'COUNT(*)')} AS avg_qty,
           {sql_det_avg('SUM(l_extendedprice)', 'COUNT(*)')} AS avg_price,
           {sql_det_avg('SUM(l_discount)', 'COUNT(*)')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1 pricing summary — scan-heavy agg; exercises partial aggregation",
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        pround(F.sum("l_quantity"), 2).alias("sum_qty"),
        pround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        pround(F.sum(disc_price), 2).alias("sum_disc_price"),
        pround(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        det_avg(F.sum("l_quantity"), F.count(F.lit(1))).alias("avg_qty"),
        det_avg(F.sum("l_extendedprice"), F.count(F.lit(1))).alias("avg_price"),
        det_avg(F.sum("l_discount"), F.count(F.lit(1))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@_register(
    "tpch_q3_revenue_topk",
    """
    SELECT l_orderkey, revenue, order_day FROM (
      SELECT l_orderkey,
             floor((SUM(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue,
             strftime(o_orderdate, '%Y-%m-%d') AS order_day
      FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY l_orderkey, o_orderdate
    ) ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    "TPC-H Q3 shipping priority — 3-way join + grouped top-k "
    "(revenue rounded to cents before ranking for cross-engine determinism)",
)
def tpch_q3_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        )
    )


@_register(
    "tpch_q5_regional_revenue",
    """
    SELECT n_name, floor((SUM(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    "TPC-H Q5 local-supplier revenue — 6-way join; dims broadcast, facts shuffle once",
)
def tpch_q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@_register(
    "tpch_q6_forecast_revenue",
    """
    SELECT floor((SUM(l_extendedprice * l_discount)) * 100.0 + 0.5) / 100.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
    "TPC-H Q6 forecasting revenue — pure scan+filter+agg; every predicate "
    "reaches the parquet scan, zero shuffles past the partial agg",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        pround(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue")
    )


@_register(
    "tpch_q18_large_orders",
    """
    SELECT c_custkey, o_orderkey, total_qty FROM (
      SELECT o_custkey AS c_custkey, l_orderkey AS o_orderkey,
             floor((SUM(l_quantity)) * 100.0 + 0.5) / 100.0 AS total_qty
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_custkey, l_orderkey
      HAVING SUM(l_quantity) > 150
    ) ORDER BY total_qty DESC, o_orderkey LIMIT 20
    """,
    "TPC-H Q18-style large-volume orders — join + grouped HAVING + top-k "
    "(TakeOrderedAndProject over the filtered aggregate)",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("c_custkey"), F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.sum("l_quantity").alias("qty_raw"))
        .filter(F.col("qty_raw") > 150)
    )
    return (
        agg.select("c_custkey", "o_orderkey", pround(F.col("qty_raw"), 2).alias("total_qty"))
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# T1 — vector KNN (the reference's core query operator)
# ---------------------------------------------------------------------------

_KNN_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
d AS (
  SELECT vec_id, label,
         1 - list_dot_product(e, qe) / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))) AS dist
  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings), q
)
SELECT vec_id, label, rnk, floor((dist) * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS distance FROM (
  SELECT vec_id, label, dist, ROW_NUMBER() OVER (ORDER BY dist, vec_id) AS rnk FROM d
) WHERE rnk <= 10
"""


@_register(
    "t1_knn_cosine_topk",
    _KNN_SQL,
    "T1 top-k cosine KNN (mcp/src/server.ts:448-476): native zip_with/aggregate "
    "dot product -> TakeOrderedAndProject; no UDF, no full sort",
)
def t1_knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:  # no query row: oracle's q CTE is empty -> 0 rows
        return spark.createDataFrame(
            [], "vec_id long, label int, rnk int, distance double"
        )
    qvec = qrow["embedding"]
    e = as_double_array(F.col("embedding"))
    scored = emb.select(
        "vec_id",
        "label",
        cosine_distance_lit(e, qvec).alias("dist"),
    )
    # orderBy+limit compiles to TakeOrderedAndProject (distributed top-k,
    # no global sort); the rank window then runs over k rows, not the corpus
    topk = scored.orderBy(F.asc("dist"), F.asc("vec_id")).limit(10)
    w = Window.orderBy(F.asc("dist"), F.asc("vec_id"))
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        "vec_id", "label", "rnk", (pround(F.col("dist"), 6) + 0.0).alias("distance")
    )


@_register(
    "t1_knn_filtered",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    d AS (
      SELECT vec_id, label,
             1 - list_dot_product(e, qe) / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))) AS dist
      FROM (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings WHERE label IN (2, 3)), q
    )
    SELECT vec_id, label, rnk, floor((dist) * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS distance FROM (
      SELECT vec_id, label, dist, ROW_NUMBER() OVER (ORDER BY dist, vec_id) AS rnk FROM d
    ) WHERE rnk <= 5
    """,
    "T1+P1: metadata-filtered KNN — the filter is pushed below the distance "
    "computation (the reference pushes it into the vec0 WHERE / Qdrant must-clause)",
)
def t1_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:  # no query row: oracle's q CTE is empty -> 0 rows
        return spark.createDataFrame(
            [], "vec_id long, label int, rnk int, distance double"
        )
    qvec = qrow["embedding"]
    e = as_double_array(F.col("embedding"))
    scored = (
        emb.filter(F.col("label").isin(2, 3))
        .select("vec_id", "label", cosine_distance_lit(e, qvec).alias("dist"))
    )
    topk = scored.orderBy(F.asc("dist"), F.asc("vec_id")).limit(5)
    w = Window.orderBy(F.asc("dist"), F.asc("vec_id"))
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        "vec_id", "label", "rnk", (pround(F.col("dist"), 6) + 0.0).alias("distance")
    )
