"""Windowed top-k ("trending") analytics over the events stream (round 8).

The streaming tier (operators/windows.py + streaming/windows.py) covers
tumbling/sliding/session windows, watermark dedup and the interval join;
this module adds the remaining classic streaming-analytics composite:
per-window top-k ranking — "what's trending right now" — the shape every
monitoring/curation dashboard runs over an event firehose (top event types,
top domains being crawled, top error modules per window).

Batch-expressible exactly like the rest of the stream_* family: F.window
groupBy + a rank window function, which is also what makes it DuckDB
oracle-checkable. In Structured Streaming the same plan runs as a windowed
aggregation in update mode with the rank applied by the sink (per-window
rank needs the window closed — a watermark-delayed emission), which is why
the batch twin is the semantics oracle.

100 TB story: ONE shuffle on (window, event_type) with map-side partial
counts, then a per-window rank whose partitions are window-sized (bounded
by the type cardinality, not the event count). No global sort; the final
orderBy exists only for deterministic driver hashing of top-k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


_TUMBLE_US = 6 * 3600 * 1_000_000  # 6 hours, matching stream_tumbling_window
TOP_K_PER_WINDOW = 3


@_register(
    "stream_windowed_topk",
    f"""
    WITH counted AS (
      SELECT make_timestamp((epoch_us(ts) // {_TUMBLE_US}) * {_TUMBLE_US})
               AS wstart,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT wstart, event_type, n,
             CAST(row_number() OVER (
               PARTITION BY wstart ORDER BY n DESC, event_type) AS BIGINT)
               AS rnk
      FROM counted
    )
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, n, rnk
    FROM ranked WHERE rnk <= {TOP_K_PER_WINDOW}
    ORDER BY window_start, rnk
    """,
    "Per-window top-k 'trending' ranking: 6h tumbling windows, top-"
    f"{TOP_K_PER_WINDOW} event types per window by count (ties broken by "
    "type for engine-exact order). One (window, type) shuffle with "
    "map-side partial counts, then a per-window rank over type-cardinality-"
    "bounded partitions — the batch twin of a watermark-delayed streaming "
    "top-k emission.",
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    counted = ev.groupBy(F.window("ts", "6 hours"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    rnk = F.row_number().over(
        Window.partitionBy("window").orderBy(F.desc("n"), F.asc("event_type"))
    )
    return (
        counted.withColumn("rnk", rnk.cast("long"))
        .filter(F.col("rnk") <= TOP_K_PER_WINDOW)
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "rnk",
        )
        .orderBy("window_start", "rnk")
    )


# ---------------------------------------------------------------------------
# Windowed distinct-user HLL — the streaming-mergeable sketch (round 8)
# ---------------------------------------------------------------------------
# The reason production pipelines carry HLL instead of exact distinct: the
# register build is an ALGEBRAIC aggregation (register-wise MAX), so it
# composes with windowed streaming groupBy — per-window distinct-user
# estimates over an unbounded event stream with 16 small integers of state
# per window, where exact COUNT(DISTINCT) would hold every user id in
# state. This operator is that composition: per 6h window, HLL registers
# over user_id (same md5/40-bit scheme as sk_hll_distinct) finalized to a
# pure-integer estimate next to the exact count as oracle ground truth.
# streaming/windows.py::hll_users_stream runs the SAME register aggregation
# under withWatermark in Structured Streaming; the parity test pins the
# drained stream to this batch twin row-for-row.

_HLL_M = 16
_HLL_BITS = 40
_HLL_W_BITS = _HLL_BITS - 4


@_register(
    "stream_hll_users",
    f"""
    WITH hashed AS (
      SELECT make_timestamp((epoch_us(ts) // {_TUMBLE_US}) * {_TUMBLE_US})
               AS wstart,
             user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10))::BIGINT
               AS h
      FROM events
    ),
    rho AS (
      SELECT wstart, h % {_HLL_M} AS reg,
             CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_W_BITS + 1}
                  ELSE position('1' IN lpad(bin(h // {_HLL_M}),
                                            {_HLL_W_BITS}, '0'))
             END AS r
      FROM hashed
    ),
    regs AS (
      SELECT wstart, reg, CAST(MAX(r) AS BIGINT) AS r_max
      FROM rho GROUP BY wstart, reg
    ),
    finalized AS (
      SELECT wstart,
             CAST(COUNT(*) AS BIGINT) AS n_registers,
             (673 * {_HLL_M * _HLL_M} * (1::BIGINT << {_HLL_BITS}))
               // (1000 * (CAST(SUM(1::BIGINT << ({_HLL_BITS} - r_max))
                                AS BIGINT)
                           + ({_HLL_M} - COUNT(*))
                             * (1::BIGINT << {_HLL_BITS})))
               AS hll_users
      FROM regs GROUP BY wstart
    ),
    exact AS (
      SELECT wstart, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM hashed GROUP BY wstart
    )
    SELECT strftime(f.wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           f.n_registers, f.hll_users, e.exact_users
    FROM finalized f JOIN exact e USING (wstart)
    ORDER BY window_start
    """,
    "Per-window distinct-user HLL (m = 16, the sk_hll_distinct scheme "
    "windowed): register build is an algebraic per-(window, register) MAX "
    "— the property that makes the sketch STREAMING-safe (16 ints of state "
    "per window vs every user id for exact distinct) — finalized to a "
    "pure-integer estimate reported beside the exact count. The identical "
    "aggregation runs under withWatermark in "
    "streaming/windows.py::hll_users_stream with a row-for-row parity "
    "test.",
)
def stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    rho = ev.select(
        F.window("ts", "6 hours").alias("window"),
        (h % _HLL_M).alias("reg"),
        F.when(F.shiftright(h, 4) == 0, F.lit(_HLL_W_BITS + 1))
        .otherwise(
            F.instr(
                F.lpad(F.bin(F.shiftright(h, 4)), _HLL_W_BITS, "0"), "1"
            )
        )
        .cast("long")
        .alias("r"),
    )
    regs = rho.groupBy("window", "reg").agg(F.max("r").alias("r_max"))
    finalized = regs.groupBy("window").agg(
        F.count(F.lit(1)).alias("n_registers"),
        F.expr(
            f"(673 * {_HLL_M * _HLL_M} * shiftleft(1L, {_HLL_BITS}))"
            f" div (1000 * (sum(shiftleft(1L, {_HLL_BITS} - cast(r_max as int)))"
            f" + ({_HLL_M} - count(1)) * shiftleft(1L, {_HLL_BITS})))"
        ).alias("hll_users"),
    )
    exact = ev.groupBy(F.window("ts", "6 hours").alias("window")).agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    return (
        finalized.join(exact, "window")
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_registers",
            "hll_users",
            "exact_users",
        )
        .orderBy("window_start")
    )
