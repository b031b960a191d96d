"""Event-time windowing operators over the `events` table (SURVEY 2.9 tail).

These are the batch-expressible forms of the Structured Streaming surface
(doc2vec_spark/streaming/ holds the readStream/writeStream versions): the
semantics are identical — F.window / F.session_window work in batch groupBy —
which is exactly what lets us oracle-check them in SQL.

- tumbling window aggregation (F.window)
- sliding window aggregation (F.window with slide < length)
- session windows, 30-min gap (F.session_window)
- watermark-style dedup: first event per key (dropDuplicates equivalent)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from doc2vec_spark.functions.rounding import det_avg, pround, sql_det_avg
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


_TUMBLE_US = 6 * 3600 * 1_000_000  # 6 hours in microseconds


@_register(
    "stream_tumbling_window",
    f"""
    SELECT strftime(make_timestamp((epoch_us(ts) // {_TUMBLE_US}) * {_TUMBLE_US}),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           floor((SUM(value)) * 100.0 + 0.5) / 100.0 AS total_value
    FROM events GROUP BY 1, 2
    """,
    "Tumbling 6h event-time window aggregation (F.window; epoch-aligned, "
    "matching Spark's 1970-origin window buckets)",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), pround(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "total_value",
        )
    )


_SLIDE_US = 3600 * 1_000_000  # 1h slide
_LEN_US = 2 * 3600 * 1_000_000  # 2h window


@_register(
    "stream_sliding_window",
    f"""
    WITH starts AS (
      SELECT event_id, value,
             make_timestamp((epoch_us(ts) // {_SLIDE_US}) * {_SLIDE_US}) AS w0
      FROM events
    ),
    assigned AS (
      SELECT event_id, value, w0 AS wstart FROM starts
      UNION ALL
      SELECT event_id, value, w0 - INTERVAL 1 HOUR AS wstart FROM starts
    )
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n, {sql_det_avg("SUM(value)", "COUNT(*)")} AS avg_value
    FROM assigned GROUP BY 1
    """,
    "Sliding window (2h length, 1h slide): each event lands in 2 windows "
    "(F.window emits one row per covering window)",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            det_avg(F.sum("value"), F.count(F.lit(1))).alias("avg_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n",
            "avg_value",
        )
    )


@_register(
    "stream_session_windows",
    """
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    islands AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM islands GROUP BY user_id, session_id
    """,
    "Session windows with 30-min gap (F.session_window in batch mode; oracle "
    "is the classic gaps-and-islands formulation — same semantics)",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


@_register(
    "stream_dedup_first_event",
    """
    SELECT user_id, event_type, event_id AS first_event_id FROM (
      SELECT user_id, event_type, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    "Watermark-style dedup: deterministic first event per (user, type) — the "
    "batch equivalent of dropDuplicatesWithinWatermark",
)
def stream_dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("event_id").alias("first_event_id"))
    )


# ---------------------------------------------------------------------------
# interval (stream-stream) join
# ---------------------------------------------------------------------------

_ATTR_WINDOW_MIN = 30


@_register(
    "stream_interval_join",
    f"""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id AS user_id,
           CAST((epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS BIGINT) AS secs_to_purchase
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL {_ATTR_WINDOW_MIN} MINUTE
    """,
    "Event-time interval join (click -> purchase attribution within {m} min, "
    "per user): the batch form of a watermarked stream-stream join. The join "
    "keys on user_id (equi) with the time bound as a range predicate — at "
    "scale this is a co-partitioned join on the user key, never a time-only "
    "cross join. streaming/windows.py::attribution_stream runs the same join "
    "with two readStreams + watermarks.".format(m=_ATTR_WINDOW_MIN),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("click_ts"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("b_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    secs = F.floor(
        (F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("click_ts")))
        / F.lit(1_000_000.0)
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("b_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr(f"INTERVAL {_ATTR_WINDOW_MIN} MINUTES")
            ),
        )
        .select("click_id", "purchase_id", "user_id", secs.alias("secs_to_purchase"))
    )
