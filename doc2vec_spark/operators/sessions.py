"""Event-stream session analytics (round 4).

The reference's run/log tables get per-run counters (A3-A8); a
training-data platform additionally needs the classic event-analytics
tier over its telemetry: gap-based sessionization, ordered-funnel
conversion, cohort retention, and event-type transition matrices. Each is
expressed as windowed/grouped DataFrame ops over the ``events`` table with
pure integer arithmetic (epoch microseconds, counts, day offsets) so Spark
and DuckDB agree bitwise.

Scale discipline (the 100 TB shape for user-keyed analytics):
- every query shuffles ONCE on ``user_id``; the window sort and the
  follow-up groupBy reuse the same hash partitioning (no second exchange
  on a different key until the final small-cardinality rollup);
- windows are per-user linear scans — no unbounded cross-row state, no
  global ordering anywhere (plan-tested: no SinglePartition exchange);
- per-user event counts are bounded in practice (sessions expire); a
  pathological power-user key skews one task, which AQE skew-split
  handles — there is no all-pairs blowup by construction;
- timestamps become int64 epoch micros at the scan (``unix_micros``);
  session gap / duration / day-offset arithmetic stays integral end to
  end — the repo-wide log-free/float-free determinism rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap, in micros


@_register(
    "ev_sessionize",
    f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    m AS (
      -- CAST .. AS BIGINT: DuckDB SUM(int) (window or grouped) is HUGEINT
      -- -> pandas float64; Spark yields int64 and the driver hash is
      -- dtype-sensitive.
      SELECT user_id, event_type, us,
             CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us > {SESSION_GAP_US}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM e
    )
    SELECT user_id, session_seq,
           COUNT(*) AS n_events,
           MIN(us) AS start_us,
           (MAX(us) - MIN(us)) // 1000000 AS duration_sec,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors
    FROM m GROUP BY user_id, session_seq
    """,
    "Gap-based sessionization (30-min inactivity): lag + running-sum "
    "windows assign session ids, then per-session stats. One shuffle on "
    "user_id; window sort and groupBy share the partitioning.",
)
def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = ev.withColumn("prev_us", F.lag("us").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_us").isNull()
            | (F.col("us") - F.col("prev_us") > SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    sessioned = marked.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessioned.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        F.expr("(max(us) - min(us)) div 1000000").alias("duration_sec"),
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("n_purchases"),
        F.sum((F.col("event_type") == "error").cast("int")).alias("n_errors"),
    )


@_register(
    "ev_funnel_cohorts",
    """
    WITH s AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    w1 AS (
      SELECT *, MIN(us) OVER (PARTITION BY user_id) AS first_us,
             MIN(CASE WHEN event_type = 'view' THEN us END)
               OVER (PARTITION BY user_id) AS v_us
      FROM s
    ),
    w2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND us > v_us THEN us END)
               OVER (PARTITION BY user_id) AS c_us
      FROM w1
    ),
    w3 AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND us > c_us THEN us END)
               OVER (PARTITION BY user_id) AS p_us
      FROM w2
    ),
    u AS (SELECT DISTINCT user_id, first_us, v_us, c_us, p_us FROM w3)
    SELECT strftime(make_timestamp(first_us), '%Y-%m-%d') AS cohort_day,
           COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN v_us IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS users_viewed,
           CAST(SUM(CASE WHEN c_us IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS users_clicked,
           CAST(SUM(CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS users_purchased
    FROM u GROUP BY cohort_day
    """,
    "Strictly-ordered view->click->purchase funnel, grouped by first-seen "
    "cohort day. Three chained per-user windows (each stage's earliest "
    "timestamp must follow the previous stage's) resolve in ONE user_id "
    "shuffle; the final rollup groups on cohort day, never a single row.",
)
def ev_funnel_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    per_user = Window.partitionBy("user_id")
    staged = (
        ev.withColumn("first_us", F.min("us").over(per_user))
        .withColumn(
            "v_us",
            F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(per_user),
        )
        .withColumn(
            "c_us",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("us") > F.col("v_us")),
                    F.col("us"),
                )
            ).over(per_user),
        )
        .withColumn(
            "p_us",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("us") > F.col("c_us")),
                    F.col("us"),
                )
            ).over(per_user),
        )
        .select("user_id", "first_us", "v_us", "c_us", "p_us")
        .distinct()
    )
    return staged.groupBy(
        F.date_format(F.timestamp_micros("first_us"), "yyyy-MM-dd").alias(
            "cohort_day"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("v_us").isNotNull().cast("int")).alias("users_viewed"),
        F.sum(F.col("c_us").isNotNull().cast("int")).alias("users_clicked"),
        F.sum(F.col("p_us").isNotNull().cast("int")).alias("users_purchased"),
    )


@_register(
    "ev_retention_cohorts",
    """
    WITH s AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
    f AS (
      SELECT user_id, d, MIN(d) OVER (PARTITION BY user_id) AS cohort_day
      FROM s
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           date_diff('day', cohort_day, d) AS day_offset,
           COUNT(DISTINCT user_id) AS active_users
    FROM f GROUP BY 1, 2
    """,
    "Cohort retention triangle: users grouped by first-active day, distinct "
    "actives per (cohort, day-offset). Per-user window min + one grouped "
    "distinct; output cardinality is cohorts x horizon, never row-scale.",
)
def ev_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    per_user = Window.partitionBy("user_id")
    firsts = ev.withColumn("cohort_day", F.min("d").over(per_user))
    return firsts.groupBy(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.datediff("d", "cohort_day").alias("day_offset"),
    ).agg(F.count_distinct("user_id").alias("active_users"))


@_register(
    "ev_type_transitions",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM o WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
    "First-order event-type transition counts (Markov matrix): per-user lag "
    "window then a grouped count over the 5x5 type pairs. One user_id "
    "shuffle feeding a tiny-cardinality final aggregate.",
)
def ev_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        lagged.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
