"""Windowed event-rate anomaly detection (round 8).

The monitoring-plane operator over the event firehose: per event type,
flag tumbling windows whose event count deviates from that type's mean
rate by >= 2 standard deviations — the z-score rate alarm every ingestion
controller runs over its run/log stream (the reference's controller keeps
per-run warn/error counters, controller/job-runner.ts:194-196; this is the
corpus-statistics generalization).

Cross-engine determinism: counts, sums and squared sums are exact 64-bit
integers; z = (n*cnt - S) / sqrt(cnt*SS - S^2) touches floating point only
in ONE correctly-rounded IEEE sqrt and ONE division of exact integers —
bit-identical everywhere — then a pround(4) snap. The anomaly flag
compares the SNAPPED z, so both engines flag identically even at the
threshold boundary.

100 TB story: ONE shuffle on (type, window) with map-side partial counts,
then ONE type-keyed aggregation of three integers (cnt, S, SS) broadcast
back over the window rows — the classic two-pass mean/variance, no window
function over the full event stream, no per-event state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.functions.rounding import pround, sql_round
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


_TUMBLE_US = 6 * 3600 * 1_000_000  # 6h windows, matching the stream family
Z_THRESHOLD = 2.0


_Z_SQL = "(c.n * t.cnt - t.s) / sqrt(CAST(t.cnt * t.ss - t.s * t.s AS DOUBLE))"

_ANOMALY_ORACLE = f"""
WITH counted AS (
  SELECT make_timestamp((epoch_us(ts) // {_TUMBLE_US}) * {_TUMBLE_US})
           AS wstart,
         event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(n) AS BIGINT) AS s,
         CAST(SUM(n * n) AS BIGINT) AS ss
  FROM counted GROUP BY event_type
),
scored AS (
  SELECT c.wstart, c.event_type, c.n,
         CASE WHEN t.cnt * t.ss - t.s * t.s = 0 THEN 0.0
              ELSE {sql_round(_Z_SQL, 4)}
         END + 0.0 AS z
  FROM counted c JOIN stats t USING (event_type)
)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, n, z,
       (z >= {Z_THRESHOLD} OR z <= -{Z_THRESHOLD}) AS is_anomaly
FROM scored
ORDER BY window_start, event_type
"""


@_register(
    "ev_rate_anomaly",
    _ANOMALY_ORACLE,
    "Windowed event-rate z-score anomaly flags: per (type, 6h window) "
    "counts, per-type integer moment aggregation (cnt, sum, sum-of-"
    "squares), z = (n*cnt - S)/sqrt(cnt*SS - S^2) — one IEEE sqrt + one "
    "division over exact integers, pround(4)-snapped, flag compared on the "
    "snapped value so both engines alarm identically at the boundary. "
    "Constant-rate types (zero variance) score 0. Two shuffles total; the "
    "per-type stats table is broadcast-sized.",
)
def ev_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    counted = ev.groupBy(F.window("ts", "6 hours"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = counted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    var_num = F.col("cnt") * F.col("ss") - F.col("s") * F.col("s")
    z_raw = (F.col("n") * F.col("cnt") - F.col("s")) / F.sqrt(
        var_num.cast("double")
    )
    z = (
        F.when(var_num == 0, F.lit(0.0)).otherwise(pround(z_raw, 4)) + F.lit(0.0)
    ).alias("z")
    return (
        counted.join(F.broadcast(stats), "event_type")
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            z,
        )
        .withColumn(
            "is_anomaly",
            (F.col("z") >= Z_THRESHOLD) | (F.col("z") <= -Z_THRESHOLD),
        )
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# robust (median/MAD) rate anomaly — round 13
# ---------------------------------------------------------------------------
# The z-score alarm above is itself distorted by the outliers it hunts: one
# huge spike inflates the mean AND the variance, masking smaller anomalies
# (and a 2-sigma rule assumes near-normal rates). The standard robust
# companion is the median/MAD rule (Hampel; Iglewicz & Hoaglin 1993): center
# on the per-type MEDIAN window count, scale by the median absolute
# deviation, flag |n - med| >= 3.5 * MAD. Medians of integer counts are
# computed as the DISCRETE lower median (rank (cnt+1) div 2 in (value,
# wstart) order) so the whole statistic stays in exact integer arithmetic —
# no percentile interpolation, no float, nothing for engines to disagree
# on. We deliberately omit the 0.6745 normal-consistency constant (it would
# force a float scale); the threshold is stated directly in MAD units.
# NOTE on integer division: rz's numerator (n - med) is signed; Spark `div`
# and DuckDB `//` both truncate toward zero (verified), so the centi-score
# agrees bitwise. MAD=0 (constant-rate type) clamps to 1, mirroring the
# z-score's zero-variance guard.
#
# 100 TB shape: the same ONE (type, window) count shuffle as ev_rate_anomaly,
# then two rank-passes over per-type window partitions (windows per type is
# the bounded monitoring dimension) and a broadcast of the per-type
# (med, mad) table back over the counted rows.

MAD_THRESHOLD_CENTI = 350  # 3.5 MADs, in centi-MAD units


_MAD_ORACLE = f"""
WITH counted AS (
  SELECT make_timestamp((epoch_us(ts) // {_TUMBLE_US}) * {_TUMBLE_US})
           AS wstart,
         event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT wstart, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n, wstart) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM counted
),
meds AS (
  SELECT event_type, n AS med FROM ranked WHERE rn = (cnt + 1) // 2
),
devs AS (
  SELECT c.wstart, c.event_type, c.n, m.med, abs(c.n - m.med) AS dev
  FROM counted c JOIN meds m USING (event_type)
),
dranked AS (
  SELECT event_type, dev,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev, wstart) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM devs
),
mads AS (
  SELECT event_type, dev AS mad FROM dranked WHERE rn = (cnt + 1) // 2
)
SELECT strftime(d.wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
       d.event_type, d.n, d.med, CAST(a.mad AS BIGINT) AS mad,
       CAST((d.n - d.med) * 100 // greatest(a.mad, 1) AS BIGINT) AS rz_centi,
       (abs((d.n - d.med) * 100 // greatest(a.mad, 1))
          >= {MAD_THRESHOLD_CENTI}) AS is_anomaly
FROM devs d JOIN mads a USING (event_type)
ORDER BY window_start, event_type
"""


@_register(
    "ev_anomaly_mad",
    _MAD_ORACLE,
    "Robust median/MAD rate anomaly (Hampel rule, 3.5 MADs): per-type "
    "DISCRETE lower medians of window counts and absolute deviations — "
    "exact integer arithmetic end to end (no percentile interpolation, "
    "no float), so one spike can't mask smaller anomalies the way it "
    "inflates the z-score's mean/variance. Same one count shuffle as "
    "ev_rate_anomaly + two per-type rank passes + a broadcast (med, mad) "
    "table.",
)
def ev_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    counted = ev.groupBy(F.window("ts", "6 hours"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    counted = counted.select(
        F.col("window.start").alias("wstart"), "event_type", "n"
    )

    def _lower_median(df, val: str, out: str):
        w = Window.partitionBy("event_type").orderBy(F.col(val), F.col("wstart"))
        wc = Window.partitionBy("event_type")
        ranked = df.withColumn("rn", F.row_number().over(w)).withColumn(
            "cnt", F.count(F.lit(1)).over(wc)
        )
        return ranked.filter(
            F.col("rn") == F.expr("(cnt + 1) div 2")
        ).select("event_type", F.col(val).alias(out))

    meds = _lower_median(counted, "n", "med")
    devs = counted.join(F.broadcast(meds), "event_type").select(
        "wstart",
        "event_type",
        "n",
        "med",
        F.abs(F.col("n") - F.col("med")).alias("dev"),
    )
    mads = _lower_median(devs, "dev", "mad")
    rz = F.expr(f"(n - med) * 100 div greatest(mad, 1)")
    return (
        devs.join(F.broadcast(mads), "event_type")
        .select(
            F.date_format("wstart", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "med",
            F.col("mad").cast("long").alias("mad"),
            rz.cast("long").alias("rz_centi"),
            (F.abs(rz) >= MAD_THRESHOLD_CENTI).alias("is_anomaly"),
        )
        # match the oracle's ORDER BY (and the ev_rate_anomaly precedent) so
        # row order agrees for order-sensitive consumers (ADVICE r13)
        .orderBy("window_start", "event_type")
    )
