"""As-of join — the canonical "operator Spark lacks" (SURVEY 2.4 note),
implemented as a composition of built-in ops: union the two sides, tag
them, and carry the right side's values forward with a partitioned
``last(ignorenulls)`` running window. One shuffle on (by, time) — no range
cross-join, no per-key loop; works identically on a 100 TB event stream.

DuckDB has a native ASOF JOIN, which is exactly what makes this
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


def asof_join(
    left: DataFrame,
    right: DataFrame,
    time_col: str,
    by_cols: list[str],
    value_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """For each left row: the values of the latest right row with
    right.time <= left.time within the same ``by`` group (left join; nulls
    when no prior right row exists). Ties on time resolve to the right row
    (matching ASOF's >= semantics)."""
    l_tagged = left.withColumn("_side", F.lit(1))
    for v in value_cols:
        l_tagged = l_tagged.withColumn(f"{v}{suffix}", F.lit(None).cast(dict(right.dtypes)[v]))
    r_tagged = right.select(
        *by_cols,
        time_col,
        F.lit(0).alias("_side"),
        *[F.col(v).alias(f"{v}{suffix}") for v in value_cols],
    )
    for c in left.columns:
        if c not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    union = l_tagged.unionByName(r_tagged.select(*l_tagged.columns))

    # right rows (_side=0) sort before left rows at equal time -> a left row
    # sees a same-timestamp right row, per ASOF >= semantics
    w = (
        Window.partitionBy(*by_cols)
        .orderBy(F.col(time_col), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = union
    for v in value_cols:
        filled = filled.withColumn(
            f"{v}{suffix}", F.last(f"{v}{suffix}", ignorenulls=True).over(w)
        )
    return filled.filter(F.col("_side") == 1).drop("_side")


@_register(
    "ext_asof_join",
    """
    SELECT l.event_id, l.user_id, r.event_id AS signup_event_id
    FROM events l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    "As-of join: each event matched to the user's latest signup at-or-before "
    "it — union + tagged running window (one shuffle), oracled against "
    "DuckDB's native ASOF JOIN",
)
def ext_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_id")
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts"),
        signups,
        time_col="ts",
        by_cols=["user_id"],
        value_cols=["signup_id"],
    )
    return joined.select(
        "event_id", "user_id", F.col("signup_id_asof").alias("signup_event_id")
    )
