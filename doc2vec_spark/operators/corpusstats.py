"""Corpus distribution statistics (round 13): Zipf rank-frequency fit.

The unigram rank-frequency law (Zipf 1949: freq ~ C / rank^s, s ~ 1 for
natural language) is the standard one-number health check on a training
corpus: heavy boilerplate/template contamination flattens the curve
(s << 1), bot spam or aggressive dedup of the head steepens it, and a
drifting s between crawl snapshots is an early mixture-shift alarm
(documented across corpus-quality literature from CCNet to Gopher's
corpus analyses). This operator fits s by ordinary least squares in
log-log space over the top-RANKS vocabulary and emits the fit plus its
sufficient statistics.

Integer-exact OLS, the established LUT discipline:
- x_r = floor(ln(rank) * 1000 + 0.5) milli-nats — rank domain is the
  STATIC 1..RANKS, so the x values are one literal array baked
  identically into the Spark plan and the oracle text;
- y_r = floor(ln(freq) * 1000 + 0.5) — realized freqs are unknown at
  registration: the oracle evaluates the expression in SQL, the engine
  evaluates it ONCE per distinct realized freq in a driver-built LUT
  broadcast back (the ta_nb_classify_log pattern; CPython and DuckDB
  share the platform libm);
- slope: with Zipf's negative slope, naive integer division of a
  negative numerator would expose the one engine-semantics edge this
  repo documents (trunc-vs-floor). We therefore emit the EXPONENT
  s = -b directly from the sign-arranged form
  s_milli = (Sx*Sy - n*Sxy) * 1000 div max(D, 1), D = n*Sxx - Sx^2 —
  every operand non-negative on real input, so both engines' integer
  division agree unconditionally. intercept_milli likewise.

Scale shape: one tokenize+wordcount shuffle (behind the repartition
barrier), TakeOrderedAndProject top-RANKS, a <=RANKS-row window + LUT
join, one single-row aggregate. The corpus-sized work is exactly the
wordcount every ta_* query already pays.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


RANKS = 256  # fit over the top-RANKS vocabulary (head of the distribution)

# static ln(rank) milli-nat LUT — identical literals on both sides
_X_MILLI: list[int] = [
    int(math.floor(math.log(r) * 1000.0 + 0.5)) for r in range(1, RANKS + 1)
]
_X_SQL = "[" + ", ".join(str(x) for x in _X_MILLI) + "]"

_Y_SQL = "CAST(floor(ln(cnt) * 1000.0 + 0.5) AS BIGINT)"


@_register(
    "ta_zipf_fit",
    f"""
    WITH vocab AS (
      SELECT tok, cnt FROM (
        SELECT tok, COUNT(*) AS cnt
        FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
              FROM documents)
        GROUP BY tok)
      ORDER BY cnt DESC, tok LIMIT {RANKS}),
    pts AS (
      SELECT ({_X_SQL})[rank] AS x, {_Y_SQL} AS y
      FROM (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank
            FROM vocab)),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM pts)
    SELECT n, sx, sy, sxy, sxx,
           CAST((sx * sy - n * sxy) * 1000
                // greatest(n * sxx - sx * sx, 1) AS BIGINT) AS zipf_s_milli,
           CAST((sy * 1000 + ((sx * sy - n * sxy) * 1000
                              // greatest(n * sxx - sx * sx, 1)) * sx)
                // greatest(n * 1000, 1) AS BIGINT) AS intercept_milli
    FROM s
    """,
    f"Zipf rank-frequency fit over the top-{RANKS} vocabulary: OLS in "
    "log-log space, integer-exact (static ln(rank) milli-nat LUT baked "
    "into both engines; realized ln(freq) via the driver-LUT broadcast "
    "join). Emits the exponent s (milli), intercept, and the sufficient "
    "statistics — the corpus-health number that flags boilerplate "
    "flattening or head-dedup steepening. One wordcount shuffle + "
    "TakeOrderedAndProject + a bounded-frame window.",
)
def ta_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.session import default_parallelism

    docs = load(spark, sf_dir, "documents").repartition(default_parallelism())
    # r22 batch 4 (guide §1.2/§5): the corpus-sized work is exactly the
    # tokenize+wordcount+TakeOrdered below; everything after it touches at
    # most RANKS=256 rows. The old shape paid THREE cluster jobs for that
    # bounded tail (scoped-cache fill, a distinct-cnt LUT collect, the
    # final 1-row aggregate). Collect the bounded top-RANKS frame ONCE and
    # finish the OLS driver-side (the waterfill / literal-LUT precedent):
    # y is the SAME CPython math.log the y_lut already used, x the same
    # static _X_MILLI array, and the integer divisions replicate Spark's
    # `div` (truncation toward zero) exactly — on real input every operand
    # is non-negative (see module docstring), where trunc == floor anyway.
    vocab_rows = (
        docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(RANKS)
        .collect()
    )
    empty = "n long, sx long, sy long, sxy long, sxx long, " \
            "zipf_s_milli long, intercept_milli long"
    if not vocab_rows:
        # match the oracle's aggregate-over-empty row: n=0, sums NULL
        return spark.createDataFrame(
            [(0, None, None, None, None, None, None)], empty
        )

    def _tdiv(a: int, b: int) -> int:
        # Spark SQL `div` on BIGINT: truncation toward zero
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    ordered = sorted(vocab_rows, key=lambda r: (-int(r["cnt"]), r["tok"]))
    n = len(ordered)
    sx = sy = sxy = sxx = 0
    for rank, r in enumerate(ordered, start=1):
        x = _X_MILLI[rank - 1]
        y = int(math.floor(math.log(int(r["cnt"])) * 1000.0 + 0.5))
        sx += x
        sy += y
        sxy += x * y
        sxx += x * x
    slope = _tdiv((sx * sy - n * sxy) * 1000, max(n * sxx - sx * sx, 1))
    intercept = _tdiv(sy * 1000 + slope * sx, max(n * 1000, 1))
    from doc2vec_spark.functions.localframe import local_frame

    return local_frame(
        spark, [(n, sx, sy, sxy, sxx, slope, intercept)], empty
    )
