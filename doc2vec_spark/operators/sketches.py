"""Deterministic frequency sketches (round 7, session 2).

`ext_approx_count_distinct` / `ext_approx_quantile` (extensions.py) cover
cardinality and quantile sketching; this module adds the third classic
streaming sketch: Count-Min frequency estimation (Cormode & Muthukrishnan
2005). A CMS is deterministic given its hash functions, so — unlike most
"approximate" operators — the whole sketch, every estimate, and the
one-sided error invariant are exactly replayable in SQL and value-hash
checkable by the driver.

100 TB story: the sketch is a fixed d x w integer grid built by ONE
token-keyed aggregation (map-side combinable — per-partition grids merge
by cell-wise addition, which is exactly what Spark's partial aggregation
does to the SUMs here), and the estimate join is against a d*w-row (3 KiB)
broadcast table. Exact per-token counts need a full token shuffle; the
sketch never does — that is the point of carrying it at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


CMS_DEPTH = 3  # independent hash rows
CMS_WIDTH = 16  # counters per row — sized to the fixture vocabulary (31 tokens)
# so hash collisions actually occur and the overestimate column is exercised;
# production sizing is w = ceil(e / eps) (e.g. 2720 for 0.1% error)
CMS_TOP_K = 20  # heavy hitters reported


def _cms_pos_sql(d: int) -> str:
    """Row-d hash position: disjoint 8-hex md5 windows, like the Bloom
    gate's position family."""
    return f"('0x' || substr(md5(tok), {8 * d + 1}, 8))::BIGINT % {CMS_WIDTH}"


def _cms_pos_expr(d: int):
    return (
        F.conv(F.substring(F.md5(F.col("tok")), 8 * d + 1, 8), 16, 10).cast("long")
        % CMS_WIDTH
    )


@_register(
    "sk_count_min_tokens",
    f"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    exact AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM toks GROUP BY tok
    ),
    cells AS (
      -- the sketch: d x w cell sums (built from the exact table only to
      -- keep the SQL compact; cell values are identical to summing raw
      -- occurrences)
      SELECT d, CASE d {" ".join(f"WHEN {d} THEN {_cms_pos_sql(d)}" for d in range(CMS_DEPTH))} END AS pos,
             CAST(SUM(exact_cnt) AS BIGINT) AS cell
      FROM exact, unnest([{", ".join(map(str, range(CMS_DEPTH)))}]) t(d)
      GROUP BY 1, 2
    ),
    est AS (
      SELECT e.tok, e.exact_cnt, MIN(c.cell) AS cms_est
      FROM exact e,
           unnest([{", ".join(map(str, range(CMS_DEPTH)))}]) t(d)
      JOIN cells c
        ON c.d = t.d
       AND c.pos = CASE t.d {" ".join(f"WHEN {d} THEN {_cms_pos_sql(d).replace('tok', 'e.tok')}" for d in range(CMS_DEPTH))} END
      GROUP BY e.tok, e.exact_cnt
    )
    SELECT tok, exact_cnt, cms_est,
           cms_est > exact_cnt AS overestimated,
           cms_est >= exact_cnt AS never_underestimates
    FROM est
    ORDER BY exact_cnt DESC, tok
    LIMIT {CMS_TOP_K}
    """,
    "Count-Min-Sketch heavy hitters: a {d} x {w} deterministic CMS over "
    "the token stream (md5-window hash rows), reporting the top-{k} exact "
    "tokens with their sketch estimates and the one-sided-error invariant "
    "(CMS never underestimates — hash-checked as a column). The sketch is "
    "ONE map-side-combinable aggregation into {d}*{w} cells (3 KiB, "
    "mergeable across partitions/streams by cellwise addition); estimates "
    "join against the broadcast-size cell table. The exact counts exist "
    "here only as ground truth for the oracle.".format(
        d=CMS_DEPTH, w=CMS_WIDTH, k=CMS_TOP_K
    ),
)
def sk_count_min_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    depth = F.explode(F.array(*[F.lit(d) for d in range(CMS_DEPTH)])).alias("d")
    pos = F.when(F.col("d") == 0, _cms_pos_expr(0))
    for d in range(1, CMS_DEPTH):
        pos = pos.when(F.col("d") == d, _cms_pos_expr(d))
    keyed = exact.select("tok", "exact_cnt", depth).withColumn("pos", pos)
    cells = keyed.groupBy("d", "pos").agg(F.sum("exact_cnt").alias("cell"))
    est = (
        keyed.join(F.broadcast(cells), ["d", "pos"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("cell").alias("cms_est"))
    )
    return (
        est.select(
            "tok",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") > F.col("exact_cnt")).alias("overestimated"),
            (F.col("cms_est") >= F.col("exact_cnt")).alias("never_underestimates"),
        )
        .orderBy(F.desc("exact_cnt"), "tok")
        .limit(CMS_TOP_K)
    )


# ---------------------------------------------------------------------------
# AMS (tug-of-war) F2 sketch — join-size estimation
# ---------------------------------------------------------------------------
# Alon-Matias-Szegedy 1996: F2 = sum of squared frequencies IS the self-join
# size — the quantity a cost-based planner wants before picking a join
# strategy. Sketch row d keeps X_d = sum_tok sign_d(tok) * cnt(tok); E[X_d^2]
# = F2. Signs come from md5-window parity, so X_d, X_d^2 and the median are
# exact 64-bit integers in both engines. At 100 TB each X_d is ONE map-side-
# combinable SUM (no token shuffle at all if counts are pre-aggregated per
# partition) — D integers summarize the whole frequency vector.

AMS_ROWS = 5  # median over 5 independent sign rows


def _ams_sign_sql(d: int) -> str:
    return f"(1 - 2 * (('0x' || substr(md5(tok), {6 * d + 1}, 6))::BIGINT % 2))"


def _ams_sign_expr(d: int):
    return 1 - 2 * (
        F.conv(F.substring(F.md5(F.col("tok")), 6 * d + 1, 6), 16, 10).cast("long")
        % 2
    )


@_register(
    "sk_ams_f2_join_size",
    f"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    cnts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
    rows_ AS (
      SELECT d,
             CAST(SUM((CASE d {" ".join(f"WHEN {d} THEN {_ams_sign_sql(d)}" for d in range(AMS_ROWS))} END) * cnt) AS BIGINT) AS sketch_x
      FROM cnts, unnest([{", ".join(map(str, range(AMS_ROWS)))}]) t(d)
      GROUP BY d
    ),
    exact AS (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS f2_exact FROM cnts),
    med AS (
      SELECT CAST(MEDIAN(sketch_x * sketch_x) AS BIGINT) AS f2_est FROM rows_
    )
    SELECT r.d, r.sketch_x,
           CAST(r.sketch_x * r.sketch_x AS BIGINT) AS est_d,
           e.f2_exact, m.f2_est
    FROM rows_ r, exact e, med m
    ORDER BY r.d
    """,
    "AMS tug-of-war F2 sketch ({n} sign rows): the self-join-size estimate "
    "a planner consults before choosing a join strategy. Each row is one "
    "integer SUM of sign(tok) * count(tok) (md5-parity signs — exact "
    "64-bit arithmetic both engines); the estimate is the median of the "
    "squared rows, reported alongside exact F2 = sum cnt^2 so the hash "
    "gate checks estimator and ground truth together. Map-side "
    "combinable; {n} integers summarize the whole frequency "
    "vector. (On the fixture's 31-token vocabulary the estimator variance "
    "is necessarily large — AMS accuracy needs many distinct keys or many "
    "independent rows; the gate checks determinism of estimator AND "
    "ground truth, not closeness.)".format(n=AMS_ROWS),
)
def sk_ams_f2_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    cnts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    depth = F.explode(F.array(*[F.lit(d) for d in range(AMS_ROWS)])).alias("d")
    sign = F.when(F.col("d") == 0, _ams_sign_expr(0))
    for d in range(1, AMS_ROWS):
        sign = sign.when(F.col("d") == d, _ams_sign_expr(d))
    from doc2vec_spark.caching import scoped_cache

    # r22 batch 6 (guide §1.2, fewer passes): the old shape tokenized and
    # word-counted the corpus THREE times — once for the exact-F2 probe,
    # once for the 5-row sketch collect, and once more when the returned
    # plan recomputed the sketch rows. Now the token-count table is
    # scoped-cached and ONE tagged union-collect (5 sketch rows + the F2
    # row, tag d = -1) fetches everything the bounded tail needs; the
    # output frame is rebuilt driver-side from those exact collected
    # integers (the ta_zipf_fit batch-4 treatment — every value below is
    # the same int the old plan emitted).
    cnts = scoped_cache(cnts)
    rows = (
        cnts.select("tok", "cnt", depth)
        .select("d", (sign * F.col("cnt")).alias("signed"))
        .groupBy("d")
        .agg(F.sum("signed").alias("sketch_x"))
    )
    coll = (
        rows.select(F.col("d").cast("long").alias("d"), F.col("sketch_x").alias("v"))
        .unionByName(
            cnts.agg(F.sum(F.col("cnt") * F.col("cnt")).alias("v")).select(
                F.lit(-1).cast("long").alias("d"), "v"
            )
        )
        .collect()
    )
    f2_exact = next(r["v"] for r in coll if r["d"] == -1)
    srows = sorted((int(r["d"]), int(r["v"])) for r in coll if r["d"] >= 0)
    xs = sorted(v * v for _, v in srows)
    if f2_exact is None or not xs:  # empty corpus: oracle's rows_ CTE is empty -> 0 rows
        return spark.createDataFrame(
            [], "d int, sketch_x long, est_d long, f2_exact long, f2_est long"
        )
    f2_est = int(xs[len(xs) // 2])
    from doc2vec_spark.functions.localframe import local_frame

    return local_frame(
        spark,
        [(d, v, v * v, int(f2_exact), f2_est) for d, v in srows],
        "d int, sketch_x long, est_d long, f2_exact long, f2_est long",
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) sketch — distinct counts and set overlap
# ---------------------------------------------------------------------------

KMV_K = 32
# Overlapping side definitions (both include src2) so the sketch's
# set-intersection estimate has real signal to track, not a trivial zero.
KMV_SRC_A = ("src1", "src2")
KMV_SRC_B = ("src2", "src3")
_KMV_SCALE = 1 << 40  # 10-hex md5 prefix -> hash space [0, 2^40)


def _kmv_hash_sql(col: str) -> str:
    return f"('0x' || substr(md5({col}), 1, 10))::BIGINT"


@_register(
    "sk_kmv_overlap",
    f"""
    WITH a AS (
      SELECT DISTINCT text, {_kmv_hash_sql("text")} AS h
      FROM documents WHERE source IN {KMV_SRC_A}
    ),
    b AS (
      SELECT DISTINCT text, {_kmv_hash_sql("text")} AS h
      FROM documents WHERE source IN {KMV_SRC_B}
    ),
    ka AS (SELECT h FROM a ORDER BY h LIMIT {KMV_K}),
    kb AS (SELECT h FROM b ORDER BY h LIMIT {KMV_K}),
    ku AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b)
           ORDER BY h LIMIT {KMV_K}),
    est AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a_exact,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b_exact,
        CASE WHEN (SELECT COUNT(*) FROM ka) < {KMV_K}
             THEN (SELECT COUNT(*) FROM ka)
             ELSE ({KMV_K} - 1) * {_KMV_SCALE} // (SELECT MAX(h) FROM ka)
        END AS n_a_est,
        CASE WHEN (SELECT COUNT(*) FROM kb) < {KMV_K}
             THEN (SELECT COUNT(*) FROM kb)
             ELSE ({KMV_K} - 1) * {_KMV_SCALE} // (SELECT MAX(h) FROM kb)
        END AS n_b_est,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM ku
         WHERE h IN (SELECT h FROM a) AND h IN (SELECT h FROM b))
          AS inter_in_sketch,
        (SELECT CAST(COUNT(*) AS BIGINT)
         FROM a JOIN b ON a.text = b.text) AS inter_exact
    )
    SELECT n_a_exact, n_b_exact,
           CAST(n_a_est AS BIGINT) AS n_a_est,
           CAST(n_b_est AS BIGINT) AS n_b_est,
           inter_in_sketch, CAST({KMV_K} AS BIGINT) AS k, inter_exact
    FROM est
    """,
    "KMV (k-minimum-values, k = {k}) sketch over two sources: "
    "distinct-count estimates ((k-1) * 2^40 // kth-min-hash, exact integer "
    "division both engines) and the sketch-intersection overlap estimate "
    "(members of the union's k minima present in both sides — the "
    "theta-sketch set-operation primitive), reported against exact "
    "distinct and intersection counts so estimator and truth are "
    "hash-checked together. Per side: one DISTINCT + a k-row "
    "TakeOrdered — the sketch is k integers, mergeable by "
    "re-minimizing.".format(k=KMV_K),
)
def sk_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.caching import scoped_cache

    docs = load(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("text")), 1, 10), 16, 10).cast("long")

    # r21 (guide §1.2 "don't compute things twice" / §2.4): the old shape
    # built each side's DISTINCT-text set independently and then referenced
    # them from SIX separate actions (two k-min collects, three counts, one
    # semi-join count) — the corpus-sized distinct shuffle re-ran five times
    # (measured: 24 build jobs, 1.40 s canonical at sf0.1). Every quantity
    # below is a function of ONE table: the distinct texts of the union of
    # sources, with per-side membership flags (a text is in side A iff ANY
    # of its rows carries an A-source — max over the group, identical to
    # "DISTINCT text WHERE source IN A"). Build it once, cache it, and the
    # remaining actions are cache-backed k-row TakeOrdereds plus one
    # count aggregate: ~4 jobs, one corpus shuffle at any scale.
    in_a = F.max(F.when(F.col("source").isin(*KMV_SRC_A), 1).otherwise(0)) == 1
    in_b = F.max(F.when(F.col("source").isin(*KMV_SRC_B), 1).otherwise(0)) == 1
    t = scoped_cache(
        docs.filter(F.col("source").isin(*set(KMV_SRC_A + KMV_SRC_B)))
        .groupBy("text")
        .agg(in_a.alias("a"), in_b.alias("b"))
        .select(h.alias("h"), "a", "b")
    )
    counts = t.agg(
        F.count_if(F.col("a")).alias("na"),
        F.count_if(F.col("b")).alias("nb"),
        # the oracle's inter_exact is a JOIN ON text = text — NULL-excluding
        # like the old semi join, hence the isNotNull guard (h is null iff
        # text is null)
        F.count_if(F.col("a") & F.col("b") & F.col("h").isNotNull()).alias("ni"),
    ).collect()[0]
    n_a_exact, n_b_exact, inter_exact = counts["na"], counts["nb"], counts["ni"]
    ka = [r["h"] for r in t.filter("a").select("h").orderBy("h").limit(KMV_K).collect()]
    kb = [r["h"] for r in t.filter("b").select("h").orderBy("h").limit(KMV_K).collect()]
    # the union sketch dedups on H (the oracle's UNION of h columns), while
    # ka/kb count per-TEXT rows exactly as the oracle's per-text CTEs do —
    # the two only differ on a 2^-40 md5-prefix collision, mirrored here
    ku_rows = (
        t.groupBy("h")
        .agg(F.max("a").alias("a"), F.max("b").alias("b"))
        .orderBy("h")
        .limit(KMV_K)
        .collect()
    )
    # ADVICE r21 #1: the oracle's `h IN (SELECT ...)` subqueries are
    # NULL-excluding exactly like the `ni` guard above — a NULL-text doc
    # present in both sources must not count here either
    inter_in_sketch = sum(
        1 for r in ku_rows if r["a"] and r["b"] and r["h"] is not None
    )
    row = {
        "n_a_exact": n_a_exact,
        "n_b_exact": n_b_exact,
        # a sketch smaller than k holds EVERY value -> the count is exact
        "n_a_est": len(ka) if len(ka) < KMV_K else (KMV_K - 1) * _KMV_SCALE // max(ka),
        "n_b_est": len(kb) if len(kb) < KMV_K else (KMV_K - 1) * _KMV_SCALE // max(kb),
        "inter_in_sketch": inter_in_sketch,
        "k": KMV_K,
        "inter_exact": inter_exact,
    }
    return spark.createDataFrame(
        [tuple(row.values())],
        "n_a_exact long, n_b_exact long, n_a_est long, n_b_est long, "
        "inter_in_sketch long, k long, inter_exact long",
    )


# ---------------------------------------------------------------------------
# HyperLogLog — register-level cardinality sketch (round 8)
# ---------------------------------------------------------------------------
# Flajolet et al. 2007: split the hash space into m registers, keep per
# register the MAX position of the first 1-bit of the remaining hash bits;
# estimate = alpha_m * m^2 / sum(2^-r_j). KMV (above) already covers
# distinct counting, but HLL is THE production sketch (fixed m-byte state,
# mergeable by register-wise MAX — exactly what Spark's partial MAX
# aggregation does here, and what approx_count_distinct uses internally).
# Everything is integer: rho comes from string position over the binary
# expansion, 2^(40 - r_j) is a left shift, and the estimate uses the
# rational alpha_16 = 673/1000 with integer division, so registers AND
# estimate are bit-identical in both engines. The small-range
# (linear-counting) correction needs ln() and is deliberately omitted —
# reported zero_registers lets a consumer decide the regime; the fixture
# cardinality (n/m >> 2.5) sits in the raw-estimate regime anyway.

HLL_M = 16  # registers (m = 2^4); state = 16 small ints
_HLL_HASH_BITS = 40  # 10-hex md5 prefix
_HLL_W_BITS = _HLL_HASH_BITS - 4  # bits left after the register index


@_register(
    "sk_hll_distinct",
    f"""
    WITH hashed AS (
      SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 10))::BIGINT
               AS h
      FROM orders
    ),
    split AS (
      SELECT h % {HLL_M} AS reg, h // {HLL_M} AS w FROM hashed
    ),
    rho AS (
      SELECT reg,
             CASE WHEN w = 0 THEN {_HLL_W_BITS + 1}
                  ELSE position('1' IN lpad(bin(w), {_HLL_W_BITS}, '0'))
             END AS r
      FROM split
    ),
    regs AS (
      SELECT reg, CAST(MAX(r) AS BIGINT) AS r_max FROM rho GROUP BY reg
    ),
    z AS (
      SELECT CAST(SUM(1::BIGINT << ({_HLL_HASH_BITS} - r_max)) AS BIGINT)
               + ({HLL_M} - COUNT(*)) * (1::BIGINT << {_HLL_HASH_BITS})
               AS z40,
             CAST({HLL_M} - COUNT(*) AS BIGINT) AS zero_registers
      FROM regs
    ),
    est AS (
      SELECT (673 * {HLL_M * HLL_M} * (1::BIGINT << {_HLL_HASH_BITS}))
               // (1000 * z40) AS hll_est,
             zero_registers
      FROM z
    ),
    exact AS (
      SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact FROM orders
    )
    SELECT r.reg, r.r_max, e.hll_est, e.zero_registers, x.n_exact
    FROM regs r, est e, exact x
    ORDER BY r.reg
    """,
    "HyperLogLog cardinality sketch (Flajolet et al. 2007, m = {m} "
    "registers over a 40-bit md5 hash space): per-register MAX first-1-bit "
    "position (register build is ONE map-side-combinable MAX aggregation — "
    "the sketch merges across partitions/streams by register-wise MAX), "
    "raw estimate alpha_16 * m^2 / sum(2^-r_j) computed entirely in "
    "integer arithmetic (left shifts + rational alpha = 673/1000, exact "
    "integer division), reported per register alongside the exact distinct "
    "count so registers, estimate and ground truth are hash-checked "
    "together. Linear-counting correction intentionally omitted (needs "
    "ln); zero_registers is emitted so consumers can pick the "
    "regime.".format(m=HLL_M),
)
def sk_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 10), 16, 10
    ).cast("long")
    split = orders.select(
        (h % HLL_M).alias("reg"),
        F.shiftright(h, 4).cast("long").alias("w"),  # h // 16, exact
    )
    rho = split.select(
        "reg",
        F.when(F.col("w") == 0, F.lit(_HLL_W_BITS + 1))
        .otherwise(
            F.instr(F.lpad(F.bin(F.col("w")), _HLL_W_BITS, "0"), "1")
        )
        .cast("long")
        .alias("r"),
    )
    regs = rho.groupBy("reg").agg(F.max("r").alias("r_max"))
    # r22 batch 6 (guide §1.2, fewer passes): the old shape scanned orders
    # THREE times — the z40 probe computed the register table, the exact
    # distinct counted it again, and the returned plan recomputed the
    # registers once more. The <= HLL_M-row register table is now collected
    # ONCE; z40 / zero_registers fold the same integers driver-side
    # (1 << (40 - r_max) is the exact shiftleft the probe summed) and the
    # output frame is rebuilt from the collected rows. The exact distinct
    # stays a cluster job — it is a different aggregation and the gate's
    # ground truth.
    reg_rows = sorted(
        ((int(r["reg"]), int(r["r_max"])) for r in regs.collect())
    )
    s_fold = sum(1 << (_HLL_HASH_BITS - r) for _, r in reg_rows)
    present = len(reg_rows)
    z40 = s_fold + (HLL_M - present) * (1 << _HLL_HASH_BITS)
    zero_registers = HLL_M - present
    hll_est = (673 * HLL_M * HLL_M * (1 << _HLL_HASH_BITS)) // (1000 * z40)
    n_exact = orders.select("o_custkey").distinct().count()
    from doc2vec_spark.functions.localframe import local_frame

    if not reg_rows:  # empty orders: the oracle's register CTE is empty
        return spark.createDataFrame(
            [],
            "reg long, r_max long, hll_est long, zero_registers long, n_exact long",
        )
    return local_frame(
        spark,
        [
            (reg, r_max, hll_est, zero_registers, n_exact)
            for reg, r_max in reg_rows
        ],
        "reg long, r_max long, hll_est long, zero_registers long, n_exact long",
    )
