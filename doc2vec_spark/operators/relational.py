"""Relational operator inventory (SURVEY.md sections 2.3-2.8) as oracle-checked
query specs over the driver testdata.

Each entry re-expresses one reference operator Spark-first:
filters (P*), joins (J*), aggregations (A*), top-k/sorts (T*), set ops (U*),
scalar functions (F*). The DuckDB oracle runs the semantically identical
ANSI SQL. Doubles that flow through arithmetic are rounded identically on
both sides (raw pass-through doubles are left exact); doubles are never cast
to strings (formatting differs across engines) — DECIMAL casts are used
whenever a numeric feeds a hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from doc2vec_spark.functions import has_extension, md5_uuid, normalize_url, sha256_hex, url_prefix
from doc2vec_spark.functions.rounding import det_avg, pround, sql_det_avg
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


# ---------------------------------------------------------------------------
# Shared building blocks
# ---------------------------------------------------------------------------

# Synthetic document URL (testdata has no url column; the reference's P2/P3/F3
# operators act on URL-shaped strings, so we derive one deterministically).
def _doc_url() -> F.Column:
    ext = (
        F.when(F.col("doc_id") % 3 == 0, ".md")
        .when(F.col("doc_id") % 3 == 1, ".html")
        .otherwise(".PDF")
    )
    return F.concat(
        F.lit("https://docs.example.com/"),
        F.col("source"),
        F.lit("/p"),
        F.col("doc_id").cast("string"),
        ext,
    )


_DOC_URL_SQL = (
    "'https://docs.example.com/' || source || '/p' || doc_id::VARCHAR || "
    "CASE WHEN doc_id % 3 = 0 THEN '.md' WHEN doc_id % 3 = 1 THEN '.html' ELSE '.PDF' END"
)


# Per-lineitem content hash, cast through DECIMAL so the string fed to sha256
# is formatting-stable across engines (doubles stringify differently).
def _line_hash() -> F.Column:
    return sha256_hex(
        F.concat_ws(
            "|",
            F.col("l_linenumber").cast("string"),
            F.col("l_quantity").cast("decimal(12,2)").cast("string"),
            F.col("l_extendedprice").cast("decimal(14,2)").cast("string"),
        )
    )


_LINE_HASH_SQL = (
    "sha256(l_linenumber::VARCHAR || '|' || CAST(l_quantity AS DECIMAL(12,2))::VARCHAR"
    " || '|' || CAST(l_extendedprice AS DECIMAL(14,2))::VARCHAR)"
)


# ---------------------------------------------------------------------------
# P — projections / filters (SURVEY 2.3; reference mcp/src/server.ts:70-107,455-458)
# ---------------------------------------------------------------------------


@_register(
    "p1_metadata_filter",
    "SELECT doc_id, lang, source, n_chars FROM documents WHERE lang = 'en' AND source = 'src3'",
    "P1 metadata equality pre-filter (mcp/src/server.ts:455-458)",
)
def p1_metadata_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .filter((F.col("lang") == "en") & (F.col("source") == "src3"))
        .select("doc_id", "lang", "source", "n_chars")
    )


@_register(
    "p2_url_prefix_filter",
    f"SELECT doc_id, url FROM (SELECT doc_id, {_DOC_URL_SQL} AS url FROM documents) "
    "WHERE starts_with(url, 'https://docs.example.com/src1/')",
    "P2 URL-prefix filter (mcp/src/server.ts:78-98) — pushed below top-k, not post-filtered",
)
def p2_url_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").withColumn("url", _doc_url())
    return docs.filter(F.col("url").startswith("https://docs.example.com/src1/")).select(
        "doc_id", "url"
    )


@_register(
    "p3_extension_filter",
    f"SELECT doc_id, url FROM (SELECT doc_id, {_DOC_URL_SQL} AS url FROM documents) "
    "WHERE ends_with(lower(url), '.md') OR ends_with(lower(url), '.pdf')",
    "P3 extension post-filter with case normalization (mcp/src/server.ts:70-95)",
)
def p3_extension_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").withColumn("url", _doc_url())
    return docs.filter(has_extension(F.col("url"), ["md", ".PDF"])).select("doc_id", "url")


@_register(
    "p4_p6_content_guards",
    "SELECT doc_id, n_chars FROM documents WHERE trim(text) <> '' AND n_chars <= 400",
    "P4 non-empty-content + P6 max-size guard (mcp/src/server.ts:100-107, content-processor.ts:1002-1005)",
)
def p4_p6_content_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .filter((F.trim(F.col("text")) != "") & (F.col("n_chars") <= 400))
        .select("doc_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# J — joins (SURVEY 2.4; reference database.ts:522-547, doc2vec.ts:1189-1199,...)
# ---------------------------------------------------------------------------


@_register(
    "j1_anti_join_cleanup",
    "SELECT c_custkey, c_name FROM customer c "
    "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    "J1 left-anti cleanup join (database.ts:533-541): rows with no match in the visited set",
)
def j1_anti_join_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@_register(
    "j2_semi_join_allowlist",
    "SELECT p_partkey, p_name FROM part p "
    "WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 49)",
    "J2 left-semi allow-list join (doc2vec.ts:1189-1199): keep only keys in the changed set",
)
def j2_semi_join_allowlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    changed = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
    return part.join(changed, part.p_partkey == changed.l_partkey, "left_semi").select(
        "p_partkey", "p_name"
    )


@_register(
    "j3_broadcast_hash_lookup",
    "SELECT p_brand, floor((SUM(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue, "
    "COUNT(*) AS line_count FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE p_size < 10 GROUP BY p_brand",
    "J3 hash equi-lookup (database.ts:387) as an explicit broadcast join: small dim side ships to executors",
)
def j3_broadcast_hash_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


@_register(
    "j4_left_outer_enrich",
    "SELECT c_custkey, COUNT(o_orderkey) AS order_count, "
    "strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_order_day "
    "FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey",
    "J4 left-outer enrichment join (chunk-inspector.ts:121-129): chunks x creation dates",
)
def j4_left_outer_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order_day"),
        )
    )


_J5_SQL = f"""
WITH h AS (
  SELECT l_orderkey, {_LINE_HASH_SQL} AS h, l_shipdate FROM lineitem
),
stored AS (
  SELECT l_orderkey, list(h ORDER BY h) AS hs FROM h
  WHERE l_shipdate < TIMESTAMP '1999-01-01' GROUP BY l_orderkey
),
current AS (
  SELECT l_orderkey, list(h ORDER BY h) AS hs FROM h
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' GROUP BY l_orderkey
)
SELECT COALESCE(stored.l_orderkey, current.l_orderkey) AS o_orderkey,
       CASE WHEN stored.l_orderkey IS NULL THEN 'new'
            WHEN current.l_orderkey IS NULL THEN 'deleted'
            WHEN stored.hs = current.hs THEN 'unchanged'
            ELSE 'updated' END AS status
FROM stored FULL OUTER JOIN current ON stored.l_orderkey = current.l_orderkey
"""


def _j5_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 grouped set-equality diff (doc2vec.ts:1936-1955, database.ts:726-770):
    compare the multiset of chunk hashes per document between the stored
    state and the current state -> {new, updated, unchanged, deleted}.

    Count-equality shape (r22, guide §2.4 / VERDICT r21 #1): equality of
    the two SORTED hash lists is exactly multiset equality, which is
    exactly "for every hash value, both sides saw it the same number of
    times" — h is sha256_hex over concat_ws, never NULL, so no list-elides-
    NULL edge exists. One pass over the scan computes per-row side
    membership flags; ONE hash-partition exchange on the diff key then
    feeds both the per-(key,h) count aggregation and the per-key status
    aggregation (subset-clustering, no further exchange), replacing the
    r21 shape's two collect_list buffers + full-outer SortMergeJoin (and
    its two sorts, and the shared-scan cache fill). r21 measured medians
    at sf0.1: plain 1.83 s, shared-scan+join 1.49 s; this shape has one
    Exchange, zero joins, zero sorts, and shuffles flag ints instead of a
    timestamp per row. (The r21-refuted "fused single-pass" variant was a
    double collect_list buffer — the loss was the list buffers, not the
    single pass.)
    """
    # The hash is consumed ONLY for equality, so group on its exact
    # preimage instead of computing it (guide §2.3 "shuffle keys, not
    # payloads"): h = sha256_hex(concat_ws('|', ln, qd, ed)) where ln is an
    # int string and qd/ed are fixed-scale decimal strings — none contain
    # '|', so concat_ws is injective on the cast triple, and sha256 is
    # deterministic, so equal triples always hash equal; distinct triples
    # hash distinct absent a sha256 collision (none exists). Per-(key,
    # triple) counts therefore decide exactly what per-(key, h) counts
    # decide, without the sha2 map cost and with ~20-byte fixed-width keys
    # through the exchange instead of a 64-char string.
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").cast("decimal(12,2)").alias("qd"),
        F.col("l_extendedprice").cast("decimal(14,2)").alias("ed"),
        (F.col("l_shipdate") < "1999-01-01").cast("int").alias("in_s"),
        (F.col("l_shipdate") >= "1997-01-01").cast("int").alias("in_c"),
    )
    # the two side predicates cover every row (< 1999 or >= 1997 is a
    # tautology), but keep the guard structural: a row in NEITHER side must
    # not manufacture a (key, h) group — the join shape would never see it
    per_h = (
        li.filter((F.col("in_s") + F.col("in_c")) > 0)
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "ln", "qd", "ed")
        .agg(F.sum("in_s").alias("ns"), F.sum("in_c").alias("nc"))
    )
    per_key = per_h.groupBy("l_orderkey").agg(
        F.max("ns").alias("max_ns"),
        F.max("nc").alias("max_nc"),
        F.max((F.col("ns") != F.col("nc")).cast("int")).alias("mm"),
    )
    status = (
        F.when(F.col("max_ns") == 0, "new")  # no stored rows at all
        .when(F.col("max_nc") == 0, "deleted")  # no current rows at all
        .when(F.col("mm") == 0, "unchanged")  # every h count-matches
        .otherwise("updated")
    )
    return per_key.select(F.col("l_orderkey").alias("o_orderkey"), status.alias("status"))


@_register(
    "j5_set_equality_diff",
    _J5_SQL,
    "J5 grouped hash-multiset change detection (doc2vec.ts:1936-1955)",
)
def j5_set_equality_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _j5_status(spark, sf_dir)


@_register(
    "j6_prefix_join",
    f"""
    WITH docs AS (SELECT doc_id, {_DOC_URL_SQL} AS url FROM documents),
    prefixes AS (
      SELECT DISTINCT 'https://docs.example.com/' || source AS prefix
      FROM documents WHERE source IN ('src1', 'src2', 'src3')
    )
    SELECT doc_id, prefix FROM docs
    JOIN prefixes ON regexp_extract(url, '^(https://docs\\.example\\.com/[^/]+)', 1) = prefix
    """,
    "J6 url-LIKE-prefix join (database.ts:523-529) as an equi-join on a computed prefix column "
    "(broadcastable; no LIKE scan)",
)
def j6_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", _doc_url().alias("url"))
    prefixes = (
        load(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src1", "src2", "src3"))
        .select(F.concat(F.lit("https://docs.example.com/"), F.col("source")).alias("prefix"))
        .distinct()
    )
    computed = docs.withColumn(
        "prefix", url_prefix(F.col("url"), r"^(https://docs\.example\.com/[^/]+)")
    )
    return computed.join(F.broadcast(prefixes), "prefix").select("doc_id", "prefix")


@_register(
    "j7_latest_run_per_config",
    "SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day FROM ("
    "  SELECT o_custkey, o_orderkey, o_orderdate, "
    "  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn"
    "  FROM orders) WHERE rn = 1",
    "J7 DISTINCT ON / last-run-per-config (controller/store.ts:195-200) via row_number window",
)
def j7_latest_run_per_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        )
    )


# ---------------------------------------------------------------------------
# A — aggregations (SURVEY 2.5; reference database.ts:726-770, controller/store.ts:262-324)
# ---------------------------------------------------------------------------


@_register(
    "a1_hash_multiset_per_url",
    f"SELECT l_orderkey, string_agg(h, ',' ORDER BY h) AS hashes FROM "
    f"(SELECT l_orderkey, {_LINE_HASH_SQL} AS h FROM lineitem) GROUP BY l_orderkey",
    "A1 per-URL sorted hash multiset (database.ts:730-770)",
)
def a1_hash_multiset_per_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", _line_hash().alias("h"))
    return li.groupBy("l_orderkey").agg(
        F.array_join(F.sort_array(F.collect_list("h")), ",").alias("hashes")
    )


@_register(
    "a2_distinct_urls",
    "SELECT DISTINCT lang, source FROM documents",
    "A2 SELECT DISTINCT url-by-prefix (database.ts:685-689)",
)
def a2_distinct_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").select("lang", "source").distinct()


@_register(
    "a3_run_counters",
    f"SELECT status, COUNT(*) AS n FROM ({_J5_SQL}) GROUP BY status",
    "A3 run counters derived from the J5 status column (types.ts:158-178) — "
    "a declarative agg instead of the reference's mutable counters",
)
def a3_run_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r22: the count-equality _j5_status has one exchange and no join; the
    # status rollup adds only a partial-aggregated tiny exchange on status
    return (
        _j5_status(spark, sf_dir)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "a3_sync_diff_counters",
    f"""WITH li AS (SELECT l_orderkey::VARCHAR AS url, {_LINE_HASH_SQL} AS h, l_orderkey AS k FROM lineitem),
    new_chunks AS (SELECT url, h FROM li WHERE k % 11 <> 0),
    stored AS (SELECT url, CASE WHEN k % 5 = 0 THEN 'X' ELSE h END AS h FROM li WHERE k % 7 <> 0),
    agg_new AS (SELECT url, list_sort(list(h)) AS nh FROM new_chunks GROUP BY url),
    agg_old AS (SELECT url, list_sort(list(h)) AS oh FROM stored GROUP BY url),
    j AS (SELECT coalesce(n.url, o.url) AS url, nh, oh
          FROM agg_new n FULL OUTER JOIN agg_old o ON n.url = o.url)
    SELECT CASE WHEN oh IS NULL THEN 'new' WHEN nh IS NULL THEN 'deleted'
                WHEN nh = oh THEN 'unchanged' ELSE 'updated' END AS status,
           COUNT(*) AS n
    FROM j GROUP BY 1""",
    "A3 via the REAL sync path (r5 #6 debt): sync.py::diff_status's grouped "
    "hash-multiset full-outer diff (doc2vec.ts:1936-1955) run on a "
    "deterministic corpus perturbation — urls absent from the store (k%7=0) "
    "read as new, urls dropped from the listing (k%11=0) as deleted, urls "
    "whose stored hashes were rewritten (k%5=0) as updated — then the A3 "
    "counter aggregation (types.ts:158-178). a3_run_counters checks the "
    "relational J5 twin; this entry hash-checks the sync module itself.",
)
def a3_sync_diff_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.sync import diff_status

    # r22: diff_status is now the count-equality union shape (one exchange,
    # no collect_list buffers, no full-outer join — see sync.py), so the r21
    # scoped_cache + repartition("url") staging here became dead weight: the
    # union inside diff_status destroys any pre-established partitioning, so
    # the cache fill + repartition exchange bought nothing the diff's own
    # single exchange doesn't provide. Two plain scan branches feed it
    # directly. This query's reason to exist is unchanged: it oracle-covers
    # the real sync-module diff operator.
    #
    # The hash column feeds ONLY equality comparison inside diff_status, so
    # ship sha256's PREIMAGE (the '|'-joined cast strings — injective: int/
    # fixed-scale-decimal strings never contain '|') instead of the digest:
    # equal preimages hash equal (sha256 deterministic), distinct preimages
    # hash distinct absent a sha256 collision (none exists), and the 'X'
    # substitution below collides with neither a digest nor a preimage
    # (every preimage contains '|'). Drops the sha2 map pass on both union
    # branches and shuffles ~30-byte strings instead of 64-char digests.
    enc = F.concat_ws(
        "|",
        F.col("l_linenumber").cast("string"),
        F.col("l_quantity").cast("decimal(12,2)").cast("string"),
        F.col("l_extendedprice").cast("decimal(14,2)").cast("string"),
    )
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("url"),
        enc.alias("hash"),
        F.col("l_orderkey").alias("k"),
    )
    new_chunks = li.filter(F.col("k") % 11 != 0).select("url", "hash")
    stored = li.filter(F.col("k") % 7 != 0).select(
        "url",
        F.when(F.col("k") % 5 == 0, F.lit("X")).otherwise(F.col("hash")).alias("hash"),
    )
    return (
        diff_status(new_chunks, stored)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "a4_log_level_counts",
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
    "A4 log level counts (controller/store.ts:262-271)",
)
def a4_log_level_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )


@_register(
    "a5_daily_run_stats",
    "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type, "
    "COUNT(*) AS n, " + sql_det_avg("SUM(value)", "COUNT(*)") + " AS avg_value, "
    "COUNT(*) FILTER (WHERE value > 100) AS high_count "
    "FROM events GROUP BY 1, 2",
    "A5 daily stats with FILTER-style conditional counts (controller/store.ts:286-324)",
)
def a5_daily_run_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        det_avg(F.sum("value"), F.count(F.lit(1))).alias("avg_value"),
        F.count(F.when(F.col("value") > 100, 1)).alias("high_count"),
    )


@_register(
    "a6_max_mtime",
    "SELECT event_type, strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts FROM events GROUP BY event_type",
    "A6 max modification time over scanned files (content-processor.ts:1839-1908)",
)
def a6_max_mtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"))
    )


@_register(
    "a7_total_chunks_window",
    "SELECT l_orderkey, l_linenumber, COUNT(*) OVER (PARTITION BY l_orderkey) AS total_chunks "
    "FROM lineitem",
    "A7 total_chunks per page via window count (content-processor.ts:2329-2332)",
)
def a7_total_chunks_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("l_orderkey")
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.count(F.lit(1)).over(w).alias("total_chunks")
    )


@_register(
    "a8_severity_counts",
    "SELECT user_id, COUNT(*) FILTER (WHERE event_type = 'error') AS error_count, "
    "COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase_count "
    "FROM events GROUP BY user_id",
    "A8 warn/error counts per run (controller/job-runner.ts:194-196)",
)
def a8_severity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "error", 1)).alias("error_count"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchase_count"),
    )


# ---------------------------------------------------------------------------
# T — top-k / sorts / limits (SURVEY 2.6; reference mcp/src/server.ts:448-606)
# ---------------------------------------------------------------------------


@_register(
    "t3_ordered_chunk_range",
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
    "WHERE l_orderkey % 100 = 1 AND l_linenumber BETWEEN 2 AND 5",
    "T3 (url, chunk_index) range scan (mcp/src/server.ts:524-550)",
)
def t3_ordered_chunk_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_orderkey") % 100 == 1) & F.col("l_linenumber").between(2, 5))
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@_register(
    "t4_page_reconstruction",
    "SELECT l_orderkey, string_agg(l_returnflag || l_linestatus, ' ' "
    "ORDER BY l_linenumber, l_returnflag || l_linestatus) "
    "AS page FROM lineitem GROUP BY l_orderkey",
    "T4 page reconstruction: concat chunks ordered by chunk_index (README.md:85-103)",
)
def t4_page_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.struct(
            F.col("l_linenumber").alias("idx"),
            F.concat("l_returnflag", "l_linestatus").alias("piece"),
        ).alias("chunk"),
    )
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("chunk")), lambda c: c.piece), " "
        ).alias("page")
    )


@_register(
    "t5_keyset_pagination",
    "SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day "
    "FROM orders WHERE o_orderkey < 800 ORDER BY o_orderkey DESC LIMIT 20",
    "T5 keyset pagination: id < before ORDER BY id DESC LIMIT n (controller/store.ts:170-192)",
)
def t5_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 800)
        .orderBy(F.desc("o_orderkey"))
        .limit(20)
        .select(
            "o_orderkey",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        )
    )


@_register(
    "t7_tail_start_seq",
    "SELECT MIN(event_id) AS start_seq FROM "
    "(SELECT event_id FROM events ORDER BY event_id DESC LIMIT 10)",
    "T7 tail-N start seq (controller/store.ts:253-259) — top-k then min, no full sort",
)
def t7_tail_start_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .select("event_id")
        .orderBy(F.desc("event_id"))
        .limit(10)
        .agg(F.min("event_id").alias("start_seq"))
    )


@_register(
    "t6_log_paging",
    "SELECT event_id AS seq, event_type AS level, props AS message FROM events "
    "WHERE user_id = 7 AND event_id > 500 "
    "AND event_type IN ('click', 'view', 'error') AND lower(props) LIKE '%9%' "
    "ORDER BY seq LIMIT 5",
    "T6 + F16 via the REAL ops path (r5 #6 debt): ops.py::page_logs "
    "(store.ts:224-247) — seq-keyset paging with ILIKE keyword and level "
    "filters and the row cap — over an events-shaped log frame. The LIMIT "
    "binds below the match count, so the value hash checks the keyset "
    "ordering, not just the filter set.",
)
def t6_log_paging(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.ops import page_logs

    logs = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("run_id"),
        F.col("event_id").alias("seq"),
        F.col("event_type").alias("level"),
        F.col("props").alias("message"),
    )
    return page_logs(
        logs, run_id=7, after_seq=500, keyword="9",
        levels=["click", "view", "error"], limit=5,
    ).select("seq", "level", "message")


@_register(
    "t8_deterministic_chunk_sort",
    "SELECT url, chunk_index, chunk_id, "
    "ROW_NUMBER() OVER (ORDER BY chunk_index, chunk_id) AS pos FROM "
    "(SELECT 'u' || l_orderkey::VARCHAR AS url, l_linenumber % 3 AS chunk_index, "
    "l_linenumber AS chunk_id FROM lineitem) "
    "WHERE url = 'u1' AND chunk_index BETWEEN 0 AND 1",
    "T8 via the REAL query path (r5 #6 debt): query.py::get_chunks "
    "(mcp/src/server.ts:524-550) two-key deterministic (chunk_index, "
    "chunk_id) ordered range scan, with chunk_index COLLIDING by design "
    "(l_linenumber % 3) so the chunk_id tiebreak is exercised; the emitted "
    "row_number bakes the total order into the value hash (the driver "
    "compare is order-insensitive, so position must be a column).",
)
def t8_deterministic_chunk_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.query import get_chunks

    chunks = load(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("u"), F.col("l_orderkey").cast("string")).alias("url"),
        (F.col("l_linenumber") % 3).alias("chunk_index"),
        F.col("l_linenumber").alias("chunk_id"),
    )
    ordered = get_chunks(chunks, "u1", start_index=0, end_index=1)
    w = Window.orderBy("chunk_index", "chunk_id")
    return ordered.withColumn("pos", F.row_number().over(w))


# ---------------------------------------------------------------------------
# U — set ops & dedup (SURVEY 2.7; reference content-processor.ts:569-789)
# ---------------------------------------------------------------------------


@_register(
    "u1_frontier_except",
    "SELECT DISTINCT source FROM documents "
    "EXCEPT SELECT DISTINCT source FROM documents WHERE lang = 'zh'",
    "U1 crawl-frontier visited-set subtraction (content-processor.ts:569-571)",
)
def u1_frontier_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    frontier = docs.select("source").distinct()
    visited = docs.filter(F.col("lang") == "zh").select("source").distinct()
    return frontier.subtract(visited)


@_register(
    "u2_dedup_by_key",
    "SELECT lang, source, doc_id FROM ("
    "  SELECT lang, source, doc_id, "
    "  ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn FROM documents"
    ") WHERE rn = 1",
    "U2 dedup by (source,target) key keeping a deterministic representative "
    "(doc2vec.ts:786-800) — row_number, not dropDuplicates, for determinism",
)
def u2_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    return (
        load(spark, sf_dir, "documents")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", "source", "doc_id")
    )


@_register(
    "u4_union_distinct",
    "SELECT c_nationkey AS nationkey FROM customer "
    "UNION SELECT s_nationkey AS nationkey FROM supplier",
    "U4 union of url sets + distinct (content-processor.ts:375-437)",
)
def u4_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


# ---------------------------------------------------------------------------
# F — scalar functions (SURVEY 2.8; reference utils.ts)
# ---------------------------------------------------------------------------


@_register(
    "f1_sha256_hash",
    "SELECT doc_id, sha256(text) AS content_hash FROM documents",
    "F1 sha256 content hash (utils.ts:6-8) — native sha2, no UDF",
)
def f1_sha256_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").select(
        "doc_id", sha256_hex(F.col("text")).alias("content_hash")
    )


@_register(
    "f2_md5_uuid",
    "SELECT doc_id, "
    "substr(md5(text),1,8) || '-' || substr(md5(text),9,4) || '-' || substr(md5(text),13,4)"
    " || '-' || substr(md5(text),17,4) || '-' || substr(md5(text),21,12) AS point_id "
    "FROM documents",
    "F2 md5 -> UUID-format point id (utils.ts:10-15,76-86)",
)
def f2_md5_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").select(
        "doc_id", md5_uuid(F.col("text")).alias("point_id")
    )


@_register(
    "f3_url_normalize",
    f"SELECT doc_id, regexp_replace(url || '?ref=nav#sec-2', '[?#].*$', '') AS norm_url "
    f"FROM (SELECT doc_id, {_DOC_URL_SQL} AS url FROM documents)",
    "F3 URL normalization: strip query + fragment (utils.ts:17-24)",
)
def f3_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.concat(_doc_url(), F.lit("?ref=nav#sec-2")).alias("url")
    )
    return docs.select("doc_id", normalize_url(F.col("url")).alias("norm_url"))


@_register(
    "f5_token_estimate",
    r"SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS token_count FROM documents",
    "F5 whitespace token estimate (utils.ts:88-90)",
)
def f5_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.functions import token_count_ws

    return load(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).alias("token_count")
    )


@_register(
    "f14_embed_truncation",
    "SELECT doc_id, substr(text, 1, 200) AS truncated, length(substr(text, 1, 200)) AS trunc_len "
    "FROM documents",
    "F14 embedding-input truncation (doc2vec.ts:2002-2028; 200 stands in for 32764)",
)
def f14_embed_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    truncated = F.substring(F.col("text"), 1, 200)
    return load(spark, sf_dir, "documents").select(
        "doc_id", truncated.alias("truncated"), F.length(truncated).alias("trunc_len")
    )


@_register(
    "f16_keyword_search",
    "SELECT doc_id FROM documents WHERE contains(lower(text), 'spark window')",
    "F16 ILIKE keyword search (controller/store.ts:236-239)",
)
def f16_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .filter(F.lower(F.col("text")).contains("spark window"))
        .select("doc_id")
    )
