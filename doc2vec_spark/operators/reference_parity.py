"""Remaining SURVEY section-2 line items as oracle-checked specs:
F4 url admission predicates, F11 issue->markdown templating, T2 over-fetch
parity mode, U3 sorted-array equality, W1 longest-prefix lastmod inheritance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from doc2vec_spark.functions.rounding import pround
from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


# urls with a directory-like variant so the admission predicate has all
# three branches to exercise (dir-like / no-ext / known-ext / other-ext)
_URL = (
    "CASE WHEN doc_id % 7 = 0 THEN 'https://docs.example.com/' || source || '/'"
    " WHEN doc_id % 7 = 1 THEN 'https://docs.example.com/' || source || '/page' || doc_id::VARCHAR"
    " ELSE 'https://docs.example.com/' || source || '/p' || doc_id::VARCHAR ||"
    " CASE WHEN doc_id % 3 = 0 THEN '.html' WHEN doc_id % 3 = 1 THEN '.PDF' ELSE '.png' END"
    " END"
)


def _url_col() -> F.Column:
    base = F.concat(F.lit("https://docs.example.com/"), F.col("source"))
    ext = (
        F.when(F.col("doc_id") % 3 == 0, ".html")
        .when(F.col("doc_id") % 3 == 1, ".PDF")
        .otherwise(".png")
    )
    return (
        F.when(F.col("doc_id") % 7 == 0, F.concat(base, F.lit("/")))
        .when(
            F.col("doc_id") % 7 == 1,
            F.concat(base, F.lit("/page"), F.col("doc_id").cast("string")),
        )
        .otherwise(
            F.concat(base, F.lit("/p"), F.col("doc_id").cast("string"), ext)
        )
    )


_PATH_SQL = "regexp_extract(url, '^https?://[^/]+(/[^?#]*)', 1)"
_EXT_SQL = f"lower(regexp_extract({_PATH_SQL}, '(\\.[^./]+)$', 1))"


@_register(
    "f4_url_admission",
    f"""
    SELECT doc_id, url,
      CASE WHEN ends_with({_PATH_SQL}, '/') THEN 1
           WHEN {_EXT_SQL} = '' THEN 1
           WHEN {_EXT_SQL} IN ('.html', '.htm', '.pdf') THEN 1
           ELSE 0 END AS should_process,
      CASE WHEN {_EXT_SQL} = '.pdf' THEN 1 ELSE 0 END AS is_pdf
    FROM (SELECT doc_id, {_URL} AS url FROM documents)
    """,
    "F4 shouldProcessUrl/isPdfUrl (utils.ts:48-69): directory-like and "
    "extension admission as native expressions",
)
def f4_url_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", _url_col().alias("url"))
    path = F.regexp_extract("url", r"^https?://[^/]+(/[^?#]*)", 1)
    ext = F.lower(F.regexp_extract(path, r"(\.[^./]+)$", 1))
    should = (
        F.when(path.endswith("/"), 1)
        .when(ext == "", 1)
        .when(ext.isin(".html", ".htm", ".pdf"), 1)
        .otherwise(0)
    )
    return docs.select(
        "doc_id",
        "url",
        should.alias("should_process"),
        F.when(ext == ".pdf", 1).otherwise(0).alias("is_pdf"),
    )


@_register(
    "f11_issue_markdown",
    """
    SELECT doc_id,
           '# Doc #' || doc_id::VARCHAR || ': ' || source || chr(10) || chr(10) ||
           '**Language**: ' || lang || chr(10) || '**Length**: ' || n_chars::VARCHAR
           || chr(10) || chr(10) || substr(text, 1, 120) AS markdown
    FROM documents
    """,
    "F11 issue/ticket -> markdown templating (doc2vec.ts:441-465) as pure "
    "string expressions",
)
def f11_issue_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    md = F.concat(
        F.lit("# Doc #"),
        F.col("doc_id").cast("string"),
        F.lit(": "),
        F.col("source"),
        F.lit("\n\n**Language**: "),
        F.col("lang"),
        F.lit("\n**Length**: "),
        F.col("n_chars").cast("string"),
        F.lit("\n\n"),
        F.substring("text", 1, 120),
    )
    return docs.select("doc_id", md.alias("markdown"))


@_register(
    "t2_overfetch_parity",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    d AS (
      SELECT vec_id, label,
             1 - list_dot_product(e, qe) / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))) AS dist
      FROM (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings), q
    ),
    fetched AS (SELECT * FROM d ORDER BY dist, vec_id LIMIT 15)
    SELECT vec_id, label, floor((dist) * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS distance
    FROM fetched WHERE label IN (2, 3) ORDER BY dist, vec_id LIMIT 5
    """,
    "T2 over-fetch parity mode (mcp/src/server.ts:134-135): fetch 3x k, THEN "
    "post-filter, THEN slice — reproducing the reference's may-return-fewer "
    "behavior exactly (the engine-native path pushes the filter below top-k "
    "instead: t1_knn_filtered)",
)
def t2_overfetch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.functions.vectors import as_double_array, cosine_distance_lit

    emb = load(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:  # no query row: oracle's q CTE is empty -> 0 rows
        return spark.createDataFrame([], "vec_id long, label int, distance double")
    qvec = qrow["embedding"]
    scored = emb.select(
        "vec_id",
        "label",
        cosine_distance_lit(as_double_array(F.col("embedding")), qvec).alias("dist"),
    )
    fetched = scored.orderBy(F.asc("dist"), F.asc("vec_id")).limit(15)
    return (
        fetched.filter(F.col("label").isin(2, 3))
        .orderBy(F.asc("dist"), F.asc("vec_id"))
        .limit(5)
        .select("vec_id", "label", (pround(F.col("dist"), 6) + 0.0).alias("distance"))
    )


@_register(
    "u3_sorted_array_equality",
    """
    WITH stored AS (
      SELECT l_orderkey, list(l_linenumber ORDER BY l_linenumber, l_quantity) AS xs
      FROM lineitem WHERE l_shipdate < TIMESTAMP '1999-01-01' GROUP BY 1
    ),
    current AS (
      SELECT l_orderkey, list(l_linenumber ORDER BY l_linenumber, l_quantity) AS xs
      FROM lineitem GROUP BY 1
    )
    SELECT stored.l_orderkey AS o_orderkey,
           CASE WHEN stored.xs = current.xs THEN 1 ELSE 0 END AS arrays_equal
    FROM stored JOIN current ON stored.l_orderkey = current.l_orderkey
    """,
    "U3 sorted-array multiset equality (doc2vec.ts:1947-1949)",
)
def u3_sorted_array_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")

    def agg(df):
        return df.groupBy("l_orderkey").agg(
            F.sort_array(
                F.collect_list(F.struct("l_linenumber", "l_quantity"))
            ).alias("pairs")
        ).select(
            "l_orderkey",
            F.transform(F.col("pairs"), lambda s: s.l_linenumber).alias("xs"),
        )

    stored = agg(li.filter(F.col("l_shipdate") < "1999-01-01"))
    current = agg(li)
    return (
        stored.alias("s")
        .join(current.alias("c"), "l_orderkey")
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.when(F.col("s.xs") == F.col("c.xs"), 1).otherwise(0).alias("arrays_equal"),
        )
    )


@_register(
    "w1_prefix_inheritance",
    """
    WITH pages AS (
      SELECT doc_id, 'https://docs.example.com/' || source || '/p' || doc_id::VARCHAR AS url
      FROM documents
    ),
    prefixes AS (
      SELECT 'https://docs.example.com/' || source AS prefix,
             strftime(MAX(make_timestamp(1704067200000000 + doc_id * 86400000000)), '%Y-%m-%d') AS lastmod
      FROM documents GROUP BY source
      UNION ALL
      SELECT 'https://docs.example.com' AS prefix, '2023-12-31' AS lastmod
    )
    SELECT doc_id, lastmod AS inherited_lastmod FROM (
      SELECT doc_id, lastmod,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY length(prefix) DESC, prefix) AS rn
      FROM pages JOIN prefixes ON starts_with(pages.url, prefixes.prefix)
    ) WHERE rn = 1
    """,
    "W1 longest-prefix lastmod inheritance (content-processor.ts:386-434): "
    "pages without their own lastmod inherit the most specific section entry "
    "via prefix join + max-length window",
)
def w1_prefix_inheritance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://docs.example.com/"),
            F.col("source"),
            F.lit("/p"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    section = docs.groupBy("source").agg(
        F.date_format(
            F.max(F.timestamp_micros(F.lit(1704067200000000) + F.col("doc_id") * 86400000000)),
            "yyyy-MM-dd",
        ).alias("lastmod")
    ).select(
        F.concat(F.lit("https://docs.example.com/"), F.col("source")).alias("prefix"),
        "lastmod",
    )
    root = spark.createDataFrame(
        [("https://docs.example.com", "2023-12-31")], "prefix string, lastmod string"
    )
    prefixes = section.unionByName(root)
    # EQUI-join, not a startswith theta-join: sitemap section prefixes are
    # URL-directory-boundary-aligned, so each page's candidate matches are
    # exactly its "/"-boundary ancestors — a bounded explode (url depth) that
    # turns the prefix match into a broadcast HASH join. The startswith
    # formulation compiles to BroadcastNestedLoopJoin: same result here, but
    # O(pages x prefixes) comparisons instead of O(pages x depth) probes.
    # PERF CONTRACT (r19, the r18 18x class; caught by the plan lint): the
    # url split is BOUND to a column before the ancestor lambda slices it —
    # inlined, every slice(parts, 1, k) carries its own copy of the split,
    # re-splitting the url once per ancestor index, interpreted.
    bound = pages.select(
        "doc_id", "url", F.split(F.col("url"), "/").alias("parts")
    )
    parts = F.col("parts")
    ancestors = F.transform(
        F.sequence(F.lit(3), F.size(parts)),
        lambda k: F.array_join(F.slice(parts, 1, k), "/"),
    )
    candidates = bound.select(
        "doc_id", "url", F.explode(ancestors).alias("prefix")
    )
    joined = candidates.join(F.broadcast(prefixes), "prefix")
    w = Window.partitionBy("doc_id").orderBy(F.length("prefix").desc(), F.col("prefix"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lastmod").alias("inherited_lastmod"))
    )
