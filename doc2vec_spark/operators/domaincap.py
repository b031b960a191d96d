"""Per-domain token-budget cap (round 13): the domain-balancing admission
rule of web-scale corpus construction.

Raw crawls are dominated by a handful of giant domains; every published
LLM data recipe caps what any one domain may contribute (C4 keeps three
sentences-per-page dedup + domain blocklists; Gopher/MassiveText and
LLaMA's CCNet pipeline cap per-domain document/token mass before mixing).
The reference engine has no corpus plane at all (its scope is one
documentation site per config, ``website-source`` in SURVEY §2) — this is
the operator a user needs the moment the same engine ingests an open
crawl.

Semantics (replay-exact, engine-agnostic): within each domain (``source``)
documents are laid end-to-end in a deterministically shuffled order
(md5(doc_id) — the pipe_pps_systematic_sample line discipline), and a
document is ADMITTED iff it *starts* before the domain's token budget
CAP_TOKENS is exhausted: kept iff cum - w < CAP. The first document of
every domain is therefore always kept (no empty domains), oversized
single documents don't deadlock the rule, and re-running the pipeline —
or running it in DuckDB — admits the identical set.

Scale story — the per-domain prefix sum is the trap. One window
partitioned by domain serializes each domain through one task: fine for a
million small domains, fatal for the mega-domain (the actual reason the
cap exists). This implements the two-level distributed prefix sum of
sampling.py entirely IN the DataFrame plan, no driver state:

  1. per-(domain, bucket) windowed cumsum, bucket = first two md5 hex
     digits (256-way parallel inside every domain; bucket is a PREFIX of
     the order key, so bucket-major concatenation IS the domain order);
  2. bucket offsets = a second windowed cumsum over the (domain, bucket)
     TOTALS frame — 256 rows per domain, trivially parallel across
     domains (unbounded domain count never touches the driver, unlike a
     collect-and-broadcast of offsets);
  3. global in-domain position = offset + local cumsum, map-only after
     one co-partitioned join on (domain, bucket).

The oracle is the textbook single-window form — same integers, different
physical plan, which is what the hash gate is for.

Output is the bounded per-domain audit (one row per domain), not the
admitted doc list: n_docs/n_kept, total/kept token mass, and whether the
cap actually bit — the frame a mixing stage consumes to rebalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doc2vec_spark.spec import registrar
from doc2vec_spark.tables import load

QUERIES, _register = registrar()


# bites at every driver SF (per-source token mass is ~1.2-1.7k at sf0.001/
# 0.01 and ~13-14k at sf0.1) while keeping >= 1 doc per domain
CAP_TOKENS = 800


def domain_capped_positions(docs: DataFrame) -> DataFrame:
    """The reusable core: documents -> (doc_id, source, w, cum) where cum
    is the token-mass position of the document's END on its domain's
    md5-shuffled line. Admission is `cum - w < CAP`; callers needing the
    admitted doc frame filter on that, the registry query aggregates it."""
    line = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("w"),
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
    ).withColumn(
        "bucket",
        F.conv(F.substring(F.col("ord_key"), 1, 2), 16, 10).cast("long"),
    )

    # level 1: 256-way parallel cumsum inside every domain
    wb = Window.partitionBy("source", "bucket").orderBy("ord_key", "doc_id")
    local = line.withColumn("local_cum", F.sum("w").over(wb))

    # level 2: offsets from the totals frame — 256 rows per domain, the
    # window partition is the DOMAIN (each scans <= 256 rows), so offset
    # computation parallelizes across domains and never hits the driver
    totals = line.groupBy("source", "bucket").agg(F.sum("w").alias("t"))
    woff = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "source",
        "bucket",
        F.coalesce(F.sum("t").over(woff), F.lit(0)).cast("long").alias("off"),
    )

    # co-partitioned equi-join on (source, bucket); at driver scale AQE
    # broadcasts the KB-sized offsets side, at mega-domain scale it shuffles
    # on the same key the windows already used
    return local.join(offsets, ["source", "bucket"]).select(
        "doc_id",
        "source",
        "w",
        (F.col("local_cum") + F.col("off")).cast("long").alias("cum"),
    )


@_register(
    "pipe_domain_cap",
    f"""
    WITH line AS (
      SELECT doc_id, source,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS w,
             md5(CAST(doc_id AS VARCHAR)) AS ord_key
      FROM documents),
    cum AS (
      SELECT source, w,
             CAST(SUM(w) OVER (PARTITION BY source ORDER BY ord_key, doc_id)
                  AS BIGINT) AS cum
      FROM line)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cum - w < {CAP_TOKENS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(w) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN cum - w < {CAP_TOKENS} THEN w ELSE 0 END)
                AS BIGINT) AS kept_tokens,
           CAST(SUM(w) > {CAP_TOKENS} AS INT) AS cap_hit
    FROM cum
    GROUP BY source
    """,
    f"Per-domain token cap at {CAP_TOKENS} tokens: docs laid on the "
    "domain's md5-shuffled line, admitted iff they START inside the "
    "budget (first doc always kept; replay-exact across engines). Spark "
    "plan is a fully distributed two-level prefix sum — per-(domain, "
    "md5-bucket) window + a 256-row-per-domain offsets window + one "
    "co-partitioned join; no collect, no global window, mega-domain-safe. "
    "Oracle is the textbook single-window form. Output: bounded one-row-"
    "per-domain admission audit.",
)
def pipe_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cum = domain_capped_positions(docs)
    kept = F.col("cum") - F.col("w") < CAP_TOKENS
    return cum.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(kept.cast("long")).cast("long").alias("n_kept"),
        F.sum("w").cast("long").alias("total_tokens"),
        F.sum(F.when(kept, F.col("w")).otherwise(F.lit(0)))
        .cast("long")
        .alias("kept_tokens"),
        (F.sum("w") > CAP_TOKENS).cast("int").alias("cap_hit"),
    )
