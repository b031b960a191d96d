"""Multimodal columns (BASELINE.json north star): image/audio/video as
opaque binary columns with typed metadata, processed by Arrow-batched
mapInPandas stages.

The Spark-side plumbing — schema, partition-parallel batch shape, UDF
signatures — is real and tested; the codec calls are STUBBED behind
``decode_image_stub`` (this container ships no PIL/ffmpeg): the stub derives
deterministic pseudo-metadata/features from the bytes so pipelines are
testable end-to-end. ``decode_image_real`` raises NotImplementedError with
the exact drop-in point for a real codec.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("data", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source_url", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FEATURE_DIM = 16


def decode_image_real(data: bytes, size: tuple[int, int] = (8, 8)) -> np.ndarray:
    """Real image decode, import-gated on pillow: bytes -> grayscale ->
    resize -> float32 array in [0,1]. When pillow is absent (this container)
    it raises NotImplementedError and callers stay on the deterministic stub;
    when present, tests/test_multimodal_ops.py decodes a real fixture PNG
    through this exact path."""
    try:
        from PIL import Image  # type: ignore[import-not-found]
    except ImportError as e:
        raise NotImplementedError(
            "image codec not installed; use extract_features (deterministic "
            "stub) or install pillow to activate this path"
        ) from e
    import io

    img = Image.open(io.BytesIO(data)).convert("L").resize(size)
    return np.asarray(img, dtype=np.float32) / 255.0


def real_image_feature(data: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Feature from real pixels: decoded 8x8 grayscale thumbnail, flattened
    and L2-normalized, truncated/padded to ``dim`` — the drop-in replacement
    for ``_stub_feature`` once pillow is installed."""
    px = decode_image_real(data).reshape(-1)[:dim]
    if px.size < dim:
        px = np.pad(px, (0, dim - px.size))
    n = float(np.linalg.norm(px))
    return (px / n if n else px).astype(np.float32).tolist()


def _stub_feature(data: bytes) -> list[float]:
    """Deterministic fake embedding from the bytes (embedding.py's digest-
    arithmetic scheme, so the DuckDB oracle can recompute identical float32
    values — see embedding.components_sql/vector_sql)."""
    from doc2vec_spark.embedding import digest_components, unit_vector

    return unit_vector(digest_components(data or b"", FEATURE_DIM)).tolist()


def extract_features(media: DataFrame) -> DataFrame:
    """media(media_id, mime, data, meta) -> per-item features.

    mapInPandas: binary columns arrive as Arrow buffers in zero-copy batches;
    each partition decodes independently — the correct 100 TB shape (media
    bytes never pass through the driver)."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in FEATURE_SCHEMA.fields}
            for mid, mime, data in zip(pdf["media_id"], pdf["mime"], pdf["data"]):
                blob = bytes(data) if data is not None else b""
                out["media_id"].append(mid)
                out["mime"].append(mime)
                out["n_bytes"].append(len(blob))
                out["content_hash"].append(hashlib.sha256(blob).hexdigest())
                out["feature"].append(_stub_feature(blob))
            yield pd.DataFrame(out)

    return media.select("media_id", "mime", "data").mapInPandas(process, FEATURE_SCHEMA)


def media_from_documents(spark, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from `documents`: text bytes as the
    opaque binary payload, mime cycling image/audio/video by doc_id, typed
    metadata synthesized arithmetically. This is the fixture the registry's
    mm_* queries run on — byte-exact in any engine, so binary-column plumbing
    (octet lengths, content hashes, metadata projections, frame explodes)
    gets real driver-verified correctness rows, not just pytest coverage."""
    from doc2vec_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    mime = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        mime.alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("data"),
        F.struct(
            F.concat(F.lit("synthetic://"), F.col("doc_id").cast("string")).alias(
                "source_url"
            ),
            (64 + F.col("doc_id") % 64).cast("int").alias("width"),
            (48 + F.col("doc_id") % 48).cast("int").alias("height"),
            ((F.col("n_chars") % 10 + 1) * 1000).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


_MEDIA_SQL = """
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS mime,
         encode(text) AS data,
         text,
         64 + doc_id % 64 AS width,
         48 + doc_id % 48 AS height,
         (n_chars % 10 + 1) * 1000 AS duration_ms
  FROM documents
"""


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per frame timestamp from
    the metadata (decode stubbed). Shows the explode shape: a 2-hour video
    at 1 fps becomes 7200 rows processed across the cluster."""
    n_frames = F.greatest(
        F.lit(1), (F.col("meta.duration_ms") / every_ms).cast("int")
    )
    return media.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_index"),
    ).withColumn("frame_ts_ms", F.col("frame_index") * every_ms)


# ---------------------------------------------------------------------------
# registry queries (driver-verified multimodal plumbing)
# ---------------------------------------------------------------------------

from doc2vec_spark.spec import registrar  # noqa: E402

QUERIES, _register = registrar()


@_register(
    "mm_media_stats",
    f"""
    SELECT mime, COUNT(*) AS n_items,
           CAST(SUM(octet_length(data)) AS BIGINT) AS total_bytes,  -- DuckDB SUM(BIGINT) is HUGEINT -> pandas float; Spark returns long
           COUNT(DISTINCT sha256(text)) AS n_distinct,  -- sha256 is VARCHAR-only in DuckDB; data IS encode(text), same bytes
           MAX(width) AS max_width
    FROM ({_MEDIA_SQL})
    GROUP BY mime
    """,
    "Per-mime corpus stats over opaque binary payloads: byte totals and "
    "content-hash distinct counts — the scan/agg plumbing every multimodal "
    "pipeline starts with. One shuffle on a 3-value key.",
)
def mm_media_stats(spark, sf_dir: str) -> DataFrame:
    media = media_from_documents(spark, sf_dir)
    return media.groupBy("mime").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.octet_length("data")).alias("total_bytes"),
        F.countDistinct(F.sha2(F.col("data"), 256)).alias("n_distinct"),
        F.max("meta.width").alias("max_width"),
    )


@_register(
    "mm_frame_sample",
    f"""
    SELECT media_id, i AS frame_index, i * 1000 AS frame_ts_ms
    FROM (SELECT media_id, greatest(1, duration_ms // 1000) AS n_frames
          FROM ({_MEDIA_SQL}) WHERE mime = 'video/mp4'),
         unnest(generate_series(0, n_frames - 1)) t(i)
    """,
    "Video frame-sampling plan: metadata-driven explode of per-frame rows "
    "(decode stubbed; the 100 TB point is that a 2-hour video becomes 7200 "
    "independently-processed rows, not one task).",
)
def mm_frame_sample(spark, sf_dir: str) -> DataFrame:
    media = media_from_documents(spark, sf_dir).filter(F.col("mime") == "video/mp4")
    return frame_sample_plan(media, every_ms=1000)


# The binary payload IS encode(text), so md5 over the varchar in the oracles
# below hashes the same bytes the executor-side stub hashes.
from doc2vec_spark.embedding import components_sql as _comps_sql  # noqa: E402
from doc2vec_spark.embedding import vector_sql as _vec_sql  # noqa: E402
from doc2vec_spark.functions.rounding import pround, sql_round  # noqa: E402

@_register(
    "mm_feature_extract",
    f"""
    WITH m AS ({_MEDIA_SQL}),
    c AS (SELECT media_id, mime, octet_length(data) AS n_bytes, sha256(text) AS content_hash,
                 {_comps_sql('text', dim=FEATURE_DIM, truncate=False)} AS comps
          FROM m),
    f AS (SELECT media_id, mime, n_bytes, content_hash, {_vec_sql('comps')} AS feature FROM c)
    SELECT media_id, mime, CAST(n_bytes AS BIGINT) AS n_bytes, content_hash,
           {sql_round("list_sum(list_transform(feature, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))", 4)} AS feature_sq_norm
    FROM f
    """,
    "Arrow-batched feature extraction over binary payloads (deterministic "
    "digest-arithmetic stub decoder; real codec drop-in at decode_image_real). "
    "The oracle replays the md5 integer-component scheme in SQL — norm^2 is "
    "exact-integer, sqrt/divide/float32-cast are IEEE correctly-rounded — so "
    "the mapInPandas stage gets a full value-hash row, not rows-only.",
)
def mm_feature_extract(spark, sf_dir: str) -> DataFrame:
    from doc2vec_spark.functions.vectors import as_double_array, dot

    media = media_from_documents(spark, sf_dir)
    feats = extract_features(media)
    v = as_double_array(F.col("feature"))
    return feats.select(
        "media_id",
        "mime",
        "n_bytes",
        "content_hash",
        pround(dot(v, v), 4).alias("feature_sq_norm"),
    )


def _mm_search_oracle(k: int = 5) -> str:
    sim = (
        f"list_sum(list_transform(range(0, {FEATURE_DIM}), i -> "
        f"CAST(f[i+1] AS DOUBLE) * CAST(v[i+1] AS DOUBLE))) / "
        f"(sqrt(list_sum(list_transform(f, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
        f"sqrt(list_sum(list_transform(v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    )
    return f"""
    WITH m AS ({_MEDIA_SQL}),
    pc AS (SELECT {_comps_sql('text', dim=FEATURE_DIM, truncate=False)} AS comps FROM m WHERE media_id = 0),
    pv AS (SELECT {_vec_sql('comps')} AS v FROM pc),
    fc AS (SELECT media_id, mime, {_comps_sql('text', dim=FEATURE_DIM, truncate=False)} AS comps
           FROM m WHERE media_id <> 0),
    fv AS (SELECT media_id, mime, {_vec_sql('comps')} AS f FROM fc)
    SELECT media_id, mime, {sql_round(sim, 6)} AS cosine_sim
    FROM fv, pv
    ORDER BY cosine_sim DESC, media_id
    LIMIT {k}
    """


@_register(
    "mm_feature_search",
    _mm_search_oracle(),
    "Multimodal similarity search: decode -> feature-extract -> exact cosine "
    "top-k against a probe item, the image-dedup/search composition. The KNN "
    "is the same native zip_with/aggregate dot product + "
    "TakeOrderedAndProject as the text tier (no Python in the scoring path); "
    "the oracle recomputes probe and corpus features from the digest scheme.",
)
def mm_feature_search(spark, sf_dir: str, k: int = 5) -> DataFrame:
    from doc2vec_spark.functions.vectors import as_double_array, dot, l2_norm
    from doc2vec_spark.tables import load

    # probe feature computed DRIVER-side from the probe item's bytes (the
    # query-plane convention, same as embed_text for text KNN) and inlined
    # as a literal — a 1-row join would plan a BroadcastNestedLoopJoin
    probe_row = (
        load(spark, sf_dir, "documents").filter(F.col("doc_id") == 0).select("text").first()
    )
    if probe_row is None:  # no probe item: oracle's probe CTE is empty -> 0 rows
        return spark.createDataFrame([], "media_id long, mime string, cosine_sim double")
    probe_text = probe_row[0]
    from doc2vec_spark.functions.vectors import lit_vector

    qfeat = [float(x) for x in _stub_feature(probe_text.encode("utf-8"))]
    qv = lit_vector(qfeat)
    feats = extract_features(media_from_documents(spark, sf_dir)).select(
        "media_id", "mime", as_double_array(F.col("feature")).alias("v")
    )
    # r21: probe norm as a Python constant — identical left fold + IEEE
    # sqrt to the l2_norm fold (the _q_structs factoring, evalmetrics.py)
    import math

    from doc2vec_spark.operators.similarity import _py_dot

    qn = math.sqrt(_py_dot(qfeat, qfeat))
    sim = dot(F.col("v"), qv) / (l2_norm(F.col("v")) * F.lit(qn))
    return (
        feats.filter(F.col("media_id") != 0)
        .select("media_id", "mime", pround(sim, 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), "media_id")
        .limit(k)
    )
