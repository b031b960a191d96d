"""Audio DSP plumbing (round 13): frame-windowed feature extraction over
the decoded binary payload.

The multimodal plane (multimodal.py) so far proves whole-blob plumbing
(stats, content hashes, digest features) and the metadata-driven frame
EXPLODE (mm_frame_sample). What real audio feature extraction adds on a
cluster is the middle step: decode the payload, window it into frames,
and aggregate per-frame sample statistics — the exact shape of
MFCC/energy/VAD pipelines, where a 1-hour file becomes thousands of
independently-processed frame rows instead of one task.

This operator runs that shape end to end with the engine's established
stub-decoder honesty: the synthetic payload IS UTF-8 text bytes
(media_from_documents), so "decode" is the real ``F.decode(data,
'UTF-8')`` binary->string round-trip and a "sample" is the codepoint
minus 96 (lowercase ASCII straddles zero; CJK codepoints are large
positives — both engines' char-based substr/ascii agree codepoint-exact,
multibyte included). Per 64-sample frame we emit the two classic integer
features: energy (sum of squares) and zero-crossing count — exact BIGINT
arithmetic, no float anywhere. A real codec drops in at the decode step
exactly like multimodal.decode_image_real.

Cross-engine edge handled explicitly: Spark's ``aggregate`` over an empty
array returns the 0 initializer while DuckDB's ``list_sum`` returns NULL —
the last frame of a text can be a single sample (empty zero-crossing
pair list), so the oracle wraps COALESCE(.., 0).

100 TB shape: one map-only decode+frame explode behind the repartition
barrier (single-file scan trap; a round-robin exchange, not a keyed
shuffle — multi-file scans at scale get the fan-out for free), per-frame
work bounded by FRAME, one output row per frame. No KEYED shuffle until
a consumer aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc2vec_spark.multimodal import _MEDIA_SQL, media_from_documents
from doc2vec_spark.spec import registrar

QUERIES, _register = registrar()


FRAME = 64  # samples per analysis frame


@_register(
    "mm_audio_energy",
    f"""
    WITH m AS ({_MEDIA_SQL}),
    a AS (SELECT media_id, text AS s FROM m
          WHERE mime = 'audio/wav' AND len(text) >= 1),
    fr AS (
      SELECT media_id, f, substr(s, f * {FRAME} + 1, {FRAME}) AS fs
      FROM a, unnest(generate_series(0, (len(s) - 1) // {FRAME})) t(f)),
    smp AS (
      SELECT media_id, f,
             list_transform(generate_series(1, len(fs)),
                            i -> ascii(substr(fs, i, 1)) - 96) AS v
      FROM fr)
    SELECT media_id, CAST(f AS BIGINT) AS frame_idx,
           CAST(len(v) AS BIGINT) AS n_samples,
           CAST(COALESCE(list_sum(list_transform(v, x -> x * x)), 0)
                AS BIGINT) AS energy,
           CAST(COALESCE(list_sum(list_transform(
                  generate_series(1, len(v) - 1),
                  i -> CASE WHEN v[i] * v[i + 1] < 0 THEN 1 ELSE 0 END)), 0)
                AS BIGINT) AS zero_crossings
    FROM smp
    """,
    f"Frame-windowed audio features over the DECODED payload: {FRAME}-"
    "sample frames, per-frame energy (sum of squares) and zero-crossing "
    "count in exact BIGINT — the map-only decode -> window -> per-frame-"
    "aggregate shape of every cluster audio pipeline (a 1-hour file "
    "becomes thousands of independent frame rows). Stub decoder is the "
    "UTF-8 round-trip; a real codec drops in at the decode step.",
)
def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doc2vec_spark.session import default_parallelism

    media = media_from_documents(spark, sf_dir)
    a = (
        media.filter(F.col("mime") == "audio/wav")
        .select("media_id", F.decode(F.col("data"), "UTF-8").alias("s"))
        .filter(F.length("s") >= 1)
        # single-file scan = one partition; the frame explode must fan out
        .repartition(default_parallelism())
    )
    frames = a.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.expr(f"(length(s) - 1) div {FRAME}"))
        ).alias("f"),
        "s",
    ).select(
        "media_id",
        "f",
        F.expr(f"substr(s, f * {FRAME} + 1, {FRAME})").alias("fs"),
    )
    smp = frames.select(
        "media_id",
        "f",
        F.expr("transform(sequence(1, length(fs)), i -> ascii(substr(fs, i, 1)) - 96)").alias(
            "v"
        ),
    )
    energy = F.expr("aggregate(v, 0L, (acc, x) -> acc + CAST(x AS BIGINT) * x)")
    zc = F.expr(
        "aggregate(zip_with(slice(v, 1, size(v) - 1), slice(v, 2, size(v) - 1), "
        "(x, y) -> CASE WHEN x * y < 0 THEN 1L ELSE 0L END), 0L, (acc, b) -> acc + b)"
    )
    return smp.select(
        "media_id",
        F.col("f").cast("long").alias("frame_idx"),
        F.size("v").cast("long").alias("n_samples"),
        energy.cast("long").alias("energy"),
        zc.cast("long").alias("zero_crossings"),
    )
