"""Structured Streaming path: AvailableNow drain of the events parquet must
agree with the batch (oracle-checked) forms of the same aggregations."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR

EVENTS = f"{SF_DIR}/events.parquet"


def test_tumbling_counts_match_batch(spark, tmp_path):
    from doc2vec_spark.streaming.windows import tumbling_counts
    from doc2vec_spark.tables import load

    got = tumbling_counts(spark, EVENTS, str(tmp_path / "ck1"), name="t_tumbling")
    batch = (
        load(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_dedup_keys_unique(spark, tmp_path):
    from doc2vec_spark.streaming.windows import streaming_dedup
    from doc2vec_spark.tables import load

    got = streaming_dedup(spark, EVENTS, str(tmp_path / "ck2"), name="t_dedup")
    dup = got.groupBy("user_id", "event_type").count().filter(F.col("count") > 1).count()
    assert dup == 0
    n_keys = load(spark, SF_DIR, "events").select("user_id", "event_type").distinct().count()
    assert got.count() == n_keys


def test_stateful_running_totals(spark, tmp_path):
    from doc2vec_spark.streaming.windows import running_user_totals
    from doc2vec_spark.tables import load

    got = running_user_totals(spark, EVENTS, str(tmp_path / "ck3"), name="t_running")
    # final state per user == batch aggregate
    final = got.groupBy("user_id").agg(F.max("events_seen").alias("events_seen"))
    batch = (
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    j = final.join(batch, "user_id")
    assert j.filter(F.col("events_seen") != F.col("n")).count() == 0


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    from doc2vec_spark.operators.windows import stream_interval_join
    from doc2vec_spark.streaming.windows import attribution_stream

    got = attribution_stream(spark, EVENTS, str(tmp_path / "ck_attr"), name="t_attr")
    batch = stream_interval_join(spark, SF_DIR).select(
        "click_id", "purchase_id", "user_id"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """Three-micro-batch run (maxFilesPerTrigger=1): batch 0 pushes the
    watermark to 12:00, batch 1 closes + emits the 10:00 window, batch 2's
    late 10:30 event must be DROPPED (its window state is gone), so the
    emitted 10:00-window count excludes it. (A late row arriving in the SAME
    batch that closes its window is still merged — eviction happens at batch
    end — which is why the late row rides in its own later batch here.)"""
    import os
    import time

    from pyspark.sql import functions as F

    src = tmp_path / "late_src"
    src.mkdir()

    def write_one(name, rows, mtime):
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"stage_{name}"))
        part = next(
            p for p in (tmp_path / f"stage_{name}").iterdir() if p.name.endswith(".parquet")
        )
        dest = src / f"{name}.parquet"
        part.rename(dest)
        os.utime(dest, (mtime, mtime))

    import datetime as dt

    D = dt.datetime
    base = time.time() - 1000
    # batch 1: three on-time events in [10:00, 11:00) + one at 13:00 that
    # pushes max event time to 13:00 -> watermark 12:00 after the batch
    write_one(
        "b1",
        [
            (1, D(2024, 1, 1, 10, 0), 1.0),
            (2, D(2024, 1, 1, 10, 5), 1.0),
            (3, D(2024, 1, 1, 10, 10), 1.0),
            (4, D(2024, 1, 1, 13, 0), 1.0),
        ],
        base,
    )
    # batch 1: an on-time event (watermark -> 12:30; 10:00 window emits)
    write_one("b2", [(6, D(2024, 1, 1, 13, 30), 1.0)], base + 50)
    # batch 2: a LATE event inside the already-closed 10:00 window
    write_one("b3", [(5, D(2024, 1, 1, 10, 30), 1.0)], base + 100)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("wstart"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.wstart: r.n for r in spark.table("t_late").collect()}
    ten = dt.datetime(2024, 1, 1, 10, 0)
    assert rows.get(ten) == 3, f"late event leaked into closed window: {rows}"


def test_stateful_sessionization_matches_batch(spark, tmp_path):
    """gap_sessionize_stream on a complete AvailableNow replay must emit
    exactly the batch ev_sessionize rows (same gap, stats, ordering)."""
    from doc2vec_spark.operators.sessions import ev_sessionize
    from doc2vec_spark.streaming.windows import gap_sessionize_stream

    got = gap_sessionize_stream(
        spark, EVENTS, str(tmp_path / "ck_sess"), name="t_sessions"
    )
    want = ev_sessionize(spark, SF_DIR)
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {
        (
            r["user_id"],
            r["session_seq"],
            r["n_events"],
            r["start_us"],
            r["duration_sec"],
            r["n_purchases"],
            r["n_errors"],
        )
        for r in want.collect()
    }
    assert got_rows == want_rows


def test_windowed_topk_stream_matches_batch(spark, tmp_path):
    """The streaming windowed top-k (complete-mode drain + post-close rank)
    must equal the batch twin row-for-row."""
    from doc2vec_spark.registry import merged_queries
    from doc2vec_spark.streaming.windows import windowed_topk_stream
    from tests.conftest import SF_DIR

    got = windowed_topk_stream(
        spark, f"{SF_DIR}/events.parquet", str(tmp_path / "ckt"), name="s_wtopk"
    )
    want = merged_queries()["stream_windowed_topk"].fn(spark, SF_DIR)
    cols = ["window_start", "rnk", "event_type", "n"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )


def test_hll_users_stream_matches_batch(spark, tmp_path):
    """The watermarked streaming HLL register aggregation, drained and
    finalized, must equal the batch twin's registers and estimates."""
    from doc2vec_spark.registry import merged_queries
    from doc2vec_spark.streaming.windows import hll_users_stream
    from tests.conftest import SF_DIR

    got = hll_users_stream(
        spark, f"{SF_DIR}/events.parquet", str(tmp_path / "ckh"), name="s_whll"
    )
    want = merged_queries()["stream_hll_users"].fn(spark, SF_DIR)
    cols = ["window_start", "n_registers", "hll_users"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )
