"""Structured Streaming pipelines over the events table.

The reference's incremental machinery is bounded batch with watermark state
(SURVEY 1.4); the true unbounded surface the engine adds uses Spark
Structured Streaming: readStream -> event-time windows + watermarks ->
writeStream. Everything here runs with Trigger.AvailableNow against a
parquet directory + checkpoint — the same code is a 24/7 job on a cluster
(file source -> Kafka is a one-line source swap).

The batch-expressible forms of these aggregations live in
operators/windows.py where they are oracle-checked; these versions verify
the *streaming* execution path (state store, watermark, output modes) in
tests/test_streaming.py.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_events_stream(spark: SparkSession, events_parquet: str) -> DataFrame:
    """Streaming read of the events table (nanos ts handled as in tables.py)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(events_parquet).schema
    # the streaming file source monitors a DIRECTORY; when given a single
    # parquet file, watch its parent filtered to that file name
    import os

    if events_parquet.endswith(".parquet"):
        base, fname = os.path.dirname(events_parquet), os.path.basename(events_parquet)
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", fname)
            .parquet(base)
        )
    else:
        raw = spark.readStream.schema(schema).parquet(events_parquet)
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # watermarks require TIMESTAMP (ltz); session tz is UTC so the cast
        # is value-faithful to the NTZ micros the file stores
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _drain(df: DataFrame, name: str, checkpoint: str, mode: str) -> None:
    """Drain the source with AvailableNow into the memory sink ``name``
    (read the results back with ``spark.table(name)``)."""
    (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def tumbling_counts(
    spark: SparkSession, events_parquet: str, checkpoint: str, name: str = "tumbling"
) -> DataFrame:
    """Watermarked tumbling-window counts. The 1h watermark declares the
    state-eviction contract a production append/update sink runs under; this
    one-shot drain uses a COMPLETE-mode memory sink, where Spark documents
    that late rows still merge into their window (no dropping) — which is
    exactly what the batch-twin oracle asserts. The late-row DROP behavior
    is proven on the append-mode streams (streaming_dedup,
    attribution_stream) in tests/test_streaming.py."""
    ev = read_events_stream(spark, events_parquet)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    _drain(agg, name, checkpoint, "complete")
    return spark.table(name)


def windowed_topk_stream(
    spark: SparkSession,
    events_parquet: str,
    checkpoint: str,
    name: str = "wtopk",
    k: int = 3,
) -> DataFrame:
    """Streaming twin of the batch ``stream_windowed_topk`` query: a
    watermarked tumbling-window count drained complete-mode, with the
    per-window rank applied to the materialized sink table. Per-window
    rank requires the window CLOSED (a later micro-batch can reorder the
    top-k), so production form is an append/update sink whose consumer
    ranks after watermark expiry — exactly what ranking the drained memory
    table models; the parity test pins it row-for-row to the batch twin."""
    from pyspark.sql.window import Window

    ev = read_events_stream(spark, events_parquet)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("wstart"), "event_type", "n")
    )
    _drain(agg, name, checkpoint, "complete")
    rnk = F.row_number().over(
        Window.partitionBy("wstart").orderBy(F.desc("n"), F.asc("event_type"))
    )
    return (
        spark.table(name)
        .withColumn("rnk", rnk.cast("long"))
        .filter(F.col("rnk") <= k)
        .select(
            F.date_format("wstart", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "rnk",
        )
    )


def hll_users_stream(
    spark: SparkSession,
    events_parquet: str,
    checkpoint: str,
    name: str = "whll",
) -> DataFrame:
    """Streaming twin of the batch ``stream_hll_users`` query: the HLL
    register build is an algebraic per-(window, register) MAX, so it runs
    natively as a watermarked streaming aggregation — 16 small integers of
    state per window where exact distinct would hold every user id. The
    drained register table is finalized to the estimate exactly like the
    batch twin; the parity test pins them row-for-row."""
    from doc2vec_spark.operators.trending import (
        _HLL_BITS,
        _HLL_M,
        _HLL_W_BITS,
    )

    ev = read_events_stream(spark, events_parquet)
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    rho = ev.select(
        "ts",
        (h % _HLL_M).alias("reg"),
        F.when(F.shiftright(h, 4) == 0, F.lit(_HLL_W_BITS + 1))
        .otherwise(
            F.instr(F.lpad(F.bin(F.shiftright(h, 4)), _HLL_W_BITS, "0"), "1")
        )
        .cast("long")
        .alias("r"),
    )
    regs = (
        rho.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"), "reg")
        .agg(F.max("r").alias("r_max"))
    )
    _drain(regs, name, checkpoint, "complete")
    return (
        spark.table(name)
        .groupBy("window")
        .agg(
            F.count(F.lit(1)).alias("n_registers"),
            F.expr(
                f"(673 * {_HLL_M * _HLL_M} * shiftleft(1L, {_HLL_BITS}))"
                f" div (1000 * (sum(shiftleft(1L, {_HLL_BITS} - cast(r_max as int)))"
                f" + ({_HLL_M} - count(1)) * shiftleft(1L, {_HLL_BITS})))"
            ).alias("hll_users"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_registers",
            "hll_users",
        )
    )


def streaming_dedup(
    spark: SparkSession, events_parquet: str, checkpoint: str, name: str = "dedup"
) -> DataFrame:
    """dropDuplicatesWithinWatermark on (user_id, event_type)."""
    ev = read_events_stream(spark, events_parquet)
    deduped = ev.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    _drain(deduped, name, checkpoint, "append")
    return spark.table(name)


_STATE_SCHEMA = "count LONG, total DOUBLE"
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("events_seen", T.LongType()),
        T.StructField("value_total", T.DoubleType()),
    ]
)


def running_user_totals(
    spark: SparkSession, events_parquet: str, checkpoint: str, name: str = "running"
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running per-user
    event count + value total (the pattern for any custom accumulator the
    built-in aggs can't express)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = read_events_stream(spark, events_parquet)

    def update(key, pdf_iter, state):
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            count += len(pdf)
            total += float(pdf["value"].sum())
        state.update((count, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "events_seen": [count], "value_total": [total]}
        )

    out = (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            update, _OUT_SCHEMA, _STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
        )
    )
    _drain(out, name, checkpoint, "update")
    return spark.table(name)


def attribution_stream(
    spark: SparkSession,
    events_parquet: str,
    checkpoint: str,
    name: str = "attribution",
    window_min: int = 30,
) -> DataFrame:
    """Watermarked stream-stream interval join: clicks joined to same-user
    purchases within ``window_min`` minutes. Both sides carry event-time
    watermarks, so Spark bounds the join state: a click's state is droppable
    once the purchase-side watermark passes click_ts + window (this is the
    state-cleanup contract a 24/7 attribution job needs — without the time
    bound the join state grows forever). Batch-oracle twin:
    operators/windows.py::stream_interval_join."""
    clicks = (
        read_events_stream(spark, events_parquet)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, events_parquet)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "click_user = purchase_user AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + INTERVAL {window_min} MINUTES"
        ),
    ).select("click_id", "purchase_id", F.col("click_user").alias("user_id"))
    _drain(joined, name, checkpoint, "append")
    return spark.table(name)


_SESSION_GAP_US = 30 * 60 * 1_000_000  # mirror operators/sessions.py

_SESS_STATE_SCHEMA = (
    "seq LONG, start_us LONG, last_us LONG, n LONG, np LONG, ne LONG"
)
_SESS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_seq", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("duration_sec", T.LongType()),
        T.StructField("n_purchases", T.LongType()),
        T.StructField("n_errors", T.LongType()),
    ]
)


def gap_sessionize_stream(
    spark: SparkSession,
    events_parquet: str,
    checkpoint: str,
    name: str = "sessions_stream",
) -> DataFrame:
    """Stateful gap-based sessionization via applyInPandasWithState — the
    unbounded twin of ``operators/sessions.py::ev_sessionize`` (same 30-min
    inactivity gap, same per-session stats, same (us, event_id) ordering).

    Per user, the state carries the OPEN session (seq, start, last-seen,
    counters); each batch's events extend it or close it on a gap. Closed
    sessions are emitted final; the open session is emitted as an updated
    snapshot each batch (update output mode), which is exactly the
    dashboard contract. On a complete replay (Trigger.AvailableNow over the
    full table) the emitted set equals the batch operator's output row for
    row — asserted in tests/test_streaming.py. A 24/7 deployment would add
    EventTimeTimeout to flush sessions idle past the gap without waiting
    for the user's next event; the sf-scale test keeps NoTimeout so the
    replay is deterministic.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = read_events_stream(spark, events_parquet).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )

    def update(key, pdf_iter, state):
        if state.exists:
            seq, start, last, n, np_, ne = state.get
            open_sess = [seq, start, last, n, np_, ne]
        else:
            open_sess = None
        out = []

        def emit(s):
            out.append(
                (key[0], s[0], s[3], s[1], (s[2] - s[1]) // 1_000_000, s[4], s[5])
            )

        batch = pd.concat(list(pdf_iter), ignore_index=True)
        batch = batch.sort_values(["us", "event_id"])
        for us, etype in zip(batch["us"], batch["event_type"]):
            if open_sess is None:
                open_sess = [1, us, us, 0, 0, 0]
            elif us - open_sess[2] > _SESSION_GAP_US:
                emit(open_sess)  # gap closes the session — final row
                open_sess = [open_sess[0] + 1, us, us, 0, 0, 0]
            open_sess[2] = us
            open_sess[3] += 1
            open_sess[4] += int(etype == "purchase")
            open_sess[5] += int(etype == "error")
        if open_sess is not None:
            emit(open_sess)  # snapshot of the still-open session
            state.update(tuple(open_sess))
        yield pd.DataFrame(out, columns=[f.name for f in _SESS_OUT_SCHEMA.fields])

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        _SESS_OUT_SCHEMA,
        _SESS_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    _drain(out, name, checkpoint, "update")
    # The memory sink APPENDS update-mode rows rather than upserting, so a
    # replay that runs in >1 batch (multi-file input, maxFilesPerTrigger,
    # restart) leaves stale open-session snapshots from earlier batches in
    # the table (ADVICE r5). Collapse to the final row per (user_id,
    # session_seq) via a struct-MAX led by n_events (ADVICE r6): each
    # snapshot of a session is emitted only after >=1 further events
    # appended, so n_events strictly increases across its snapshots and the
    # greatest struct IS the last emitted row taken WHOLE — one consistent
    # snapshot, never per-column maxima mixed across snapshots (independent
    # MAXes silently merged columns from different snapshots when per-user
    # event time regressed between unordered input batches).
    snap = F.struct(
        "n_events", "duration_sec", "n_purchases", "n_errors", "start_us"
    )
    return (
        spark.table(name)
        .groupBy("user_id", "session_seq")
        .agg(F.max(snap).alias("s"))
        .select(
            "user_id",
            "session_seq",
            *(
                F.col(f"s.{f.name}").alias(f.name)
                for f in _SESS_OUT_SCHEMA.fields
                if f.name not in ("user_id", "session_seq")
            ),
        )
        .select([f.name for f in _SESS_OUT_SCHEMA.fields])
    )
