"""SparkSession factory.

Runs ``local[n]`` with n = ``SPARK_GRAFT_CPUS``, else the CPUs this process
may run on. Every setting is chosen to also be the right default on a large
cluster:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast conversion are exactly what keeps 100 TB plans healthy.
- UTC session timezone: deterministic timestamp semantics (and parity with
  the DuckDB oracle, which uses naive UTC timestamps).
- Arrow on: every pandas UDF / toPandas crosses the JVM<->Python boundary in
  columnar batches instead of pickled rows.
- shuffle.partitions sized to the local core count; on a real cluster this
  would be ~2-3x total cores and AQE coalesces the tail.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


@contextmanager
def scoped_conf(spark: SparkSession, *keys: str) -> Iterator[None]:
    """Give each of ``keys`` back, on exit, the SQL conf value it had on entry.

    A key that was unset on entry (``RuntimeConfig.get`` with a ``None``
    default reads it as ``None``) is unset again, so an inherited default
    never turns into an explicit session setting. The block's own settings
    are session-visible while it runs; the engine runs registry queries one
    at a time on a session (``registry._scoped``).
    """
    saved = {key: spark.conf.get(key, None) for key in keys}
    try:
        yield
    finally:
        for key, value in saved.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


# tmpfs scratch is only safe when the expected shuffle/spill volume fits
# comfortably: tmpfs ENOSPC kills the job outright (and pressures the OOM
# killer) where a disk-backed dir would merely degrade to disk speed. The
# sf0.1 bench's peak concurrent shuffle+spill footprint measures < 4 GiB;
# 24 GiB free is ~6x headroom while leaving most of the 50%-of-RAM tmpfs
# to the OS page cache. Below the floor we fall back to disk-backed /tmp.
_TMPFS_MIN_FREE_BYTES = 24 << 30


def _local_dir() -> str | None:
    """Shuffle/spill scratch space for LOCAL mode only.

    Profiling (round 5) traced multi-second stochastic stalls in aged
    sessions to writeback storms on disk-backed /tmp: shuffle and sort-agg
    spill files accumulate (the ContextCleaner frees them only after a JVM
    GC), and dirty-page flushes then stall concurrent shuffle writers for
    seconds at a time. A tmpfs scratch dir removes the disk from the loop.
    On a real cluster the resource manager provisions spark.local.dir on
    fast local disks — this override applies only to the single-node rig.

    ADVICE r5: the tmpfs default is gated on free space (a spill-heavy run
    must degrade to disk speed, not die on tmpfs ENOSPC), and
    ``SPARK_GRAFT_LOCAL_DIR`` overrides either way — set it to a path to
    force that dir, or to the empty string to force the Spark default.
    """
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override is not None:
        return override or None
    if not os.path.isdir("/dev/shm"):
        return None
    try:
        import shutil

        free = shutil.disk_usage("/dev/shm").free
    except OSError:
        return None
    return "/dev/shm/spark-graft-local" if free >= _TMPFS_MIN_FREE_BYTES else None


def get_spark(app_name: str = "doc2vec-spark") -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # dims (region/nation/part/supplier/customer at test SF) should
        # broadcast; 64 MiB is a sane executor-memory-relative ceiling.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # collect_list/collect_set aggregations (posting lists, LSH bands)
        # fall back from hash to sort-based aggregation — spilling every
        # task — at Spark's default 128-entry threshold. Postings are
        # df-capped (bounded entries), so a 1M-entry in-memory map is safe
        # at 4-8 GiB/core and avoids the per-task sort+spill entirely
        # (measured: whole-bench aging pass 80 s -> 58 s).
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            str(1 << 20),
        )
        # long-lived engine sessions: clean shuffle/broadcast garbage
        # steadily (periodic GC) and without blocking the cleaner thread on
        # every block-manager round trip, instead of in bursts that stall
        # whichever query is running when the backlog drains.
        .config("spark.cleaner.referenceTracking.blocking", "false")
        .config("spark.cleaner.periodicGC.interval", "120s")
    )
    local_dir = _local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    return builder.getOrCreate()
