"""Chunk store with merge/delete semantics (SURVEY K1-K6, J1).

The reference maintains a SQLite vec0 table / Qdrant collection with
per-chunk upserts, delete-by-url before reinsert, and paginated anti-join
cleanup loops (database.ts:339-678). Spark-first, those collapse into set
operations on a parquet-backed table:

- upsert            = anti-join out the replaced urls, union the new chunks
- delete_by_url     = left-anti filter (K3)

The K4/K5 obsolete-url cleanup (the reference's Qdrant scroll pagination
loop, database.ts:576-601) is a column of the sync's per-url decision table
(``sync.sync_documents`` with ``cleanup_prefix``), committed through
``apply`` like every other deletion.

Commits are INCREMENTAL and bucketed: rows hash-bucket by url
(``pmod(xxhash64(url), num_buckets)``), a manifest maps each bucket to the
version directory holding its current files, and a commit rewrites ONLY the
buckets containing touched urls — an upsert of 0.1% of urls rewrites ~0.1%
of a 100 TB store, not all of it. The manifest flips atomically last
(write-ahead versioning), giving the all-or-nothing visibility the
reference approximates with its `sync_complete` flag (W8) — on a real
deployment this is exactly a Delta/Iceberg MERGE with partition overwrite
(`replaceWhere`). Within each version, files partition by product_name (the
reference's per-product databases, mcp/src/server.ts:417-430) so
metadata-filtered KNN prunes at the scan. Commits serialize on an advisory
flock (two unlocked commits would lose one set of bucket pointers);
superseded version directories survive exactly one further commit before
GC, so readers holding the previous manifest finish their scans (a
deployment would widen that to a snapshot-isolation TTL).

Every version is written one way, ``_commit``: write the rows into a new
version directory, point the rewritten buckets at it, retire what it
superseded, flip the manifest, GC. ``apply`` commits the touched buckets.
``rebucket`` is the one way to change the bucket count: it commits every
row under the new count in one flip, and deferred GC keeps readers of the
old layout working. A commit that dies before the flip leaves the previous
version current and an orphan directory the next commit's GC removes.

A missing MANIFEST is a fresh store. A MANIFEST that exists but cannot be
read raises on every read and commit: treating it as empty would let the
next commit restart the counter and GC every version directory.

Snapshot reads are job-free: the store's schema is declared
(``STORE_SCHEMA``), never inferred, so every version directory is read with
``spark.read.schema(...)``. Resolving a snapshot is a manifest read plus a
driver-side file listing and launches no Spark job, and partition values
keep their declared types (a product named ``"007"`` stays a string). The
listing stays on the driver while no directory it walks has more entries
than ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32 by
default); past that, Spark lists in parallel with a job of its own.

Each store keeps the one snapshot it resolved last, keyed by the manifest it
was resolved from (``version_token()``). ``read()`` still reads MANIFEST on
every call, so a commit made through another ``ChunkStore`` on the same path
shows in the next read, and a corrupt MANIFEST still raises; only the
listing and the union of version scans are reused while the token is
unchanged. The memo cannot outlive its files: it is replaced as soon as the
manifest moves, and GC keeps a superseded version one commit longer.

Top-k queries read ``serving()``: that same snapshot with ``embedding``
cast to ``array<double>`` and each row's ``norm`` stored as a column, computed
by ``functions.vectors.l2_norm`` (the left fold a query would otherwise run
per row). It is ``persist()``ed at the DataFrame default storage level
(memory, spilling to disk), so its size needs no bound. It is built at most
once per token, on the first ``serving()`` after the token moves, and filled
by the first query that runs on it. It lives in the same memo as the
``read()`` frame, as ``(token, frame, serving)``: when the memo is replaced
because the token moved, the old serving frame is unpersisted, and a store
that is garbage-collected unpersists its last one. ``read()`` never returns
the cached frame, so a sync's diff and commit scan files as before. Builds
serialize on a lock per store, because Spark's CacheManager keys cached data
by plan: a second ``persist`` of the same token's plan would register
nothing, and unpersisting that copy would drop the first. A build whose memo
a newer ``read()`` replaced meanwhile unpersists its own copy.

Plan matching is also why the cache is safe to share: any query whose plan
contains the serving plan reads the cached rows. A version directory is
written once, under a uuid-suffixed name, and never rewritten, so a plan that
matches names the same files holding the same rows. ``read()``'s plan is the
bare scan beneath the serving projection and never matches it, so nothing
built on ``read()`` is served from the cache.

A url's rows all live in one bucket, so ``read_url`` reads only that
bucket: the bucket id is Spark's own ``xxhash64`` computed on the driver
over py4j (no Spark job), taken ``pmod`` the manifest's bucket count.

A small KV `sync_state` table mirrors vec_metadata (database.ts:121-126)
for watermarks.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
import weakref
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from doc2vec_spark.chunking import CHUNK_SCHEMA
from doc2vec_spark.functions.vectors import as_double_array, l2_norm

EMBED_FIELD = "embedding"
DEFAULT_NUM_BUCKETS = 16

# the columns read() returns, in order
STORE_SCHEMA = T.StructType(
    CHUNK_SCHEMA.fields + [T.StructField(EMBED_FIELD, T.ArrayType(T.FloatType()))]
)
# what a version directory holds on disk: the data columns plus the
# ``bucket`` partition column (``product_name`` is the other partition
# column and is already in STORE_SCHEMA)
_VERSION_SCHEMA = T.StructType(
    STORE_SCHEMA.fields + [T.StructField("bucket", T.IntegerType())]
)


def _write_json(path: str, obj: dict) -> None:
    """Atomic JSON replace: readers see the old file or the new one, never
    a torn write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _token(manifest: dict) -> tuple:
    return (manifest["counter"], tuple(sorted(manifest["buckets"].items())))


def _serving_of(frame: DataFrame) -> DataFrame:
    """``frame`` with ``embedding`` as ``array<double>`` and its ``norm``."""
    return frame.withColumn(EMBED_FIELD, as_double_array(F.col(EMBED_FIELD))).withColumn(
        "norm", l2_norm(F.col(EMBED_FIELD))
    )


def _release(memo: list) -> None:
    """Unpersist the serving frame of a collected store's memo."""
    if memo[0] is not None and memo[0][2] is not None:
        memo[0][2].unpersist()


class ChunkStore:
    def __init__(self, spark: SparkSession, path: str, num_buckets: int = DEFAULT_NUM_BUCKETS):
        self.spark = spark
        self.path = path.rstrip("/")
        self.num_buckets = num_buckets
        os.makedirs(self.path, exist_ok=True)
        # one slot: (token, frame, serving) of the last snapshot read()
        # resolved, serving None until serving() builds it. _snapshot_lock
        # guards the slot and is never held across a Spark call;
        # _serving_lock serializes serving-frame builds (persist/unpersist,
        # which launch no job)
        self._memo: list[tuple[tuple, DataFrame, DataFrame | None] | None] = [None]
        self._snapshot_lock = threading.Lock()
        self._serving_lock = threading.Lock()
        weakref.finalize(self, _release, self._memo).atexit = False
        self._xxh64 = None  # (XXH64(42) over py4j, byte[] base offset)

    # -- manifest machinery --------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, "MANIFEST")

    def _manifest(self) -> dict:
        path = self._manifest_path()
        try:
            with open(path) as f:
                m = json.load(f)
        except FileNotFoundError:
            return {"counter": 0, "num_buckets": self.num_buckets, "buckets": {}}
        if not isinstance(m, dict) or not isinstance(m.get("buckets"), dict):
            raise ValueError(f"malformed chunk-store manifest: {path}")
        return m

    @contextmanager
    def _write_lock(self):
        """Advisory inter-process lock serializing commits (ADVICE r02):
        an unlocked read-modify-write of MANIFEST would silently drop one of
        two concurrent commits' bucket pointers. Writers queue on flock;
        readers never take the lock (they resolve a consistent snapshot from
        whatever manifest they read, and deferred GC below keeps that
        snapshot's files alive through the next commit)."""
        import fcntl

        with open(os.path.join(self.path, ".lock"), "w") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(f, fcntl.LOCK_UN)

    def _gc(self, manifest: dict) -> None:
        """Remove version dirs neither referenced by the new manifest nor
        retired by THIS commit — superseded versions survive exactly one
        more commit (``retired``), so a reader that resolved file paths from
        the previous manifest finishes its scan before the files vanish. A
        real deployment would widen this to a snapshot-isolation TTL."""
        live = set(manifest["buckets"].values()) | set(manifest.get("retired", []))
        for name in os.listdir(self.path):
            if name.startswith("v") and name not in live:
                full = os.path.join(self.path, name)
                if os.path.isdir(full):
                    shutil.rmtree(full, ignore_errors=True)

    def _bucket_expr(self, nb: int):
        return F.pmod(F.xxhash64(F.col("url")), F.lit(nb)).cast("int")

    def _url_bucket(self, url: str, nb: int) -> int:
        """``_bucket_expr`` for one url, on the driver with no Spark job:
        Spark's own XXH64 (seed 42) over the url's UTF-8 bytes, over py4j.
        py4j cannot call the static ``hashUnsafeBytes(base, off, len, seed)``
        next to its instance overload, so this calls the instance method of
        ``XXH64(42)``, looked up once per store. Python's ``%`` is ``pmod``
        for a positive ``nb``."""
        if self._xxh64 is None:
            jvm = self.spark._jvm
            self._xxh64 = (
                jvm.org.apache.spark.sql.catalyst.expressions.XXH64(42),
                jvm.org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
            )
        hasher, offset = self._xxh64
        data = url.encode("utf-8")
        return hasher.hashUnsafeBytes(data, offset, len(data)) % nb

    def _read_buckets(self, manifest: dict, buckets: list[int]) -> DataFrame:
        # group by owning version: one scan per version dir (with basePath so
        # bucket/product_name partition columns parse), unioned by name —
        # #versions <= num_buckets, and each scan lists only selected buckets.
        # The declared schema skips parquet schema inference (one Spark job
        # per version dir) and partition-type inference alike.
        by_version: dict[str, list[int]] = {}
        for b in buckets:
            ver = manifest["buckets"].get(str(b))
            if ver is not None:
                by_version.setdefault(ver, []).append(b)
        if not by_version:
            return self.spark.createDataFrame([], STORE_SCHEMA)
        parts = []
        for ver, bs in sorted(by_version.items()):
            base = os.path.join(self.path, ver)
            paths = [os.path.join(base, f"bucket={b}") for b in bs]
            parts.append(
                self.spark.read.schema(_VERSION_SCHEMA)
                .option("basePath", base)
                .parquet(*paths)
                .select(*STORE_SCHEMA.fieldNames())
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- reads ---------------------------------------------------------------

    def read(self) -> DataFrame:
        """The current committed snapshot, with columns ``STORE_SCHEMA``.
        The schema is declared, never inferred: resolving the snapshot reads
        the manifest and lists the live version directories on the driver,
        and launches no Spark job (see the module docstring for the listing
        bound).

        Every call reads MANIFEST (a corrupt one raises). While its token is
        the one the last resolved snapshot came from, that same frame is
        returned with no listing; otherwise the new snapshot is resolved
        and replaces it. Callers must not ``persist``/``unpersist`` the
        returned frame itself, which other callers share: derive from it."""
        manifest = self._manifest()
        token = _token(manifest)
        memo = self._memo_now()
        if memo is not None and memo[0] == token:
            return memo[1]
        frame = self._read_buckets(manifest, sorted(int(k) for k in manifest["buckets"]))
        self._swap(memo, (token, frame, None))
        return frame

    def serving(self) -> DataFrame:
        """``read()``'s snapshot with ``embedding`` as ``array<double>`` and
        a ``norm`` column (its L2 norm), persisted once per manifest token
        (see the module docstring for its lifetime). For top-k queries;
        like ``read()``'s frame it is shared, so derive from it."""
        frame = self.read()
        with self._serving_lock:
            memo = self._memo_now()
            if memo[1] is not frame:
                # a newer read() replaced the memo since: serve this one uncached
                return _serving_of(frame)
            if memo[2] is not None:
                return memo[2]
            serving = _serving_of(frame).persist()
            if not self._swap(memo, (memo[0], frame, serving)):
                serving.unpersist()
            return serving

    def _memo_now(self):
        with self._snapshot_lock:
            return self._memo[0]

    def _swap(self, old, new) -> bool:
        """Replace the memo by ``new`` if it is still ``old``. A serving
        frame that leaves the memo is unpersisted."""
        with self._snapshot_lock:
            if self._memo[0] is not old:
                return False
            self._memo[0] = new
        if old is not None and old[2] is not None:
            old[2].unpersist()
        return True

    def read_url(self, url: str) -> DataFrame:
        """The current snapshot's rows for ``url`` (``STORE_SCHEMA``), read
        from that url's bucket alone. Like ``read()`` it reads MANIFEST on
        every call and launches no Spark job to resolve."""
        manifest = self._manifest()
        nb = manifest.get("num_buckets", self.num_buckets)
        return self._read_buckets(manifest, [self._url_bucket(url, nb)]).filter(
            F.col("url") == url
        )

    def count(self) -> int:
        return self.read().count()

    def version_token(self) -> tuple:
        """Cheap identity of the current committed state (tests use this to
        assert that a no-op sync does not advance the store)."""
        return _token(self._manifest())

    # -- writes (K1-K5) ------------------------------------------------------

    def apply(self, new_chunks: DataFrame | None, delete_urls: DataFrame | None) -> None:
        """ONE commit covering both mutation kinds of a sync: urls in
        ``new_chunks`` get their chunks replaced (delete-by-url-then-insert,
        database.ts:630-678 + doc2vec.ts:1957-1969), urls in ``delete_urls``
        are purged. Only buckets containing a touched url are rewritten.
        Commits serialize on the store's advisory write lock.

        The batch is persisted for the commit's duration (r17 review): the
        chunker/embedder lineage behind a typical batch is a mapInPandas
        stage, and the commit reads the batch at least twice (touched-url
        collect + the bucket write) — three times with the key gate below —
        so without a persist every ingest re-ran the Python chunk/embed
        pipeline per pass. Unpersisted in a finally.

        Key-uniqueness gate (VERDICT r16 #8): (url, chunk_index) is the
        chunk primary key — the reference's url-keyed upsert makes
        duplicates unrepresentable (database.ts:339-472), and the r16
        dup-PK probe showed duplicated keys fanning silently through 14
        downstream joins/groupings. EVERY ingest passes through apply()
        (upsert_documents and sync.sync_documents alike — enforcing it only
        in the wrapper would let the main sync path bypass it), so the
        contract is checked here: one batch-sized aggregate over the
        persisted batch, whole-batch rejection, nothing written."""
        # persist only if the CALLER hasn't: unpersisting a borrowed cache
        # would silently drop the caller's, and re-persisting raises on
        # level mismatch. sync.sync_documents hands over an unpersisted
        # embed batch, so the embedder runs once, under this persist.
        own_persist = new_chunks is not None and not new_chunks.is_cached
        if own_persist:
            new_chunks = new_chunks.persist()
        try:
            self._apply_inner(new_chunks, delete_urls)
        finally:
            if own_persist:
                new_chunks.unpersist()

    def _apply_inner(
        self, new_chunks: DataFrame | None, delete_urls: DataFrame | None
    ) -> None:
        if new_chunks is not None:
            dup = (
                new_chunks.groupBy("url", "chunk_index")
                .count()
                .filter(F.col("count") > 1)
                .limit(3)
                .collect()
            )
            if dup:
                sample = "; ".join(
                    f"({r['url']}, {r['chunk_index']})" for r in dup
                )
                raise ValueError(
                    "duplicate chunk keys in ingest batch — (url, chunk_index) "
                    f"must be unique per commit; first offenders: {sample}"
                )
        parts = []
        if new_chunks is not None:
            parts.append(new_chunks.select("url"))
        if delete_urls is not None:
            parts.append(delete_urls.select("url"))
        if not parts:
            return
        touched = parts[0]
        for p in parts[1:]:
            touched = touched.unionByName(p)
        touched = touched.distinct()

        with self._write_lock():
            manifest = self._manifest()
            nb = manifest.get("num_buckets", self.num_buckets)
            affected = sorted(
                r["b"]
                for r in touched.select(self._bucket_expr(nb).alias("b")).distinct().collect()
            )
            if not affected:
                return
            # no broadcast hint: a full-listing sync routes EVERY source url
            # through `touched`, far beyond broadcast scale at the store's
            # target size — AQE picks broadcast itself whenever the set is
            # actually small
            # a left join + null filter, not a left-anti join: Catalyst
            # pushes an anti join below the union of version scans, one join
            # (three jobs) per live version the buckets span; `touched` is
            # distinct, so the outer join keeps each row at most once
            kept = (
                self._read_buckets(manifest, affected)
                .join(touched.withColumn("_touched", F.lit(True)), "url", "left")
                .filter(F.col("_touched").isNull())
                .drop("_touched")
            )
            out = kept if new_chunks is None else kept.unionByName(new_chunks)
            self._commit(manifest, out, nb, affected)

    def rebucket(self, new_num_buckets: int) -> None:
        """Change the bucket count (VERDICT r02 #7): rewrite the store ONCE
        under ``new_num_buckets`` and flip — a store created small (16
        buckets) can grow toward the 100 TB layout (thousands of buckets)
        without losing commit-counter continuity or changing read()
        contents. One full rewrite is the honest cost: the bucket id is
        pmod(hash(url), nb), so every row can move. Subsequent commits
        rewrite only touched buckets of the new layout."""
        if new_num_buckets < 1:
            raise ValueError("new_num_buckets must be >= 1")
        with self._write_lock():
            manifest = self._manifest()
            rows = self._read_buckets(manifest, sorted(int(k) for k in manifest["buckets"]))
            self._commit(manifest, rows, new_num_buckets, list(range(new_num_buckets)))
            self.num_buckets = new_num_buckets

    def _commit(self, manifest: dict, rows: DataFrame, nb: int, buckets: list[int]) -> None:
        """Write ``rows`` — the full new contents of ``buckets`` in an
        ``nb``-bucket layout — as one new version and flip to it. Caller
        holds the write lock. Every version this commit supersedes is
        retired, not deleted: GC removes it at the next commit."""
        old_versions = set(manifest["buckets"].values())
        manifest["counter"] += 1
        name = f"v{manifest['counter']:08d}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.path, name)
        (
            rows.withColumn("bucket", self._bucket_expr(nb))
            .repartition(max(len(buckets), 1), F.col("bucket"))
            .write.partitionBy("bucket", "product_name")
            .mode("overwrite")
            .parquet(out_dir)
        )
        # a bucket left empty by deletes has no bucket=K dir -> drop its entry
        for b in buckets:
            if os.path.isdir(os.path.join(out_dir, f"bucket={b}")):
                manifest["buckets"][str(b)] = name
            else:
                manifest["buckets"].pop(str(b), None)
        # keys of a larger superseded layout (rebucket to fewer buckets)
        manifest["buckets"] = {k: v for k, v in manifest["buckets"].items() if int(k) < nb}
        manifest["num_buckets"] = nb
        manifest["retired"] = sorted(old_versions - set(manifest["buckets"].values()))
        _write_json(self._manifest_path(), manifest)  # atomic flip = the "transaction"
        self._gc(manifest)

    def upsert_documents(self, chunks: DataFrame) -> None:
        """K1/K2: replace all chunks of every url present in ``chunks``,
        keep everything else. Key uniqueness is enforced by apply() — the
        choke point sync.sync_documents also passes through."""
        self.apply(chunks, None)

    def delete_by_urls(self, urls: DataFrame) -> None:
        self.apply(None, urls.select("url"))


class SyncStateStore:
    """KV watermark store (vec_metadata, database.ts:121-126; the reference
    stores etag:<url>, lastmod:<url>, last_run_<src>... keys). Tiny by
    construction, so a single JSON file with atomic replace is the right
    local implementation; the API is what matters (get/put/delete by key)."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def _load(self) -> dict[str, str]:
        """A missing file is an empty store. A file that exists but is not a
        JSON object raises, as a corrupt MANIFEST does: reading it as empty
        would let the next put rewrite the file with only its own keys."""
        try:
            with open(self.path) as f:
                state = json.load(f)
        except FileNotFoundError:
            return {}
        except ValueError as e:
            raise ValueError(f"unreadable sync-state file: {self.path}") from e
        if not isinstance(state, dict):
            raise ValueError(f"malformed sync-state file: {self.path}")
        return state

    def get(self, key: str, default: str | None = None) -> str | None:
        return self._load().get(key, default)

    def put(self, key: str, value: str) -> None:
        self.put_many({key: value})

    def put_many(self, items: dict[str, str]) -> None:
        state = self._load()
        state.update(items)
        _write_json(self.path, state)

    def delete(self, key: str) -> None:
        state = self._load()
        state.pop(key, None)
        _write_json(self.path, state)
