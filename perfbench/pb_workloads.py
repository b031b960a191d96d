"""The benchmark's workloads.

Each workload sets up, then repeats its timed sequence until ``seconds``
have passed, checking every operation's output. One closed-loop client:
each call is made after the previous one returned.

``ingest_resync``: set-up runs a small throwaway warm-up ingest and builds a
seeded markdown corpus. The timed sequence is a cold ingest into a fresh
store, then change cycles (edit 1 % of pages, delete 0.5 %, add 0.5 %,
``engine.run``, then reads of the new commit that never repeat), then
no-op re-syncs.

``registry_headline``: set-up writes the seeded registry tables and runs one
warm pass over ``bench.HEADLINE``. The timed sequence is further passes,
each query's row count checked against the warm pass.

End-to-end metrics, the same names on every workload, as raw wall times:

- ``setup_s``: process start until timing begins, with the repeatable input
  build run ``SETUP_REPS`` times and its median counted.
- ``cycle_s``: the workload's repeated unit. ingest_resync: median
  ``engine.run`` wall time of a change cycle. registry_headline: one headline
  pass, as the sum over the queries of each query's median time over the
  passes.
- ``query_p50_s``: median latency of one query. ingest_resync: a
  ``query_documentation`` or ``query_code`` call with ``collect`` right after
  a commit. registry_headline: the median of every timed ``count()`` call.

Lookups (``get_chunks``, ``reconstruct_page``) run after each commit too;
their latency is in the detail record only, because a median over queries
and lookups together falls between two groups of similar size and moves
with the mix.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pb_gen
import pb_oracle
import pb_stats
import pb_trace

SETUP_REPS = 3
PRODUCT = "docs"
EXTS = [".md", ".markdown"]

INGEST_PAGES = 300
WARM_PAGES = 12
CYCLES = 3
QUERIES_PER_CYCLE = 5
LOOKUPS_PER_CYCLE = 1
NOOPS = 2

REGISTRY_SF = 0.1

# the traced ingest counts the rows handed to the embedder in a span of
# this name; its time and work are left out of the layer figures
EMBED_INPUT_SPAN = "embedding.input_count"

# per-layer metric -> (end-to-end metric it should move, workload)
SHOULD_MOVE = {
    "store.read_s": ("query_p50_s", "ingest_resync"),
    "store.read_jobs": ("query_p50_s", "ingest_resync"),
    "store.live_versions": ("query_p50_s", "ingest_resync"),
    "store.apply_s": ("cycle_s", "ingest_resync; registry_headline should not move"),
    "store.buckets_rewritten": ("cycle_s", "ingest_resync"),
    "store.rows_written_per_changed_row": ("cycle_s", "ingest_resync"),
    "store.bytes_written": ("cycle_s", "ingest_resync"),
    "sync.self_s": ("cycle_s", "ingest_resync"),
    "sync.jobs": ("cycle_s", "ingest_resync"),
    "sync.stages": ("cycle_s", "ingest_resync"),
    "sync.tasks": ("cycle_s", "ingest_resync"),
    "sync.input_bytes_per_corpus_byte": ("cycle_s", "ingest_resync"),
    "chunking.exec_run_s": ("cycle_s", "ingest_resync; registry_headline (doc_* queries)"),
    "chunking.chunks_per_exec_s": ("cycle_s", "ingest_resync"),
    "embedding.chunks_embedded_per_changed_chunk": ("cycle_s", "ingest_resync"),
    "embedding.embed_text_s": ("query_p50_s", "ingest_resync; registry_headline"),
    "query.build_s": ("query_p50_s", "ingest_resync; registry_headline (doc_* queries)"),
    "op.build_s": ("query_p50_s", "both: ingest_resync reads, registry_headline queries"),
    "op.plan_s": ("query_p50_s", "both"),
    "op.exec_s": ("query_p50_s", "both"),
    "op.exec_cpu_s": ("query_p50_s; cycle_s on registry_headline", "both"),
    "op.jobs": ("query_p50_s; cycle_s on registry_headline", "both"),
    "op.stages": ("query_p50_s; cycle_s on registry_headline", "both"),
    "op.tasks": ("query_p50_s; cycle_s on registry_headline", "both"),
    "op.input_bytes": ("query_p50_s; cycle_s on registry_headline", "both"),
    "op.shuffle_bytes": ("cycle_s", "registry_headline"),
    "op.spill_bytes": ("cycle_s", "registry_headline"),
    "lookup.input_bytes_per_returned_byte": ("lookup_p50_s, detail record only", "ingest_resync"),
    "session.start_s": ("setup_s", "both"),
    "trace.overhead_s": ("-", "both"),
}


class Run:
    """One benchmark run: session, settings, check tally and detail record."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.detail: dict = {}
        self.reader = pb_trace.StatusReader(spark)

    def op(self, ok: bool, what: str) -> bool:
        """Count one operation; a failed check counts it as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 50:
                self.failures.append(what)
        return ok

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def host_probe(reps: int = 5) -> list[float]:
    """Host speed evidence for the record: a fixed pure-Python loop that no
    code under test runs, timed ``reps`` times (run.py samples it before
    Spark starts and after it stops)."""
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        out.append(time.perf_counter() - t)
    return out


def _timed(fn, *args, **kwargs):
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t, out


def _work_per(work: dict, units: int) -> dict:
    return {k: v / units for k, v in work.items()} if units else work


# -- ingest_resync --------------------------------------------------------------


class _Ingest:
    """The ingest_resync workload's state: corpus, its reference model and
    the engine under test."""

    def __init__(self, run: Run):
        self.run = run
        self.rng = random.Random(f"reads:{run.seed}")
        self.n_reads = 0
        self.samples: dict[str, list[float]] = {
            "cold_s": [], "cold_chunks": [], "resync_s": [], "noop_s": [],
            "query_s": [], "lookup_s": [],
        }
        self.buckets_rewritten: list[int] = []

    def source(self, root: str) -> dict:
        return {"sources": [{
            "type": "local_directory", "path": root, "product_name": PRODUCT,
            "include_extensions": EXTS,
        }]}

    @staticmethod
    def url_of(root: str):
        return lambda rel: "file://" + os.path.join(root, rel)

    def warm_up(self) -> None:
        from doc2vec_spark.engine import Doc2VecSparkEngine

        corpus = pb_gen.Corpus(0, WARM_PAGES)
        root = self.run.path("warm-corpus")
        corpus.write(root)
        engine = Doc2VecSparkEngine(self.run.spark, self.run.path("warm-store"))
        engine.run(self.source(root))
        engine.query_documentation("warm up", product_name=PRODUCT).collect()
        engine.get_chunks(self.url_of(root)(sorted(corpus.pages)[0])).collect()

    def build_corpus(self, rep: int) -> None:
        root = self.run.path(f"corpus{rep}")
        self.corpus = pb_gen.Corpus(self.run.seed, INGEST_PAGES)
        self.corpus.write(root)
        self.model = pb_oracle.ChunkModel(self.url_of(root))
        self.model.set_pages(self.corpus.pages)
        self.root = root

    # -- one engine.run with its checks --------------------------------------

    def sync(self, engine, expect: dict, kind: str, tracer=None, count_check: bool = False) -> dict:
        """One ``engine.run`` (in an ``engine.run`` span when tracing), then
        its checks: counters, version token and, with ``count_check``, the
        store's chunk count."""
        token = engine.store.version_token()
        if tracer is None:
            elapsed, results = _timed(engine.run, self.source(self.root))
            span = None
        else:
            with tracer.span("engine.run") as span:
                elapsed, results = _timed(engine.run, self.source(self.root))
        stats = results[0]
        got = {k: getattr(stats.counters, k) for k in expect}
        ok = stats.ok and got == expect
        after = engine.store.version_token()
        if kind == "noop":
            ok = ok and after == token
        self.run.op(ok, f"{kind} sync: expected {expect}, got {got}, error {stats.error}")
        if count_check:
            n = engine.store.count()
            self.run.op(n == self.model.chunk_count(),
                        f"after {kind} sync the store holds {n} chunks, the corpus {self.model.chunk_count()}")
        old = dict(token[1])
        return {
            "s": elapsed,
            "span": span,
            "counters": got,
            "buckets_rewritten": sum(1 for b, v in after[1] if old.get(b) != v),
            "live_versions": len({v for _, v in after[1]}),
        }

    def cold(self, engine) -> float:
        n = self.model.chunk_count()
        expect = pb_gen.expected_counters(0, 0, 0, len(self.corpus.pages))
        expect.update(chunks_added=n, chunks_deleted=0)
        elapsed = self.sync(engine, expect, "cold", count_check=True)["s"]
        self.samples["cold_s"].append(elapsed)
        self.samples["cold_chunks"].append(n)
        return elapsed

    def change_cycle(self, engine, tracer=None) -> dict:
        m = self.corpus.plan()
        expect = m.expected_counters(len(self.corpus.pages))
        chunks_deleted = self.model.chunk_count([*m.edited, *m.deleted])
        known_ids = self.model.chunk_ids()
        self.corpus.write(self.root, m)
        self.corpus.apply(m)
        self.model.drop_pages(m.deleted)
        self.model.set_pages({**m.edited, **m.added})
        chunks_added = self.model.chunk_count([*m.edited, *m.added])
        expect.update(chunks_added=chunks_added, chunks_deleted=chunks_deleted)
        rec = self.sync(engine, expect, "change", tracer)
        self.samples["resync_s"].append(rec["s"])
        self.buckets_rewritten.append(rec["buckets_rewritten"])
        changed = sorted([*m.edited, *m.added])
        reads = []
        for kind in ["query"] * QUERIES_PER_CYCLE + ["lookup"] * LOOKUPS_PER_CYCLE:
            reads.append(self.read(engine, kind, changed, tracer))
        rec.update(
            reads=reads, changed_rows=chunks_added + chunks_deleted,
            new_content_chunks=self.model.new_chunk_count(changed, known_ids),
            store_chunks=self.model.chunk_count(),
        )
        return rec

    def noop(self, engine, count_check: bool) -> None:
        n = len(self.corpus.pages)
        expect = pb_gen.expected_counters(n, 0, 0, 0)
        expect.update(chunks_added=0, chunks_deleted=0)
        self.samples["noop_s"].append(self.sync(engine, expect, "noop", count_check=count_check)["s"])

    # -- reads of the new commit ----------------------------------------------

    def read(self, engine, kind: str, changed: list[str], tracer=None) -> dict:
        """One query or lookup with ``collect``, timed and checked. Query
        texts carry a counter, so no two reads repeat."""
        from doc2vec_spark import query as q

        rng = self.rng
        self.n_reads += 1
        url_of = self.url_of(self.root)
        store = engine.store
        if kind == "query":
            text = " ".join(rng.sample(pb_gen.VOCAB, 4)) + f" q{self.n_reads}"
            variant = rng.choice(("plain", "prefix", "ext", "code"))
            kw: dict = {"product_name": PRODUCT}
            if variant == "prefix":
                kw["url_prefix"] = url_of(rng.choice(pb_gen.SECTIONS) + "/")
            elif variant == "ext":
                kw["extensions"] = [".markdown"]

            def build():
                if variant == "code":
                    return engine.query_code(text, **kw)
                return engine.query_documentation(text, **kw)

            def check(rows):
                want = self.model.exact_topk(
                    text, q.DEFAULT_K, kw.get("url_prefix"), kw.get("extensions")
                )
                return [(r["url"], r["chunk_index"]) for r in rows] == want

            label = f"query_{variant}"
        else:
            rel = rng.choice(changed)
            url = url_of(rel)
            chunks = self.model.by_url[url]
            variant = rng.choice(("chunks", "range", "page"))
            lo, hi = (1, 2) if variant == "range" else (None, None)

            def build():
                if variant == "page":
                    return q.reconstruct_page(store.read(), url)
                return engine.get_chunks(url, lo, hi)

            def check(rows):
                if variant == "page":
                    return [r["page"] for r in rows] == ["\n\n".join(c.content for c in chunks)]
                want = [c for c in chunks if (lo is None or c.chunk_index >= lo) and (hi is None or c.chunk_index <= hi)]
                return [(r["chunk_index"], r["content"], r["total_chunks"]) for r in rows] == [
                    (c.chunk_index, c.content, len(chunks)) for c in want
                ]

            label = f"lookup_{variant}"
        rec = {"kind": kind, "label": label}
        if tracer is None:
            t = time.perf_counter()
            rows = build().collect()
            rec["s"] = time.perf_counter() - t
        else:
            with tracer.span(f"read:{label}") as span:
                with tracer.span("op.build"):
                    df = build()
                with tracer.span("op.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("op.exec"):
                    rows = df.collect()
            rec["s"] = span["dur_s"]
            rec["span"] = span
        field = "page" if label == "lookup_page" else "content"
        rec["returned_bytes"] = sum(len(r[field].encode()) for r in rows) if kind == "lookup" else 0
        self.samples[f"{kind}_s"].append(rec["s"])
        self.run.op(check(rows), f"{label} result differs from the reference")
        return rec

    def iteration(self, it: int, tracer=None) -> list[dict]:
        from doc2vec_spark.engine import Doc2VecSparkEngine

        engine = Doc2VecSparkEngine(self.run.spark, self.run.path(f"store{it}"))
        self.cold(engine)
        cycles = []
        for _ in range(CYCLES):
            cycles.append(self.change_cycle(engine, tracer))
        for i in range(NOOPS):
            self.noop(engine, count_check=i == NOOPS - 1)
        return cycles


def ingest_resync(run: Run) -> dict:
    w = _Ingest(run)
    t = time.perf_counter()
    w.warm_up()
    warm_s = time.perf_counter() - t
    build_s = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        w.build_corpus(rep)
        build_s.append(time.perf_counter() - t)
    for rep in range(SETUP_REPS - 1):
        shutil.rmtree(run.path(f"corpus{rep}"))
    setup = {"session_s": run.detail["session_start_s"], "warm_up_s": warm_s, "corpus_build_s": build_s}
    setup_s = run.detail["session_start_s"] + warm_s + pb_stats.median(build_s)

    run.reader.new_jobs()
    t0 = time.perf_counter()
    it = 0
    while True:
        it += 1
        w.iteration(it)
        if time.perf_counter() - t0 >= run.seconds:
            break
    measured_s = time.perf_counter() - t0
    work = run.reader.work(run.reader.new_jobs())
    s = w.samples
    e2e = {
        "setup_s": (setup_s, "s"),
        "cycle_s": (pb_stats.median(s["resync_s"]), "s"),
        "query_p50_s": (pb_stats.median(s["query_s"]), "s"),
    }
    run.detail.update(
        setup=setup,
        measured_s=measured_s,
        iterations=it,
        corpus_pages=len(w.corpus.pages),
        corpus_bytes=sum(len(t.encode()) for t in w.corpus.pages.values()),
        workload_metrics={
            "ingest_chunks_per_s": pb_stats.median(
                [n / t for n, t in zip(s["cold_chunks"], s["cold_s"])]
            ),
            "resync_p50_s": pb_stats.median(s["resync_s"]),
            "noop_resync_p50_s": pb_stats.median(s["noop_s"]),
            "post_commit_query_p50_s": pb_stats.median(s["query_s"]),
            "lookup_p50_s": pb_stats.median(s["lookup_s"]),
        },
        samples={k: pb_stats.summarize(v) for k, v in s.items() if k != "cold_chunks"},
        buckets_rewritten_per_change=pb_stats.median(w.buckets_rewritten),
        work_per_iteration=_work_per(work, it),
    )
    if run.trace:
        run.detail["untraced_e2e"] = {k: v for k, (v, _) in e2e.items()}
        per_layer = _trace_ingest(run, w, it + 1)
        per_layer["trace.overhead_s"] = (
            per_layer.pop("_traced_cycle_s") - e2e["cycle_s"][0], "s"
        )
        return per_layer
    return e2e


def _wrap_layers(tracer: pb_trace.Tracer) -> None:
    """Spans around the package entry points the engine resolves at call
    time."""
    from doc2vec_spark import chunking, embedding, embedding_native, engine, query, store, sync

    tracer.wrap(store.ChunkStore, "read", "store.read")
    tracer.wrap(store.ChunkStore, "apply", "store.apply")
    tracer.wrap(engine, "sync_documents", "sync")
    tracer.wrap(sync, "chunk_documents", "chunking")
    tracer.wrap(sync, "diff_status", "sync.diff_status")
    tracer.wrap(sync, "with_embeddings_native", "embedding")
    tracer.wrap(chunking, "chunk_documents", "chunking")
    tracer.wrap(embedding_native, "with_embeddings_native", "embedding")
    tracer.wrap(embedding, "embed_text", "embedding.embed_text")
    tracer.wrap(query, "embed_text", "embedding.embed_text")
    for fn in ("query_documentation", "query_code", "get_chunks", "reconstruct_page"):
        tracer.wrap(query, fn, "query")


def _op_metrics(ops: list[dict], spans: list[dict]) -> tuple[dict, list[dict]]:
    """op.* as the mean over ``ops`` (root spans, each holding one
    op.build, op.plan and op.exec span), and each op's record."""
    per_op = []
    for root in ops:
        tree = pb_trace.subtree(spans, root)
        phase = {s["name"]: s["dur_s"] for s in tree if s["parent"] == root["id"]}
        roll = pb_trace.rollup(tree)
        per_op.append({
            "name": root["name"],
            "s": root["dur_s"],
            "build_s": phase["op.build"],
            "plan_s": phase["op.plan"],
            "exec_s": phase["op.exec"],
            "work": pb_trace.total_work(tree),
            "layers": {n: {"calls": r["calls"], "self_s": r["self_s"], "work": r["work"]} for n, r in roll.items()},
        })

    def mean(f) -> float:
        return sum(f(o) for o in per_op) / len(per_op)

    out = {
        "op.build_s": (mean(lambda o: o["build_s"]), "s"),
        "op.plan_s": (mean(lambda o: o["plan_s"]), "s"),
        "op.exec_s": (mean(lambda o: o["exec_s"]), "s"),
        "op.exec_cpu_s": (mean(lambda o: o["work"]["cpu_s"]), "s"),
        "op.jobs": (mean(lambda o: o["work"]["jobs"]), "count"),
        "op.stages": (mean(lambda o: o["work"]["stages"]), "count"),
        "op.tasks": (mean(lambda o: o["work"]["tasks"]), "count"),
        "op.input_bytes": (mean(lambda o: o["work"]["input_bytes"]), "bytes"),
        "op.shuffle_bytes": (mean(lambda o: o["work"]["shuffle_read_bytes"] + o["work"]["shuffle_write_bytes"]), "bytes"),
        "op.spill_bytes": (mean(lambda o: o["work"]["spill_bytes"]), "bytes"),
    }
    return out, per_op


def _layer_self(roll: dict, name: str) -> float:
    return roll.get(name, {}).get("self_s", 0.0)


def _count_embedder_input(tracer: pb_trace.Tracer) -> None:
    """Count the rows the sync hands to the embedder (one extra action, in
    its own span, which keeps the count as ``rows``) before embedding them."""
    from doc2vec_spark import sync

    def make(orig):
        def counted(df, *args, **kwargs):
            with tracer.span(EMBED_INPUT_SPAN) as rec:
                rec["rows"] = df.count()
            return orig(df, *args, **kwargs)

        return counted

    tracer.patch(sync, "with_embeddings_native", make)


def _trace_ingest(run: Run, w: _Ingest, it: int) -> dict:
    tracer = pb_trace.Tracer(run.spark, run.reader)
    _wrap_layers(tracer)
    _count_embedder_input(tracer)
    try:
        cycles = w.iteration(it, tracer)
    finally:
        tracer.unwrap_all()
    spans = tracer.spans
    corpus_bytes = sum(len(t.encode()) for t in w.corpus.pages.values())
    per_cycle = []
    for c in cycles:
        tree = pb_trace.subtree(spans, c["span"])
        counting = [s for s in tree if s["name"] == EMBED_INPUT_SPAN]
        run_tree = [s for s in tree if s["name"] != EMBED_INPUT_SPAN]
        run_roll = pb_trace.rollup(run_tree)
        run_work = pb_trace.total_work(run_tree)
        apply_work = run_roll.get("store.apply", {}).get("work", pb_trace.empty_work())
        read_trees = [pb_trace.subtree(spans, r["span"]) for r in c["reads"]]
        read_roll = pb_trace.rollup([s for t in read_trees for s in t])
        lookups = [r for r in c["reads"] if r["kind"] == "lookup"]
        lookup_in = sum(pb_trace.total_work(pb_trace.subtree(spans, r["span"]))["input_bytes"] for r in lookups)
        per_cycle.append({
            "engine_run_s": c["span"]["dur_s"] - sum(s["dur_s"] for s in counting),
            "sync.self_s": _layer_self(run_roll, "sync"),
            "sync.work": run_roll.get("sync", {}).get("work", pb_trace.empty_work()),
            "store.apply_s": _layer_self(run_roll, "store.apply"),
            "store.bytes_written": apply_work["output_bytes"],
            "store.rows_written_per_changed_row": apply_work["output_records"] / c["changed_rows"],
            "store.buckets_rewritten": c["buckets_rewritten"],
            "store.live_versions": c["live_versions"],
            "chunking.exec_run_s": run_work["python_map_run_s"],
            "chunking.chunks_per_exec_s": c["store_chunks"] / run_work["python_map_run_s"]
            if run_work["python_map_run_s"] else 0.0,
            "sync.input_bytes_per_corpus_byte": run_work["input_bytes"] / corpus_bytes,
            # attempted: rows handed to the embedder; useful: chunks of the
            # changed pages whose content was not in the corpus before
            "embedding.attempted": sum(s["rows"] for s in counting),
            "embedding.useful": c["new_content_chunks"],
            "embedding.embed_text_s": _layer_self(read_roll, "embedding.embed_text")
            + _layer_self(run_roll, "embedding.embed_text"),
            "query.build_s": _layer_self(read_roll, "query"),
            "store.read_s": _layer_self(read_roll, "store.read") / len(c["reads"]),
            "store.read_jobs": read_roll.get("store.read", {}).get("work", pb_trace.empty_work())["jobs"] / len(c["reads"]),
            "lookup.input_bytes_per_returned_byte": lookup_in / max(1, sum(r["returned_bytes"] for r in lookups)),
            "work": run_work,
        })
    med = lambda k: pb_stats.median([p[k] for p in per_cycle])  # noqa: E731
    reads = [r["span"] for c in cycles for r in c["reads"]]
    op, per_op = _op_metrics(reads, spans)
    sync_work = [p["sync.work"] for p in per_cycle]
    attempted = sum(p["embedding.attempted"] for p in per_cycle)
    layer = {
        "store.read_jobs": (med("store.read_jobs"), "count"),
        "store.live_versions": (med("store.live_versions"), "count"),
        "store.buckets_rewritten": (med("store.buckets_rewritten"), "count"),
        "store.rows_written_per_changed_row": (med("store.rows_written_per_changed_row"), "ratio"),
        "store.bytes_written": (med("store.bytes_written"), "bytes"),
        "sync.jobs": (pb_stats.median([x["jobs"] for x in sync_work]), "count"),
        "sync.stages": (pb_stats.median([x["stages"] for x in sync_work]), "count"),
        "sync.tasks": (pb_stats.median([x["tasks"] for x in sync_work]), "count"),
        "sync.input_bytes_per_corpus_byte": (med("sync.input_bytes_per_corpus_byte"), "ratio"),
        "chunking.exec_run_s": (med("chunking.exec_run_s"), "s"),
        "embedding.chunks_embedded_per_changed_chunk": (
            pb_stats.share(sum(p["embedding.useful"] for p in per_cycle), attempted), "ratio"),
        "embedding.embed_text_s": (med("embedding.embed_text_s"), "s"),
        "query.build_s": (med("query.build_s"), "s"),
        "lookup.input_bytes_per_returned_byte": (med("lookup.input_bytes_per_returned_byte"), "ratio"),
        **op,
    }
    run.detail["trace"] = {
        "per_cycle": per_cycle,
        "reads": per_op,
        "ingest_only": {
            "store.read_s": med("store.read_s"),
            "store.apply_s": med("store.apply_s"),
            "sync.self_s": med("sync.self_s"),
            "chunking.chunks_per_exec_s": med("chunking.chunks_per_exec_s"),
        },
    }
    layer["_traced_cycle_s"] = med("engine_run_s")
    return layer


# -- registry_headline ------------------------------------------------------------


def registry_headline(run: Run) -> dict:
    import bench
    from doc2vec_spark.registry import all_queries

    build_s = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        rows = pb_gen.write_tables(run.path(f"sf{rep}"), run.seed, REGISTRY_SF)
        build_s.append(time.perf_counter() - t)
    for rep in range(SETUP_REPS - 1):
        shutil.rmtree(run.path(f"sf{rep}"))
    sf_dir = run.path(f"sf{SETUP_REPS - 1}")
    registry = all_queries()
    names = list(bench.HEADLINE)

    t = time.perf_counter()
    expected: dict[str, int | None] = {}
    for name in names:
        try:
            expected[name] = registry[name].fn(run.spark, sf_dir).count()
        except Exception as e:  # noqa: BLE001 - recorded as a failed operation
            expected[name] = None
            run.op(False, f"{name} warm pass raised {type(e).__name__}: {e}")
    warm_s = time.perf_counter() - t
    setup = {"session_s": run.detail["session_start_s"], "tables_build_s": build_s, "warm_pass_s": warm_s}
    setup_s = run.detail["session_start_s"] + pb_stats.median(build_s) + warm_s

    def one(name: str) -> float | None:
        t = time.perf_counter()
        try:
            n = registry[name].fn(run.spark, sf_dir).count()
        except Exception as e:  # noqa: BLE001 - recorded as a failed operation
            run.op(False, f"{name} raised {type(e).__name__}: {e}")
            return None
        elapsed = time.perf_counter() - t
        run.op(n == expected[name], f"{name}: {n} rows, warm pass gave {expected[name]}")
        return elapsed

    times: dict[str, list[float]] = {n: [] for n in names}
    run.reader.new_jobs()
    t0 = time.perf_counter()
    passes = 0
    while True:
        passes += 1
        for name in names:
            d = one(name)
            if d is not None:
                times[name].append(d)
        if time.perf_counter() - t0 >= run.seconds:
            break
    measured_s = time.perf_counter() - t0
    work = run.reader.work(run.reader.new_jobs())
    times = {n: v for n, v in times.items() if v}
    medians = {n: pb_stats.median(v) for n, v in times.items()}
    e2e = {
        "setup_s": (setup_s, "s"),
        "cycle_s": (pb_stats.sum_of_medians(times), "s"),
        "query_p50_s": (pb_stats.median([d for v in times.values() for d in v]), "s"),
    }
    run.detail.update(
        setup=setup,
        measured_s=measured_s,
        passes=passes,
        scale_factor=REGISTRY_SF,
        table_rows=rows,
        workload_metrics={"headline_total_s": e2e["cycle_s"][0]},
        query_median_s=medians,
        row_counts=expected,
        work_per_pass=_work_per(work, passes),
    )
    if not run.trace:
        return e2e

    run.detail["untraced_e2e"] = {k: v for k, (v, _) in e2e.items()}
    tracer = pb_trace.Tracer(run.spark, run.reader)
    _wrap_layers(tracer)
    roots = []
    try:
        for name in names:
            with tracer.span(f"registry:{name}") as root:
                with tracer.span("op.build"):
                    df = registry[name].fn(run.spark, sf_dir).groupBy().count()
                with tracer.span("op.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("op.exec"):
                    n = df.collect()[0][0]
            run.op(n == expected[name], f"{name} (traced): {n} rows, warm pass gave {expected[name]}")
            roots.append(root)
    finally:
        tracer.unwrap_all()
    spans = tracer.spans
    op, per_op = _op_metrics(roots, spans)
    roll = pb_trace.rollup(spans)
    work = pb_trace.total_work(spans)
    traced_total = sum(r["dur_s"] for r in roots)
    layer = {
        "store.read_jobs": (0, "count"),
        "store.live_versions": (0, "count"),
        "store.buckets_rewritten": (0, "count"),
        "store.rows_written_per_changed_row": (0.0, "ratio"),
        "store.bytes_written": (0, "bytes"),
        "sync.jobs": (0, "count"),
        "sync.stages": (0, "count"),
        "sync.tasks": (0, "count"),
        "sync.input_bytes_per_corpus_byte": (0.0, "ratio"),
        "chunking.exec_run_s": (work["python_map_run_s"], "s"),
        "embedding.chunks_embedded_per_changed_chunk": (0.0, "ratio"),
        "embedding.embed_text_s": (_layer_self(roll, "embedding.embed_text"), "s"),
        "query.build_s": (_layer_self(roll, "query"), "s"),
        "lookup.input_bytes_per_returned_byte": (0.0, "ratio"),
        **op,
        "trace.overhead_s": (traced_total - e2e["cycle_s"][0], "s"),
    }
    run.detail["trace"] = {"queries": per_op}
    return layer


WORKLOADS = {"ingest_resync": ingest_resync, "registry_headline": registry_headline}
