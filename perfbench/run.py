"""Engine benchmark: one seeded command per workload.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_resync --seed 1 --seconds 10 --trace 0

It builds its inputs from ``--seed`` under ``.perfbench_work/`` in the
current directory, starts Spark ``local[N]`` with N the number of CPUs this
process may run on, runs the workload (pb_workloads.py) for ``--seconds``,
checks every operation's output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics as measured wall times;
``--trace 1`` runs the same untraced sequence, then a traced one, and
reports the per-layer metrics (pb_trace.py). The full record (set-up parts,
samples, exact work counts, per-query and per-layer detail, which end-to-end
metric each layer metric should move, and host-speed evidence: a fixed
pure-Python loop timed before Spark starts and after it stops, and the
host's CPU steal share over the run) goes to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``.

Everything it writes stays under the current directory; it removes its work
directory and stops Spark and the JVM before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest_resync", "registry_headline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _environment(work: str, cpus: int) -> None:
    """Pin the session's CPU count and keep every file Spark, the JVM and
    the Python workers write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="3g",
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        SPARK_GRAFT_TRAIN_CACHE=os.path.join(work, "train-cache"),
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf spark.ui.showConsoleProgress=false",
            # the status store must keep every job and stage of a run
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]),
    )


def _cpu_jiffies() -> list[int] | None:
    """Host CPU time by state from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def _stop(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    args = _parse(argv)
    import pb_workloads

    probe_s, jiffies_before = pb_workloads.host_probe(), _cpu_jiffies()
    t_start = time.perf_counter()
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "doc2vec_spark", "engine.py"))
        and os.path.isfile(os.path.join(root, "bench.py"))
    ):
        print("perfbench: doc2vec_spark/ and bench.py not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    here = os.path.dirname(os.path.abspath(__file__))
    if here not in sys.path:
        sys.path.insert(0, here)

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, cpus)
    spark = None
    try:
        from doc2vec_spark.session import get_spark

        import pb_stats

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t_start
        run = pb_workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace))
        run.detail.update(
            workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
            cpus=cpus, master=spark.sparkContext.master, client="one closed-loop client",
            session_start_s=session_start_s,
        )
        metrics = pb_workloads.WORKLOADS[args.workload](run)
        if args.trace:
            metrics["session.start_s"] = (session_start_s, "s")
    except Exception:  # noqa: BLE001 - no result line on any failure
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    jiffies_after = _cpu_jiffies()
    probe_after_s = pb_workloads.host_probe()
    host = {"probe_before_s": probe_s, "probe_after_s": probe_after_s,
            "probe_median_s": statistics.median(probe_s + probe_after_s)}
    if jiffies_before is not None and jiffies_after is not None:
        delta = [b - a for a, b in zip(jiffies_before, jiffies_after)]
        host["steal_share"] = pb_stats.share(delta[7], sum(delta))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    run.detail.update(
        host=host,
        failed_op_share=pb_stats.share(run.failed, run.attempted),
        failures=run.failures,
        should_move=pb_workloads.SHOULD_MOVE,
        result=result,
    )
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(run.detail, f, indent=1, sort_keys=True, default=str)
    summary = {k: run.detail[k] for k in ("workload_metrics", "failed_op_share") if k in run.detail}
    summary["host_probe_median_s"] = host["probe_median_s"]
    print(json.dumps(summary, sort_keys=True), file=sys.stderr)
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
