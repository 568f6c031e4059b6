"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed under ``.perfbench_work/``, sets the session up, runs the number of
passes or cycles that ``--seconds`` sets, checks every output, and prints
one JSON object as the last line of standard output:

- ``--trace 0``: the end-to-end metrics (see README.md);
- ``--trace 1``: the per-layer metrics, from a run with Spark's event log
  on; each call's wall-clock spans select its jobs in the log.

A line before it (``{"info": ...}``) records the host (cores, CPU steal
share, load average), the sample count and the tail percentile.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "data_pipeline__s3_to_postgres_s3_spark"
WORKLOADS = ("query_mix", "corpus_arrival")


def environment(work: str) -> dict[str, str]:
    """What the engine needs from the environment for this run: the real
    core count (config.default_cpus() otherwise assumes 32), the repo root
    on the Python workers' path, and every scratch location inside the
    work directory."""
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
    }


def stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in (ENGINE, os.path.join("tests", "oracle_harness.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; "
                  "run from a full checkout", file=sys.stderr)
            return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = environment(work)
    for d in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.makedirs(env[d], exist_ok=True)
    os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

    import eventlog
    import harness
    import metrics
    import workloads

    # A terminated run still stops its JVM, its other processes and
    # removes its files.
    harness.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.perf_counter()
    try:
        cpu0 = harness.cpu_times()
        setup = harness.set_up(work, bool(args.trace), workloads.warmup)
        spark = setup.spark
        rec = harness.Recorder(spark)
        t_setup = time.perf_counter()
        out = getattr(workloads, args.workload)(rec, work, args.seed, args.seconds)
        t_work = time.perf_counter()
        jvm_mb = rec.jvm_hwm_mb()
        app_id = spark.sparkContext.applicationId
        spark.stop()
        stop_jvm()
        host = {
            "nproc": int(env["SPARK_GRAFT_CPUS"]),
            "steal_share": harness.steal_share(cpu0, harness.cpu_times()),
            "loadavg_1m": os.getloadavg()[0],
        }
        jobs = (eventlog.fold_file(os.path.join(work, "eventlog", app_id))
                if args.trace else {})

        attempted = len(out.calls)
        values = (metrics.per_layer(out, setup, jobs, host, jvm_mb) if args.trace
                  else metrics.end_to_end(out, setup, rec, harness.driver_rss_mb()))
        print(json.dumps({"info": {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            **host, "ops": attempted,
            "tail_percentile": harness.tail([c.total_s for c in out.calls])[1],
            "timed_s": rec.timed, "notes": out.notes,
            "calls_s": [[c.op, round(c.total_s, 3)] for c in out.calls],
            "jobs_per_op": workloads.median([sum(c.jobs.values()) for c in out.calls]),
            "prep_s": out.prep_s,
            "wall_s": {"setup": t_setup - t0, "workload": t_work - t_setup,
                       "total": time.perf_counter() - t0},
        }}))
        print(json.dumps({
            "correct": out.failed == 0,
            "attempted": attempted,
            "failed": out.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
        }))
        return 0
    finally:
        try:
            stop_jvm()
        finally:
            harness.stop_children()
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
