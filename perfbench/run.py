"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl_rank --seed 1 --seconds 10 --trace 0

Run from the root of a ligra_spark checkout.  The last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics (timed with
tracing off), with ``--trace 1`` the per-layer metrics of a separate
traced run.  Each checked result is one attempted operation; any failed
check makes the exit code non-zero.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
CORES = 3  # local[3]: a fourth core on a 4-core box only adds spread
MB = 1e6


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("crawl_rank", "frontier_tail", "media_decode", "frontier_media"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="keep solving until this much time has passed "
                         "(at least the workload's min_solves times)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(run_dir: str, ui: bool):
    """local[3] session whose scratch files all stay inside ``run_dir``;
    the UI (and its REST API) only in traced runs."""
    from ligra_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": str(ui).lower(),
    }
    if ui:
        conf.update({"spark.ui.port": "0", "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_spark("perfbench", cpus=CORES, shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def next_rdd_id(spark) -> int:
    return spark.sparkContext.emptyRDD().id()


def storage_mb(spark, since_rdd: int) -> float:
    """Spark storage (memory + disk) of cached RDDs created since
    ``since_rdd`` -- what the last set-up left pinned."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos if i.id() > since_rdd) / MB


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []

    def add(self, results) -> None:
        for name, ok in results:
            self.attempted += 1
            if not ok:
                self.failed.append(name)
                print(f"CHECK FAILED: {name}", file=sys.stderr)


def timed_run(wl, spark, seconds: float, checks: Checks) -> dict:
    setup = []
    for _ in range(wl.setup_reps):
        wl.teardown()
        mark = next_rdd_id(spark)
        t0 = time.perf_counter()
        wl.setup()
        setup.append(time.perf_counter() - t0)
    cache_mb = storage_mb(spark, mark)
    checks.add(wl.check_setup())
    wl.warm_up()
    solves = []
    deadline = time.perf_counter() + seconds
    while len(solves) < wl.min_solves or time.perf_counter() < deadline:
        r = wl.solve()
        checks.add(wl.check(r))
        solves.append(r)
    solve_s = [r["solve_s"] for r in solves]
    samples = {"setup_s": ("s", setup), "solve_s": ("s", solve_s)}
    samples.update(wl.extra_metrics(solves))
    # the end-to-end metrics, plus the workload's own ones (informational)
    for name, (unit, xs) in samples.items():
        print(f"{wl.name} {name} = {statistics.median(xs):.4f} {unit}  "
              f"(median of {len(xs)}: {', '.join(f'{x:.4f}' for x in xs)})")
    print(f"{wl.name} cache_mb = {cache_mb:.4f} MB")
    return {
        "setup_s": _metric(statistics.median(setup), "s"),
        "solve_s": _metric(statistics.median(solve_s), "s"),
        "cache_mb": _metric(cache_mb, "MB"),
    }


def traced_run(wl, spark, tracer, session_s: float, checks: Checks, trace_path: str) -> dict:
    from tracing import PER_LAYER, per_layer_metrics, spark_stage_metrics

    wl.teardown()
    wl.setup()  # untraced: pays the cold start, like the timed run's first set-up
    wl.teardown()
    tracer.enable()
    wl.setup()
    tracer.disable()
    checks.add(wl.check_setup())
    wl.warm_up()
    # untraced, traced, untraced: the overhead is the traced solve
    # against the mean of the two untraced ones around it, so warm-up
    # drift through the run cancels; the UI is on for all three
    before = wl.solve()
    checks.add(wl.check(before))
    tracer.enable()
    try:
        traced = wl.solve()
        facts = wl.facts()
    finally:
        tracer.disable()
    checks.add(wl.check(traced))
    after = wl.solve()
    checks.add(wl.check(after))
    facts.update({
        "session.start_s": session_s,
        "checkpoint.write_mb": traced.get("write_mb", 0.0),
        "trace.overhead": traced["solve_s"] - (before["solve_s"] + after["solve_s"]) / 2,
    })
    metrics = per_layer_metrics(tracer, facts, spark_stage_metrics(spark))
    tracer.write(trace_path, metrics)
    units = dict(PER_LAYER)
    return {name: _metric(float(v), units[name]) for name, v in metrics.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ligra_spark", "__init__.py")):
        print(f"perfbench: no ligra_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # executor-side Python (mapInPandas) must import the package too,
    # and every scratch file stays inside the checkout
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"])

    from inputs import InputCache
    from tracing import Tracer
    from workloads import WORKLOADS

    try:
        wl = WORKLOADS[args.workload](args.seed, InputCache(os.path.join(WORK, "cache")))
        t0 = time.perf_counter()
        spark = start_spark(run_dir, ui=bool(args.trace))
        session_s = time.perf_counter() - t0
        checks = Checks()
        tracer = Tracer(spark)
        try:
            wl.attach(spark, run_dir, tracer)
            if args.trace:
                trace_path = os.path.join(
                    WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
                )
                metrics = traced_run(wl, spark, tracer, session_s, checks, trace_path)
            else:
                metrics = timed_run(wl, spark, args.seconds, checks)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not checks.failed,
        "attempted": checks.attempted,
        "failed": len(checks.failed),
        "metrics": metrics,
    }))
    return 0 if not checks.failed else 1


if __name__ == "__main__":
    sys.exit(main())
