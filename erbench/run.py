#!/usr/bin/env python3
"""Entity-matching benchmark: one workload, one seed, one closed loop.

    python3 erbench/run.py --workload er_transcripts --seed 1 --seconds 20 --trace 0

Run from the repository root. It starts one Spark session at
``local[<cpus>]``, writes the seeded inputs, makes one untimed warm-up run,
then runs the workload back to back (the next run starts when the previous
one has committed) for ``--seconds``: at least one run, and another only
while it is expected to end inside the window. Every timed run's output is
checked. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end metrics
(``--trace 0``) or, from a traced run, the per-layer metrics (``--trace 1``).
Everything it writes goes under ``.erbench_work/`` and is removed on exit.
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

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK_BASE = os.path.join(ROOT, ".erbench_work")
GEN_REPS = 3


def log(msg: str):
    print(f"[erbench] {msg}", file=sys.stderr, flush=True)


def start_spark(work: str, cpus: int, event_dir: str | None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("erbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # a fixed, pre-touched heap: the resident set then depends on the work
        # outside the heap, not on when the collector chose to grow it
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions",
                f"-Xms2g -XX:+AlwaysPreTouch -Xss32m -Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark):
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated benchmark still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "entity_matching_spark")):
        log("entity_matching_spark/ not found: run from the repository root")
        return 2
    # import the benchmark as a package from the root, never its modules by
    # bare name from this directory
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    from erbench import layers, proc, spans, workloads as W

    if args.workload not in W.WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(W.WORKLOADS)}")
        return 2
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    work = os.path.join(WORK_BASE, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # everything Spark and its JVMs write stays inside the checkout: shuffle
    # files (this variable wins over spark.local.dir) and no perf-data file
    # in the system temp dir, from the launcher JVM either
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    try:
        return _run(args, work, W, layers, proc, spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_BASE) and not os.listdir(WORK_BASE):
            os.rmdir(WORK_BASE)


def _run(args, work: str, W, layers, proc, spans) -> int:
    name, seed = args.workload, args.seed
    kind = W.WORKLOADS[name]["kind"]
    cpus = len(os.sched_getaffinity(0))
    event_dir = os.path.join(work, "eventlog") if args.trace else None

    t0 = time.time()
    spark = start_spark(work, cpus, event_dir)
    try:
        jvm_s = time.time() - t0
        gen_s = []
        for _ in range(GEN_REPS):
            t = time.time()
            inp = W.prepare(name, seed, os.path.join(work, "input"))
            gen_s.append(time.time() - t)
        warm = W.prepare(name, seed, os.path.join(work, "warm_input"), warm=True)
        t = time.time()
        W.run_once(spark, name, warm, os.path.join(work, "run-warm"))
        warm_s = time.time() - t
        setup_s = jvm_s + statistics.median(gen_s) + warm_s
        log(f"setup {setup_s:.2f}s (jvm {jvm_s:.2f}, gen {statistics.median(gen_s):.2f}, "
            f"warm-up {warm_s:.2f}); {inp['turns']} turns, local[{cpus}]")

        tracer = None
        if args.trace:
            tracer = spans.Tracer(spark.sparkContext)
            layers.instrument(tracer, spark, kind)
        with open(os.path.join(HERE, "pinned.json")) as f:
            pinned = json.load(f).get(name, {}).get(str(seed))

        runs, digests = [], []
        attempted = failed = 0
        rss = proc.PeakRss()
        t_measure = time.time()
        while True:
            t_run = time.time()
            attempted += 1
            run_dir = os.path.join(work, f"run-{attempted}")
            try:
                res = W.run_once(spark, name, inp, run_dir, tracer)
                dig = W.digest(name, inp, res)
                errors = W.check(dig, pinned, digests[0] if digests else None)
            except Exception:  # a failed run is counted, never dropped
                errors = [traceback.format_exc()]
            if errors:
                failed += 1
                log(f"run {attempted} FAILED: " + "; ".join(errors))
            else:
                runs.append(res)
                digests.append(dig)
                log(f"run {attempted}: wall {res['wall_s']:.3f}s, cpu {res['cpu_s']:.3f}s, digest {json.dumps(dig)}")
            now = time.time()
            if now - t_measure + (now - t_run) > args.seconds:
                break
        peak_rss = rss.stop()
        if tracer is not None:
            tracer.restore()
        arrow_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    finally:
        stop_spark(spark)

    correct = failed == 0
    if not runs:
        print(json.dumps({"correct": False, "attempted": attempted, "failed": failed,
                          "metrics": {}}))
        return 1
    walls = [r["wall_s"] for r in runs]
    if args.trace:
        jobs, tasks = spans.read_event_log(event_dir)
        per_run = [layers.run_metrics(name, r, tracer, jobs, tasks, arrow_batch) for r in runs]
        metrics = {k: metric(statistics.median(p[k] for p in per_run), unit)
                   for k, unit in layers.UNITS.items()}
        attributed = [sum(v for k, v in p.items() if k.endswith(".self_s"))
                      + p["pipeline.unattributed_s"] for p in per_run]
        log(f"traced wall {statistics.median(walls):.3f}s; per run, layer self times + "
            f"unattributed = {[round(a, 3) for a in attributed]} s against walls "
            f"{[round(w, 3) for w in walls]} s; host kernel calibration "
            f"{layers.calibrate_host():.0f} JW pairs/s (fixed names)")
    else:
        metrics = {
            "turns_per_cpu_s": metric(
                statistics.median(r["turns"] / r["cpu_s"] for r in runs), "turns/cpu-s"),
            "pairs_scored_per_cpu_s": metric(
                statistics.median(r["pairs_scored"] / r["cpu_s"] for r in runs), "pairs/cpu-s"),
            "batch_cpu_s_p50": metric(
                statistics.median(x for r in runs for x in r["batch_cpu_s"]), "cpu-s"),
            "setup_s": metric(setup_s, "s"),
            "peak_rss_mb": metric(peak_rss, "MB"),
            "pairwise_f1": metric(statistics.median(d["pairwise_f1"] for d in digests), "ratio"),
            "ops_ok_ratio": metric((attempted - failed) / attempted, "ratio"),
        }
        log(f"untraced wall {statistics.median(walls):.3f}s, "
            f"{statistics.median(r['turns'] / r['wall_s'] for r in runs):.1f} turns/s, "
            f"batch latency p50 {statistics.median(x for r in runs for x in r['batch_latency_s']):.3f}s "
            f"over {len(runs)} run(s)")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
