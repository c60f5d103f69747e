#!/usr/bin/env python3
"""Pin the expected outputs of every workload for a range of seeds.

    python3 erbench/pin.py --seeds 0-15          # from the repository root

Runs each workload once per seed in one Spark session and writes each run's
digest (pairwise F1 plus per-stage rows and content hashes, or the
incremental matches' rows and hash) to ``erbench/pinned.json``, which
``run.py`` checks every timed run against. Re-pin only when a change is meant
to alter the program's output, and say so in the change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 0-15")
    args = ap.parse_args(argv)
    lo, hi = (int(x) for x in args.seeds.split("-"))

    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    from erbench import workloads as W
    from erbench.run import start_spark, stop_spark

    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = ROOT
    base = os.path.join(ROOT, ".erbench_work")
    work = os.path.join(base, f"pin-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    path = os.path.join(HERE, "pinned.json")
    with open(path) as f:
        pinned = json.load(f)
    spark = start_spark(work, len(os.sched_getaffinity(0)), None)
    try:
        for name in sorted(W.WORKLOADS):
            for seed in range(lo, hi + 1):
                inp = W.prepare(name, seed, os.path.join(work, "input"))
                run_dir = os.path.join(work, f"{name}-{seed}")
                res = W.run_once(spark, name, inp, run_dir)
                pinned.setdefault(name, {})[str(seed)] = W.digest(name, inp, res)
                shutil.rmtree(run_dir)
                print(f"{name} seed {seed}: {pinned[name][str(seed)]['pairwise_f1']}",
                      file=sys.stderr, flush=True)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
    with open(path, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
