"""Benchmark entry point.

    python3 perfbench/run.py --workload {pos_stream,train_data} \
        --seed N --seconds S --trace {0,1} [--scale {full,tiny}]

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench/`` in the checkout, and every temp file, Spark local
dir and JVM temp dir is kept there too; the run's work directory is
removed at exit. Progress goes to stderr. The last line of stdout is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it carries the run's detail (input sizes,
checks, sample counts).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("pos_stream", "train_data")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def confine(work: str) -> None:
    """Point every temp and scratch location at ``work``. Must run before
    pyspark starts the JVM and before ``tempfile`` caches its dir."""
    for sub in ("tmp", "scratch", "warehouse", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # two task slots leave the other cores of a small host to the driver
    # thread, the JIT compiler and GC, so the tasks do not queue behind them
    os.environ["SPARK_GRAFT_CPUS"] = str(min(2, os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # the launcher JVM that spark-submit runs before starting Spark itself
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.sql.ui.retainedExecutions=5000 "
        "--conf spark.ui.retainedJobs=5000 --conf spark.ui.retainedStages=10000 "
        # a fixed, pre-touched heap keeps the JVM's resident size from
        # following GC sizing decisions, which vary from run to run. The JIT
        # stops at its first tier: every tick and query plans and compiles
        # fresh generated classes, and with the optimising tier on, its
        # compiler threads kept 1.5 of 4 cores busy through every steady
        # tick, so how fast the measured code ran depended on how far the
        # compiler had got
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
        '-Xms2g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1" pyspark-shell'
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401  (the program under test and its registry)
        import tools.check_oracle  # noqa: F401  (the oracle comparator)
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout: {exc}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    confine(work)
    from perfbench.workloads import Run, make

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, args.scale)
    try:
        result = run.execute(make(args.workload))
    finally:
        run.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
