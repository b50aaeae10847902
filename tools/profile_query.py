"""Profile registry queries one at a time: N timed noop-sink runs plus
``explain('formatted')`` capture, with job descriptions set per query.

Usage:
    python tools/profile_query.py [--sf DIR] [--runs N] [--plan-dir DIR] q1 q2 ...

Prints per-query wall times (all samples + min) and, with --plan-dir,
writes <plan-dir>/<query>.txt containing the formatted physical plan.
The harness mirrors bench.py (same session factory, same noop sink, same
fixture preparation) so numbers are comparable with BENCH_DETAIL.json.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pos_dlt_spark.queries import load_registry, prepare_bench_fixtures  # noqa: E402
from pos_dlt_spark.session import get_spark  # noqa: E402

REGISTRY = load_registry()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--no-fixtures", action="store_true")
    args = ap.parse_args()

    spark = get_spark("profile")
    spark.range(1000).selectExpr("sum(id)").collect()
    if not args.no_fixtures:
        prepare_bench_fixtures(spark, args.sf)
    # Arrow channel warmup (mirrors bench.py)
    spark.range(10_000, numPartitions=32).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

    for name in args.names:
        q = REGISTRY[name]
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            df = q.fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plan_dir, f"{name}.txt"), "w") as f:
                f.write(plan)
        samples = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            q.fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        print(f"{name}: min={min(samples):.3f}s samples={samples}", flush=True)


if __name__ == "__main__":
    main()
