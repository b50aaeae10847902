"""Tick-sentinel invariance check: every session-resumable streaming gate
(and pipeline_append_flows) must return BIT-IDENTICAL rows on its first
call (full replay) and on every resumed call (sentinel tick), because the
driver's oracle hashes results and a drifting resumed result would be a
correctness regression.

Runs each gate N times in ONE session at the given SF and compares the
canonicalized rows call-to-call.

Usage: python tools/check_tick_invariance.py [sf_dir] [--calls N] [names...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pos_dlt_spark.queries import load_registry  # noqa: E402
from pos_dlt_spark.session import get_spark  # noqa: E402
from tools.check_oracle import canon  # noqa: E402

REGISTRY = load_registry()

RESUMABLE = [
    "streaming_hourly_rollup",
    "streaming_cdc_latest_state",
    "streaming_cdc_bucketed_state",
    "streaming_stream_static_join",
    "streaming_stream_stream_join",
    "streaming_corpus_ingest",
    "streaming_distinct_keys",
    "streaming_user_running_stats",
    "streaming_incremental_gold",
    "streaming_update_mode_rollup",
    "streaming_stream_stream_left_join",
    "streaming_sessionized_native",
    "streaming_ann_index_build",
    "streaming_delta_replay_counts",
    "pos_scd2_inventory_history_flow",
    "pipeline_append_flows",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument("--calls", type=int, default=3)
    ap.add_argument("names", nargs="*", default=None)
    args = ap.parse_args()
    names = args.names or RESUMABLE

    spark = get_spark("tickcheck")
    failures = 0
    for name in names:
        q = REGISTRY[name]
        ref = None
        for call in range(args.calls):
            t0 = time.perf_counter()
            pdf = canon(q.fn(spark, args.sf_dir).toPandas())
            dt = time.perf_counter() - t0
            if ref is None:
                ref = pdf
                print(f"# {name} call0 rows={len(pdf)} ({dt:.2f}s)", file=sys.stderr)
            elif not ref.equals(pdf):
                failures += 1
                print(
                    f"FAIL {name} call{call}: rows {len(ref)} -> {len(pdf)}",
                    file=sys.stderr,
                )
                merged = ref.merge(pdf, how="outer", indicator=True)
                print(
                    merged[merged["_merge"] != "both"].head(10).to_string(),
                    file=sys.stderr,
                )
                break
            else:
                print(f"# {name} call{call} identical ({dt:.2f}s)", file=sys.stderr)
    print(f"{'OK' if failures == 0 else 'FAILED'}: {len(names) - failures}/{len(names)} gates tick-invariant")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
