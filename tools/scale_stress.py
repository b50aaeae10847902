"""10x scale stress for the flagship scale operators (VERDICT r02 #3).

The 100 TB arguments (bucketed LSH, two-phase ranks, bucketed CDC,
log-round connected components, IVF-PQ one-scan composition) are
plan-verified at sf0.1; this harness EXECUTES them at ~10x that data to
catch skew and memory cliffs that small-SF constants hide.

What it does:
1. Materializes a 10x corpus under /tmp from /root/testdata/sf0.1 —
   documents replicated with per-replica token mutation (replicas are
   fully DISTINCT docs, so near-dup structure scales linearly instead of
   exploding combinatorially), embeddings replicated with deterministic
   direction-preserving scaling, events replicated with remapped ids and
   users. Unscaled tables are symlinked.
2. Runs each flagship query at 1x (sf0.1) and 10x in ONE session with the
   Spark UI's REST API enabled, recording wall time, total + max-stage
   shuffle-write bytes (diffed per query), and JVM driver RSS.
3. Prints a markdown table for SCALE.md.

Usage: python tools/scale_stress.py [factor]   (default 10)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FLAGSHIPS = [
    "dedup_minhash_lsh_pairs",
    "dedup_duplicate_clusters",
    "dedup_semantic_clusters",
    "corpus_vocab",
    "corpus_pack_sequences",
    "corpus_bpe_learn_merges",
    "corpus_curation_pipeline",
    "streaming_cdc_bucketed_state",
    "ann_ivfpq_topk",
]

# Override for runs where a gate-pinned config is known to be the
# documented quadratic (e.g. SemDeDup's fixed k=8 at 100x — its scaled
# configuration is measured separately): comma-separated query names.
if os.environ.get("SPARK_GRAFT_STRESS_QUERIES"):
    FLAGSHIPS = os.environ["SPARK_GRAFT_STRESS_QUERIES"].split(",")

SRC = "/root/testdata/sf0.1"


def build_session():
    """get_spark configs + UI on (REST metrics) — own app name so a fresh
    process gets a fresh appStatusStore."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import SparkSession

    from pos_dlt_spark.session import default_parallelism

    cpus = default_parallelism()
    return (
        SparkSession.builder.appName("scale_stress")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4055")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )


def build_10x(spark, dst: str, factor: int) -> None:
    from pyspark.sql import functions as F

    from pos_dlt_spark.tables import load_table

    os.makedirs(dst, exist_ok=True)
    # ---- documents: replicas are DISTINCT docs (every token mutated per
    # replica) so dedup finds the same per-replica duplicate structure
    # factor times over — linear scaling, the honest workload shape.
    docs = load_table(spark, SRC, "documents")
    max_id = docs.agg(F.max("doc_id")).first()[0] + 1
    reps = []
    for i in range(factor):
        r = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * max_id))
        if i > 0:
            r = r.withColumn(
                "text", F.regexp_replace(F.col("text"), r"(\S+)", f"$1{i}")
            )
        reps.append(r)
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.repartition(32).write.mode("overwrite").parquet(os.path.join(dst, "documents.parquet"))

    # ---- embeddings: id-remapped replicas, deterministic scalar jitter
    # (direction-preserving: routing/recall behavior stays comparable,
    # candidate volume scales linearly)
    emb = load_table(spark, SRC, "embeddings")
    vmax = emb.agg(F.max("vec_id")).first()[0] + 1
    ereps = []
    for i in range(factor):
        r = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * vmax))
        if i > 0:
            r = r.withColumn(
                "embedding",
                F.transform("embedding", lambda x: (x * (1.0 + i * 0.003)).cast("float")),
            )
        ereps.append(r)
    eout = ereps[0]
    for r in ereps[1:]:
        eout = eout.unionByName(r)
    eout.repartition(32).write.mode("overwrite").parquet(os.path.join(dst, "embeddings.parquet"))

    # ---- events: remap ids AND users/sessions so key cardinality (CDC
    # state size, session count) scales with the data, not just row count
    ev = spark.read.parquet(os.path.join(SRC, "events.parquet"))
    emax = ev.agg(F.max("event_id")).first()[0] + 1
    umax = ev.agg(F.max("user_id")).first()[0] + 1
    vreps = []
    for i in range(factor):
        r = (
            ev.withColumn("event_id", F.col("event_id") + F.lit(i * emax))
            .withColumn("user_id", F.col("user_id") + F.lit(i * umax))
        )
        vreps.append(r)
    vout = vreps[0]
    for r in vreps[1:]:
        vout = vout.unionByName(r)
    vout.repartition(32).write.mode("overwrite").parquet(os.path.join(dst, "events.parquet"))

    # everything else: symlink (unscaled dims etc.)
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        link = os.path.join(dst, f"{t}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(SRC, f"{t}.parquet"), link)


# ---- metrics ---------------------------------------------------------------


def rest(path: str):
    with urllib.request.urlopen(f"http://localhost:4055/api/v1/{path}", timeout=10) as r:
        return json.loads(r.read())


def app_id() -> str:
    return rest("applications")[0]["id"]


def stage_snapshot(app: str) -> dict[tuple[int, int], int]:
    """{(stageId, attempt): shuffleWriteBytes} for completed stages."""
    stages = rest(f"applications/{app}/stages?status=complete")
    return {
        (s["stageId"], s.get("attemptId", 0)): s.get("shuffleWriteBytes", 0)
        for s in stages
    }


def jvm_rss_mb() -> int:
    """RSS of the py4j-launched JVM driver (the process that would OOM if
    an operator collected unbounded state)."""
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().split()
            if int(parts[3]) != me:  # ppid
                continue
            with open(f"/proc/{pid}/cmdline") as f:
                if "java" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1]) // 1024
        except (OSError, ValueError, IndexError):
            continue
    return -1


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    dst = f"/tmp/scale_{factor}x"
    spark = build_session()

    import pos_dlt_spark.queries as Q

    Q.load_registry()

    if not os.path.exists(os.path.join(dst, "documents.parquet")):
        t0 = time.perf_counter()
        build_10x(spark, dst, factor)
        print(f"# built {factor}x corpus in {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    app = app_id()
    results = []
    for name in FLAGSHIPS:
        # warm codegen/readers for this query shape so the 1x number isn't
        # first-run-inflated (the bench harness warms the same way)
        Q.REGISTRY[name].fn(spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()
        row = {"query": name}
        for label, sf_dir in (("1x", SRC), (f"{factor}x", dst)):
            # two runs: first pays page-cache + JIT-at-volume costs, the
            # second is the steady state a pipeline actually sees. Both are
            # recorded — the cold/warm gap is itself a finding.
            walls = []
            for _ in range(2):
                before = stage_snapshot(app)
                t0 = time.perf_counter()
                df = Q.REGISTRY[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
                after = stage_snapshot(app)
            new = {k: v for k, v in after.items() if k not in before}
            tot = sum(new.values())
            mx = max(new.values(), default=0)
            row[label] = {
                "cold_sec": round(walls[0], 2),
                "sec": round(walls[1], 2),
                "shuffle_mb": round(tot / 1e6, 1),
                "max_stage_shuffle_mb": round(mx / 1e6, 1),
                "n_stages": len(new),
                "jvm_rss_mb": jvm_rss_mb(),
            }
            print(
                f"# {name} @{label}: {walls[1]:.1f}s (cold {walls[0]:.1f}s) "
                f"shuffle={tot / 1e6:.0f}MB max_stage={mx / 1e6:.0f}MB "
                f"stages={len(new)} rss={row[label]['jvm_rss_mb']}MB",
                file=sys.stderr,
                flush=True,
            )
        results.append(row)

    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
