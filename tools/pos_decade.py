"""POS pipeline END-TO-END decade (VERDICT r10 #4).

Every prior SCALE.md decade exercises one operator; this harness replays
the FLAGSHIP PIPELINE itself at decade scale — >=20M change events and
1M snapshot rows through bronze (JSON text feed) -> silver (parse +
watermarked stateful dedup, day-partitioned) -> CDC apply_changes ->
gold recompute, in DELTA storage mode at local[32] — and measures:

- per-stage wall time + rows written (from the pipeline's own event log)
- the day-pruning win of the r10 gold recompute: the same
  GOLD_INVENTORY_SQL timed over the pruned change scan (date_day >= min
  snapshot day) vs the unpruned full-history scan
- driver RSS before/after (the whole flow must stay executor-shaped)

Fixture shape (Spark-generated, distributed — the unit-test PosFixtures
generator is driver-side Python and would take hours at 20M):
- 100 stores x 10,000 items = 1M (store, item) keys
- 20M change events, one item line each, hash-spread over 30 days,
  unique trans_ids (plus 1% EXACT duplicate resends to exercise the
  dedup), written as 64 JSON-lines text files (the Kafka double)
- 1M snapshot rows (one per key) all stamped day 24 of 30, so the gold
  day-pruning drops ~80% of change-day directories

Usage: python tools/pos_decade.py [n_events_millions]   (default 20)
Prints a markdown section for SCALE.md.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_STORES = 100
N_ITEMS = 10_000
DAYS = 30
SNAP_DAY = 24  # snapshots land on day 24 -> pruning keeps days 24..29
START_EPOCH = 1_609_488_000  # 2021-01-01 08:00:00 UTC


def rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def build_fixture(spark, input_root: str, n_events: int, timings: dict) -> int:
    """Distributed decade fixture: dims + JSON event text feed + snapshot
    CSVs under input_root. Returns the key count."""
    import time

    from pyspark.sql import functions as F

    from pos_dlt_spark.schemas import TIMESTAMP_FORMAT

    # ---------------- fixture (distributed) -------------------------
    t0 = time.time()
    dims = os.path.join(input_root, "dims")
    os.makedirs(dims)
    with open(os.path.join(dims, "store.csv"), "w") as fh:
        fh.write("store_id,name\n")
        for s in range(1, N_STORES + 1):
            fh.write(f"{s},{'online' if s == N_STORES else f'store{s:03d}'}\n")
    with open(os.path.join(dims, "item.csv"), "w") as fh:
        fh.write("item_id,name,supplier_id,safety_stock_quantity\n")
        for i in range(1, N_ITEMS + 1):
            fh.write(f"{i},item{i:05d},{i % 7 + 1},{i % 40 + 5}\n")
    with open(os.path.join(dims, "inventory_change_type.csv"), "w") as fh:
        fh.write(
            "change_type_id,change_type\n1,sale\n2,restock\n3,shrinkage\n4,bopis\n"
        )

    # events: hash-spread over DAYS, ~1% exact duplicate resends
    base = spark.range(n_events).select(
        F.format_string("{%016x}", F.col("id")).alias("trans_id"),
        (F.pmod(F.hash("id"), F.lit(N_STORES)) + 1).cast("int").alias("store_id"),
        F.timestamp_seconds(
            F.lit(START_EPOCH)
            + F.pmod(F.hash(F.col("id") + 1), F.lit(DAYS * 86400))
        ).alias("ts"),
        (F.pmod(F.hash(F.col("id") + 2), F.lit(4)) + 1)
        .cast("int")
        .alias("change_type_id"),
        (F.pmod(F.hash(F.col("id") + 3), F.lit(N_ITEMS)) + 1)
        .cast("int")
        .alias("item_id"),
        (F.pmod(F.hash(F.col("id") + 4), F.lit(9)) - 4).cast("int").alias("qty"),
    )
    payload = base.select(
        F.to_json(
            F.struct(
                "trans_id",
                "store_id",
                F.date_format("ts", TIMESTAMP_FORMAT).alias("date_time"),
                "change_type_id",
                F.array(
                    F.struct(
                        F.col("item_id"), F.col("qty").alias("quantity")
                    )
                ).alias("items"),
            )
        ).alias("value")
    )
    dupes = payload.sample(0.01, seed=7)  # exact resends: dedup fodder
    payload.unionAll(dupes).repartition(64).write.text(
        os.path.join(input_root, "events")
    )

    # snapshots: one row per (store, item) key, all on SNAP_DAY
    n_keys = N_STORES * N_ITEMS
    snap = spark.range(n_keys).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") % N_ITEMS + 1).cast("int").alias("item_id"),
        F.lit(1).cast("int").alias("employee_id"),
        (F.col("id") / N_ITEMS + 1).cast("int").alias("store_id"),
        F.timestamp_seconds(
            F.lit(START_EPOCH + SNAP_DAY * 86400)
        ).alias("date_time"),
        (F.pmod(F.col("id"), F.lit(500))).cast("int").alias("quantity"),
    )
    (
        snap.repartition(16)
        .write.option("header", "true")
        .option("timestampFormat", TIMESTAMP_FORMAT)
        .csv(os.path.join(input_root, "snapshots"))
    )
    timings["fixture_build"] = time.time() - t0

    return n_keys


def main() -> None:
    n_events = int(float(sys.argv[1]) * 1e6) if len(sys.argv) > 1 else 20_000_000
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from pos_dlt_spark.pipeline import PipelineRunner
    from pos_dlt_spark.pos_pipeline import GOLD_INVENTORY_SQL, build_pos_pipeline
    from pos_dlt_spark.schemas import TIMESTAMP_FORMAT

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .appName("pos_decade")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="pos_decade_", dir="/tmp")
    input_root = os.path.join(root, "input")
    storage = os.path.join(root, "storage")
    timings: dict[str, float] = {}
    try:
        n_keys = build_fixture(spark, input_root, n_events, timings)
        rss_before = rss_mb()

        # ---------------- pipeline run (delta mode) ---------------------
        pipe = build_pos_pipeline(storage, input_root, storage_format="delta")
        runner = PipelineRunner(pipe)
        for name in pipe.topo_order():
            t0 = time.time()
            runner.run_table(spark, name)
            timings[f"stage:{name}"] = time.time() - t0

        from pos_dlt_spark.sources.delta import delta_snapshot

        silver = delta_snapshot(spark, pipe.table_path("inventory_change"))
        silver_dirs = {os.path.dirname(rel) for rel, _ in silver.files}

        # rows per stage from the pipeline's own event log (r11 surface)
        ev = pipe.event_log(spark)
        rows_by_table = {
            r["table_name"]: json.loads(r["details"])
            for r in ev.filter(F.col("event_type") == "flow_complete").collect()
        }

        # ---------------- day-pruning A/B on the gold scan --------------
        for name in (
            "latest_inventory_snapshot", "inventory_change", "store",
            "inventory_change_type",
        ):
            pipe.read(spark, name).createOrReplaceTempView(name)
        min_day = spark.sql(
            "SELECT CAST(MIN(date_time) AS DATE) AS d FROM latest_inventory_snapshot"
        ).collect()[0]["d"]

        sc = spark.sparkContext
        st = sc.statusTracker()

        def run_gold(pruned: bool) -> float:
            """Times one gold tick; also counts distributed LISTING
            stages ('parquet at ...' — the per-path stat job the
            r12 log-backed pruned read eliminates; SCALE.md r11/r12)."""
            import uuid as _uuid

            chg = pipe.read(spark, "inventory_change")
            if pruned:
                chg = chg.filter(F.col("date_day") >= F.lit(min_day))
            chg.createOrReplaceTempView("inventory_change")
            t0 = time.time()
            g = str(_uuid.uuid4())
            sc.setJobGroup(g, "gold-tick")
            try:
                spark.sql(GOLD_INVENTORY_SQL).write.format("noop").mode(
                    "overwrite"
                ).save()
            finally:
                sc.setJobGroup(None, None)
            wall = time.time() - t0
            nlist = 0
            for j in st.getJobIdsForGroup(g) or []:
                for sid in st.getJobInfo(j).stageIds:
                    si = st.getStageInfo(sid)
                    if si and si.name.startswith("parquet at"):
                        nlist += 1
            timings.setdefault("gold_listing_stages", []).append(nlist)
            return wall

        # unpruned first so the page cache, if anything, favors it
        timings["gold_unpruned"] = run_gold(pruned=False)
        timings["gold_pruned"] = run_gold(pruned=True)
        timings["gold_pruned_2nd"] = run_gold(pruned=True)

        silver_rows = rows_by_table.get("inventory_change", {}).get("rows_written")
        gold = pipe.read(spark, "inventory_current")
        n_gold = gold.count()
        rss_after = rss_mb()

        # ---------------- report ---------------------------------------
        print("\n## Round 11: POS pipeline end-to-end decade "
              f"({n_events/1e6:g}M events + {n_keys/1e6:g}M snapshot keys, delta mode)\n")
        print(f"- fixture: {N_STORES} stores x {N_ITEMS} items, {DAYS} day span, "
              f"snapshots on day {SNAP_DAY}; 64 JSON text files + 16 snapshot CSVs")
        print(f"- fixture build (distributed): {timings['fixture_build']:.1f} s\n")
        print("| stage | wall s | rows |")
        print("|---|---|---|")
        for name in pipe.topo_order():
            d = rows_by_table.get(name, {})
            rows = d.get("rows_written", d.get("num_upserted_rows", ""))
            print(f"| {name} | {timings['stage:' + name]:.1f} | {rows} |")
        print(f"| gold rows | | {n_gold} |")
        print(f"\n- silver rows written: {silver_rows}; CDC counts: "
              f"{rows_by_table.get('latest_inventory_snapshot')}")
        print(f"- silver layout: partitioned by {silver.partition_columns}, "
              f"{len(silver.files)} files in {len(silver_dirs)} directories")
        print(f"- gold recompute, UNPRUNED change scan: {timings['gold_unpruned']:.1f} s")
        print(f"- gold recompute, day-PRUNED scan (>= {min_day}): "
              f"{timings['gold_pruned']:.1f} s (2nd: {timings['gold_pruned_2nd']:.1f} s) — "
              f"{timings['gold_unpruned'] / max(timings['gold_pruned_2nd'], 1e-9):.1f}x")
        print(f"- listing stat stages per gold tick (unpruned/pruned/pruned): "
              f"{timings.get('gold_listing_stages')} — the r12 log-backed "
              f"pruned read targets 0 (was one 64-task stat job per Delta scan)")
        print(f"- driver maxrss: {rss_before:.0f} MB before pipeline, "
              f"{rss_after:.0f} MB after (delta = {rss_after - rss_before:.0f} MB)")
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
