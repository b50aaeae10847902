"""End-to-end POS pipeline test: generated fixtures -> bronze -> silver ->
CDC -> gold, asserted against an independent DuckDB oracle computed from
the generator's flat truth rows (SURVEY §5 correctness cases)."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pos_dlt_spark.pipeline import PipelineRunner
from pos_dlt_spark.pos_pipeline import build_pos_pipeline

ORACLE_SQL = """
WITH snap_latest AS (
    SELECT store_id, item_id, quantity, date_time FROM (
        SELECT *, row_number() OVER (
            PARTITION BY store_id, item_id ORDER BY date_time DESC) AS rn
        FROM snapshots) t
    WHERE rn = 1
),
chg AS (
    SELECT x.store_id, x.item_id, x.quantity, x.date_time
    FROM changes x
    JOIN store y ON x.store_id = y.store_id
    JOIN change_type z ON x.change_type_id = z.change_type_id
    WHERE NOT (y.name = 'online' AND z.change_type = 'bopis')
)
SELECT a.store_id, a.item_id,
       MAX(a.quantity) AS snapshot_quantity,
       CAST(COALESCE(SUM(b.quantity), 0) AS BIGINT) AS change_quantity,
       CAST(MAX(a.quantity) + COALESCE(SUM(b.quantity), 0) AS BIGINT) AS current_inventory,
       GREATEST(MAX(a.date_time), COALESCE(MAX(b.date_time), MAX(a.date_time))) AS date_time
FROM snap_latest a
LEFT OUTER JOIN chg b
  ON a.store_id = b.store_id AND a.item_id = b.item_id AND a.date_time <= b.date_time
GROUP BY a.store_id, a.item_id
"""


@pytest.fixture(scope="module", params=["parquet", "delta", "sql", "incremental"])
def pipeline_result(request, spark, pos_fixtures, tmp_path_factory):
    """The full e2e pipeline in BOTH storage modes — plain parquet dirs
    and real protocol Delta tables (atomic overwrite commits,
    SetTransaction exactly-once streams, MERGE-maintained CDC target) —
    plus the SQL-AUTHORED gold variant (the reference's own DLT-SQL
    text, `04_Silver-to-Gold ETL.sql:68-103`, through Pipeline.sql_table)
    AND the INCREMENTAL gold variant (store-bucketed CDC +
    IncrementalJoinedView maintaining gold O(delta) instead of the
    5-minute full recompute). Every downstream oracle assertion runs
    against all four."""
    storage = tmp_path_factory.mktemp(f"pos_storage_{request.param}")
    pipe = build_pos_pipeline(
        str(storage),
        pos_fixtures.root,
        storage_format="delta" if request.param == "delta" else "parquet",
        gold_authoring=request.param if request.param in ("sql", "incremental") else "python",
    )
    runner = PipelineRunner(pipe)
    order = runner.run_once(spark)
    return pipe, order


def _read(spark, pipe, name):
    return pipe.read(spark, name)


def oracle_gold(pos_fixtures) -> pd.DataFrame:
    con = duckdb.connect()
    changes = pd.DataFrame(
        pos_fixtures.change_rows,
        columns=["trans_id", "item_id", "store_id", "date_time", "quantity", "change_type_id"],
    )
    changes["date_time"] = pd.to_datetime(changes["date_time"])
    snapshots = pd.DataFrame(
        pos_fixtures.snapshot_rows,
        columns=["item_id", "employee_id", "store_id", "date_time", "quantity"],
    )
    snapshots["date_time"] = pd.to_datetime(snapshots["date_time"])
    from pos_dlt_spark.generator import CHANGE_TYPES, STORES

    store = pd.DataFrame(STORES, columns=["store_id", "name"])
    change_type = pd.DataFrame(CHANGE_TYPES, columns=["change_type_id", "change_type"])
    con.register("changes", changes)
    con.register("snapshots", snapshots)
    con.register("store", store)
    con.register("change_type", change_type)
    return con.execute(ORACLE_SQL).fetchdf()


def test_run_order_is_topological(pipeline_result):
    _, order = pipeline_result
    assert order.index("raw_inventory_change") < order.index("inventory_change")
    assert order.index("inventory_snapshot") < order.index("latest_inventory_snapshot")
    assert order.index("latest_inventory_snapshot") < order.index("inventory_current")


def test_latest_snapshot_one_row_per_key_out_of_order_ignored(spark, pipeline_result, pos_fixtures):
    pipe, _ = pipeline_result
    df = _read(spark, pipe, "latest_inventory_snapshot")
    rows = df.collect()
    keys = [(r.store_id, r.item_id) for r in rows]
    assert len(keys) == len(set(keys)), "CDC target must hold one row per key"
    # the generator's out-of-order older snapshot (quantity=999) must lose
    assert all(r.quantity != 999 for r in rows)


def test_silver_dedup_collapsed_resends(spark, pipeline_result, pos_fixtures):
    pipe, _ = pipeline_result
    df = _read(spark, pipe, "inventory_change")
    pairs = [(r.trans_id, r.item_id) for r in df.collect() if r.item_id is not None]
    assert len(pairs) == len(set(pairs)), "duplicate (trans_id, item_id) survived dedup"


def test_header_only_events_retained(spark, pipeline_result):
    pipe, _ = pipeline_result
    df = _read(spark, pipe, "inventory_change")
    hdr = df.filter("item_id IS NULL").collect()
    assert len(hdr) > 0, "explode_outer must keep events with null items"


def test_gold_matches_duckdb_oracle(spark, pipeline_result, pos_fixtures):
    pipe, _ = pipeline_result
    gold = _read(spark, pipe, "inventory_current").toPandas()
    expected = oracle_gold(pos_fixtures)
    g = gold.sort_values(["store_id", "item_id"], ignore_index=True)
    e = expected.sort_values(["store_id", "item_id"], ignore_index=True)
    pd.testing.assert_frame_equal(
        g[sorted(g.columns)], e[sorted(e.columns)], check_dtype=False
    )


def test_gold_outer_join_retention(spark, pipeline_result):
    """Snapshot keys with zero post-snapshot changes keep change_quantity=0
    (reference 04:59,80)."""
    pipe, _ = pipeline_result
    gold = _read(spark, pipe, "inventory_current")
    zero = gold.filter("change_quantity = 0").count()
    assert gold.count() > 0
    # current_inventory equals snapshot for untouched keys
    assert gold.filter("change_quantity = 0 AND current_inventory != snapshot_quantity").count() == 0
    assert zero >= 0


def test_second_run_is_stable(spark, pipeline_result, pos_fixtures):
    """Re-running the whole pipeline with no new input changes nothing
    (streams have checkpoints; CDC re-merge is idempotent; live tables
    recompute to the same result)."""
    pipe, _ = pipeline_result
    before = _read(spark, pipe, "inventory_current").toPandas()
    PipelineRunner(pipe).run_once(spark)
    after = _read(spark, pipe, "inventory_current").toPandas()
    key = ["store_id", "item_id"]
    pd.testing.assert_frame_equal(
        before.sort_values(key, ignore_index=True)[sorted(before.columns)],
        after.sort_values(key, ignore_index=True)[sorted(after.columns)],
        check_dtype=False,
    )


def test_delta_mode_cdc_flow_apply_as_deletes_e2e(spark, tmp_path):
    """End-to-end delta-mode pipeline: a stream source feeding a plain
    CDC flow with apply_as_deletes — the MERGE backend seeds from the
    first run, tombstones in later batches remove their keys via
    whenMatchedDelete, and the op marker never reaches the Delta table."""
    import pandas as pd

    from pos_dlt_spark.pipeline import Pipeline, PipelineRunner
    from pos_dlt_spark.sources.delta import read_delta

    src = str(tmp_path / "src")
    b0 = pd.DataFrame(
        {"k": [1, 2, 3], "seq": [1, 1, 1], "v": ["a", "b", "c"],
         "op": ["UPSERT"] * 3}
    )
    spark.createDataFrame(b0).coalesce(1).write.mode("append").parquet(src)

    pipe = Pipeline("t", str(tmp_path / "p"), storage_format="delta")

    @pipe.table(kind="stream")
    def feed(s):
        schema = s.read.parquet(src).schema
        return s.readStream.schema(schema).parquet(src)

    pipe.apply_changes(
        target="latest", source="feed", keys=["k"], sequence_by="seq",
        apply_as_deletes="op = 'DELETE'", except_column_list=["op"],
    )
    runner = PipelineRunner(pipe)
    runner.run_once(spark)
    path = pipe.table_path("latest")
    got = {r.k: r.v for r in read_delta(spark, path).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    assert "op" not in read_delta(spark, path).columns

    # batch 2: delete k=2 (newer), stale delete k=3 (older), upsert k=9
    b1 = pd.DataFrame(
        {"k": [2, 3, 9], "seq": [5, 0, 5], "v": [None, None, "z"],
         "op": ["DELETE", "DELETE", "UPSERT"]}
    )
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(src)
    PipelineRunner(pipe).run_once(spark)
    got = {r.k: r.v for r in read_delta(spark, path).collect()}
    assert got == {1: "a", 3: "c", 9: "z"}  # k=2 removed, stale delete lost


def test_delta_mode_cdc_target_change_feed_consumption(spark, tmp_path):
    """The supported downstream path for merge-rewritten CDC targets:
    the target is born with CDF on, table_changes serves precise change
    rows per commit, and replay_changes yields the micro-batch plan a
    downstream apply_changes would fold — exactly what read_stream's
    refusal points at."""
    import pandas as pd

    from pos_dlt_spark.pipeline import Pipeline, PipelineRunner
    from pos_dlt_spark.sources.delta import delta_snapshot

    src = str(tmp_path / "src")
    b0 = pd.DataFrame({"k": [1, 2], "seq": [1, 1], "v": ["a", "b"]})
    spark.createDataFrame(b0).coalesce(1).write.mode("append").parquet(src)

    pipe = Pipeline("t", str(tmp_path / "p"), storage_format="delta")

    @pipe.table(kind="stream")
    def feed(s):
        schema = s.read.parquet(src).schema
        return s.readStream.schema(schema).parquet(src)

    pipe.apply_changes(target="latest", source="feed", keys=["k"],
                       sequence_by="seq")
    PipelineRunner(pipe).run_once(spark)
    path = pipe.table_path("latest")
    conf = delta_snapshot(spark, path).configuration
    assert conf.get("delta.enableChangeDataFeed") == "true"

    b1 = pd.DataFrame({"k": [2, 9], "seq": [5, 5], "v": ["b2", "z"]})
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(src)
    PipelineRunner(pipe).run_once(spark)

    ch = pipe.table_changes(spark, "latest", start_version=1)
    rows = {(r.k, r._change_type): r.v for r in ch.collect()}
    assert rows == {
        (2, "update_preimage"): "b",
        (2, "update_postimage"): "b2",
        (9, "insert"): "z",
    }
    plan = pipe.replay_changes(spark, "latest")
    assert [v for v, _ in plan] == [0, 1]
    first = {(r.k, r._change_type) for r in plan[0][1].collect()}
    assert first == {(1, "insert"), (2, "insert")}
    # parquet mode refuses loudly
    import pytest as _pytest

    plain = Pipeline("t2", str(tmp_path / "p2"))
    with _pytest.raises(ValueError, match="delta"):
        plain.table_changes(spark, "x")


def _plan_nodes(plan):
    """Every node of an executed plan, through AQE's stage wrappers."""
    out, todo = [], [plan]
    while todo:
        n = todo.pop()
        out.append(n)
        kind = n.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(n.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(n.plan())
        ch = n.children()
        todo += [ch.apply(i) for i in range(ch.size())]
    return out


def test_inventory_change_day_partitioned_and_pruned(spark, pipeline_result, request):
    """The silver change table is partitioned by day alone — date_day=
    directories at the table root — except under the incremental gold,
    whose joined view keys staleness on store directories
    (store_id=/date_day=). The python gold's own plan carries the
    oldest-snapshot-day bound as a scalar subquery in the silver scan's
    PartitionFilters, has no global range sort, and at run time does not
    read a planted silver day older than the oldest snapshot day."""
    import os

    from pos_dlt_spark.sources.delta import delta_snapshot
    from pos_dlt_spark.sources.delta_writer import delta_delete, write_delta

    pipe, _ = pipeline_result
    mode = request.node.callspec.params["pipeline_result"]
    root = pipe.table_path("inventory_change")
    top = [d for d in os.listdir(root) if not d.startswith(("_", "."))]
    if mode == "incremental":
        assert top and all(d.startswith("store_id=") for d in top), top
        inner = os.listdir(os.path.join(root, top[0]))
        assert any(d.startswith("date_day=") for d in inner), inner
        return
    assert top and all(d.startswith("date_day=") for d in top), top
    if mode == "sql":  # the reference's gold text runs verbatim
        return

    gold = pipe.tables["inventory_current"].fn(spark)
    plan = gold._jdf.queryExecution().executedPlan().toString()
    pf = [
        seg.split(", PushedFilters", 1)[0]
        for seg in plan.split("PartitionFilters: [")[1:]
        if "date_day" in seg.split(", PushedFilters", 1)[0]
    ]
    assert len(pf) == 1 and "date_day" in pf[0] and "Subquery" in pf[0], plan[:3000]
    assert "rangepartitioning" not in plan, plan[:3000]

    if mode != "delta":
        return
    # plant one silver row on a day long before any snapshot; the gold's
    # scan must skip its file at run time (a parquet stream table lists
    # files through its sink log, so only Delta can be planted)
    row = pipe.read(spark, "inventory_change").limit(1).withColumn(
        "date_day", F.lit("2000-01-01").cast("date")
    )
    v0 = delta_snapshot(spark, root).version
    write_delta(row, root, mode="append", partition_by=["date_day"])
    try:
        gold = pipe.tables["inventory_current"].fn(spark)
        gold.collect()
        scans = [
            n for n in _plan_nodes(gold._jdf.queryExecution().executedPlan())
            if n.metrics().contains("staticFilesNum")
        ]
        assert len(scans) == 1, [n.nodeName() for n in scans]
        m = {k: scans[0].metrics().apply(k).value() for k in ("numFiles", "staticFilesNum")}
        assert 0 < m["numFiles"] < m["staticFilesNum"], m
    finally:
        delta_delete(spark, root, "date_day = DATE'2000-01-01'")
        assert delta_snapshot(spark, root).version == v0 + 2


def test_gold_day_pruning_preserves_oracle(spark, pipeline_result, pos_fixtures):
    """The pruned gold recompute is semantics-identical: re-derive gold
    through run_table (which applies the min-day source filter) and it
    still matches the independent DuckDB oracle."""
    pipe, _ = pipeline_result
    runner = PipelineRunner(pipe)
    runner.run_table(spark, "inventory_current")
    gold = _read(spark, pipe, "inventory_current").toPandas()
    expected = oracle_gold(pos_fixtures)
    g = gold.sort_values(["store_id", "item_id"], ignore_index=True)
    e = expected.sort_values(["store_id", "item_id"], ignore_index=True)
    pd.testing.assert_frame_equal(
        g[sorted(g.columns)], e[sorted(e.columns)], check_dtype=False
    )
