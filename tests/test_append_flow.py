"""DLT multi-flow targets (VERDICT r11 #2): ``create_streaming_table`` +
``@append_flow`` — several streaming flows appending into ONE target
table under independent checkpoints — plus ``create_sink`` external
egress and ``once=True`` backfill flows."""

import json
import os

import pytest
from pyspark.sql import functions as F

from pos_dlt_spark.pipeline import (
    ExpectationDef,
    ExpectationFailed,
    Pipeline,
    PipelineRunner,
)


def _land(d, name, rows):
    with open(os.path.join(d, name), "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in rows))


def _mk(tmp_path, storage_format="parquet", with_c=False, once_flow=False):
    a_dir, b_dir = str(tmp_path / "in_a"), str(tmp_path / "in_b")
    os.makedirs(a_dir, exist_ok=True)
    os.makedirs(b_dir, exist_ok=True)
    pipe = Pipeline("mf", str(tmp_path / "storage"), storage_format=storage_format)
    pipe.create_streaming_table("bronze")

    @pipe.append_flow(target="bronze", name="region_a")
    def region_a(spark_):
        return spark_.readStream.schema("k BIGINT, v STRING").json(a_dir)

    @pipe.append_flow(target="bronze", name="region_b")
    def region_b(spark_):
        return spark_.readStream.schema("k BIGINT, v STRING").json(b_dir)

    if with_c:
        c_dir = str(tmp_path / "in_c")
        os.makedirs(c_dir, exist_ok=True)

        @pipe.append_flow(target="bronze", name="region_c")
        def region_c(spark_):
            return spark_.readStream.schema("k BIGINT, v STRING").json(c_dir)

    if once_flow:
        bf_dir = str(tmp_path / "in_backfill")
        os.makedirs(bf_dir, exist_ok=True)

        @pipe.append_flow(target="bronze", name="backfill", once=True)
        def backfill(spark_):
            return spark_.readStream.schema("k BIGINT, v STRING").json(bf_dir)

    return pipe, a_dir, b_dir


@pytest.mark.parametrize("fmt", ["parquet", "delta"])
def test_two_flows_union_one_target(spark, tmp_path, fmt):
    pipe, a_dir, b_dir = _mk(tmp_path, storage_format=fmt)
    _land(a_dir, "a1.json", [{"k": 1, "v": "a"}, {"k": 2, "v": "a"}])
    _land(b_dir, "b1.json", [{"k": 10, "v": "b"}])
    runner = PipelineRunner(pipe)
    runner.run_once(spark)
    got = sorted((r["k"], r["v"]) for r in pipe.read(spark, "bronze").collect())
    assert got == [(1, "a"), (2, "a"), (10, "b")], got
    # per-flow independence: land for A only -> only A's rows arrive
    _land(a_dir, "a2.json", [{"k": 3, "v": "a"}])
    runner.run_once(spark)
    got = sorted((r["k"], r["v"]) for r in pipe.read(spark, "bronze").collect())
    assert got == [(1, "a"), (2, "a"), (3, "a"), (10, "b")], got
    # event log carries per-flow identities
    prog = [
        (r["table_name"], json.loads(r["details"]).get("flow"))
        for r in pipe.event_log(spark).collect()
        if r["event_type"] == "flow_progress" and r["table_name"] == "bronze"
    ]
    assert ("bronze", "region_a") in prog and ("bronze", "region_b") in prog


def test_flow_add_and_remove_across_restarts(spark, tmp_path):
    pipe, a_dir, b_dir = _mk(tmp_path)
    _land(a_dir, "a1.json", [{"k": 1, "v": "a"}])
    _land(b_dir, "b1.json", [{"k": 2, "v": "b"}])
    PipelineRunner(pipe).run_once(spark)
    # restart with an ADDED flow C: it ingests from scratch, A/B resume
    # their checkpoints (no duplicates)
    pipe2, a2, b2 = _mk(tmp_path, with_c=True)
    _land(str(tmp_path / "in_c"), "c1.json", [{"k": 3, "v": "c"}])
    PipelineRunner(pipe2).run_once(spark)
    got = sorted((r["k"], r["v"]) for r in pipe2.read(spark, "bronze").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")], got
    # restart WITHOUT flow B: target keeps B's rows (DLT: removing a flow
    # does not delete its data), A continues alone
    pipe3 = Pipeline("mf", str(tmp_path / "storage"))
    pipe3.create_streaming_table("bronze")

    @pipe3.append_flow(target="bronze", name="region_a")
    def region_a(spark_):
        return spark_.readStream.schema("k BIGINT, v STRING").json(a_dir)

    _land(a_dir, "a2.json", [{"k": 4, "v": "a"}])
    PipelineRunner(pipe3).run_once(spark)
    got = sorted((r["k"], r["v"]) for r in pipe3.read(spark, "bronze").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "a")], got


def test_once_flow_is_single_shot(spark, tmp_path):
    pipe, a_dir, _ = _mk(tmp_path, once_flow=True)
    bf = str(tmp_path / "in_backfill")
    _land(a_dir, "a1.json", [{"k": 1, "v": "a"}])
    _land(bf, "h1.json", [{"k": 100, "v": "hist"}])
    runner = PipelineRunner(pipe)
    runner.run_once(spark)
    n1 = pipe.read(spark, "bronze").count()
    assert n1 == 2
    # more backfill data lands, but the once-flow is skipped forever
    _land(bf, "h2.json", [{"k": 101, "v": "hist"}])
    runner.run_once(spark)
    got = sorted(r["k"] for r in pipe.read(spark, "bronze").collect())
    assert got == [1, 100], got
    skipped = [
        r for r in pipe.event_log(spark).collect()
        if r["event_type"] == "flow_skipped"
    ]
    assert skipped and json.loads(skipped[0]["details"])["flow"] == "backfill"


def test_downstream_reads_multi_flow_target(spark, tmp_path):
    """A live table consuming the multi-flow bronze sees the union, and
    the DAG orders bronze before it."""
    pipe, a_dir, b_dir = _mk(tmp_path)
    _land(a_dir, "a1.json", [{"k": 1, "v": "a"}])
    _land(b_dir, "b1.json", [{"k": 5, "v": "b"}])

    @pipe.table(kind="live", deps=["bronze"])
    def silver(spark_):
        return pipe.read(spark_, "bronze").groupBy("v").agg(
            F.count(F.lit(1)).alias("n")
        )

    runner = PipelineRunner(pipe)
    order = runner.run_once(spark)
    assert order.index("bronze") < order.index("silver")
    got = sorted((r["v"], r["n"]) for r in pipe.read(spark, "silver").collect())
    assert got == [("a", 1), ("b", 1)], got


def test_sink_receives_flow_and_is_write_only(spark, tmp_path):
    pipe, a_dir, _ = _mk(tmp_path)
    out = str(tmp_path / "egress")
    pipe.create_sink("egress", "parquet", {"path": out})

    @pipe.append_flow(target="egress", name="export_a")
    def export_a(spark_):
        return spark_.readStream.schema("k BIGINT, v STRING").json(a_dir)

    _land(a_dir, "a1.json", [{"k": 1, "v": "a"}])
    PipelineRunner(pipe).run_once(spark)
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got == [1]
    # second update: nothing new -> sink unchanged (checkpointed)
    PipelineRunner(pipe).run_once(spark)
    assert spark.read.parquet(out).count() == 1


def test_declaration_validation(tmp_path):
    pipe = Pipeline("v", str(tmp_path / "s"))
    with pytest.raises(ValueError, match="neither"):
        @pipe.append_flow(target="nope")
        def f1(spark_):
            return None
    pipe.create_streaming_table("t")
    with pytest.raises(ValueError, match="already declared"):
        pipe.create_streaming_table("t")

    @pipe.append_flow(target="t", name="f")
    def f2(spark_):
        return None

    with pytest.raises(ValueError, match="already declared"):
        @pipe.append_flow(target="t", name="f")
        def f3(spark_):
            return None
    with pytest.raises(ValueError, match="format"):
        pipe.create_sink("s1", "kafka", {"path": "x"})
    with pytest.raises(ValueError, match="path"):
        pipe.create_sink("s2", "parquet", {})


def test_sql_create_flow_two_flows_one_target(spark, tmp_path):
    """DLT SQL append flows: CREATE FLOW f AS INSERT INTO t BY NAME
    SELECT ... — two SQL-declared flows append into one streaming table
    declared as an empty STREAMING LIVE TABLE; the union equals the
    single-source result, and BY NAME is mandatory."""
    import json as _json

    a_dir = str(tmp_path / "a")
    b_dir = str(tmp_path / "b")
    os.makedirs(a_dir)
    os.makedirs(b_dir)
    for d, rows in ((a_dir, [1, 2]), (b_dir, [30, 40])):
        with open(os.path.join(d, "f.json"), "w") as f:
            for k in rows:
                f.write(_json.dumps({"k": k}) + "\n")

    pipe = Pipeline("sqlflow", str(tmp_path / "storage"))

    @pipe.table(kind="stream")
    def src_a(spark_):
        return spark_.readStream.schema("k INT").json(a_dir)

    @pipe.table(kind="stream")
    def src_b(spark_):
        return spark_.readStream.schema("k INT").json(b_dir)

    created = pipe.sql_table(
        """
        CREATE OR REFRESH STREAMING LIVE TABLE merged
        COMMENT 'regional consolidation';

        CREATE FLOW from_a AS INSERT INTO LIVE.merged BY NAME
        SELECT k, k * 10 AS k10 FROM STREAM(LIVE.src_a);

        CREATE FLOW from_b AS INSERT INTO merged BY NAME
        SELECT k * 10 AS k10, k FROM STREAM(LIVE.src_b)
        """
    )
    assert created == ["merged", "from_a", "from_b"]
    assert "merged" in pipe.streaming_targets
    assert set(pipe.append_flows) == {"from_a", "from_b"}

    PipelineRunner(pipe).run_once(spark)
    got = sorted(
        (r["k"], r["k10"]) for r in pipe.read(spark, "merged").collect()
    )
    # different SELECT column orders align by name in the shared target
    assert got == [(1, 10), (2, 20), (30, 300), (40, 400)], got

    # BY NAME is mandatory
    with pytest.raises(ValueError, match="BY NAME"):
        pipe.sql_table(
            "CREATE FLOW bad AS INSERT INTO merged "
            "SELECT k, k AS k10 FROM STREAM(LIVE.src_a)"
        )
    # unknown target refuses
    with pytest.raises(ValueError, match="neither"):
        pipe.sql_table(
            "CREATE FLOW lost AS INSERT INTO nowhere BY NAME "
            "SELECT k, k AS k10 FROM STREAM(LIVE.src_a)"
        )


def _mk_expect(tmp_path, fmt, exps):
    a_dir, b_dir = str(tmp_path / "in_a"), str(tmp_path / "in_b")
    os.makedirs(a_dir, exist_ok=True)
    os.makedirs(b_dir, exist_ok=True)
    pipe = Pipeline("mfx", str(tmp_path / "storage"), storage_format=fmt)
    pipe.create_streaming_table("bronze", expectations=exps)

    @pipe.append_flow(target="bronze", name="region_a")
    def region_a(spark_):
        return spark_.readStream.schema("k BIGINT, v STRING").json(a_dir)

    @pipe.append_flow(target="bronze", name="region_b")
    def region_b(spark_):
        return spark_.readStream.schema("k BIGINT, v STRING").json(b_dir)

    return pipe, a_dir, b_dir


@pytest.mark.parametrize("fmt", ["parquet", "delta"])
def test_append_flow_expectations_meter_each_flow(spark, tmp_path, fmt):
    """Expectations on a multi-flow target meter every flow on its own:
    drop mode filters per flow, the ledger key is ``<target>:<flow>``,
    and each flow's flow_progress counts its post-drop rows."""
    pipe, a_dir, b_dir = _mk_expect(
        tmp_path,
        fmt,
        [
            ExpectationDef("k_pos", "k > 0", "drop"),
            ExpectationDef("v_known", "v IS NOT NULL", "allow"),
        ],
    )
    _land(a_dir, "a1.json", [{"k": 1, "v": "a"}, {"k": 2, "v": "a"}, {"k": -1, "v": "a"}])
    _land(b_dir, "b1.json", [{"k": 10}, {"k": -5, "v": "b"}])
    runner = PipelineRunner(pipe)
    runner.run_once(spark)
    got = sorted((r["k"], r["v"]) for r in pipe.read(spark, "bronze").collect())
    assert got == [(1, "a"), (2, "a"), (10, None)], got
    m = runner.expectation_metrics
    assert set(m) == {"bronze:region_a", "bronze:region_b"}
    assert m["bronze:region_a"]["k_pos"] == {
        "action": "drop", "condition": "k > 0", "passed": 2, "failed": 1,
    }
    assert m["bronze:region_a"]["v_known"]["failed"] == 0
    assert m["bronze:region_b"]["k_pos"]["failed"] == 1
    assert m["bronze:region_b"]["v_known"] == {
        "action": "allow", "condition": "v IS NOT NULL", "passed": 1, "failed": 1,
    }
    events = pipe.event_log(spark).collect()
    written = {
        json.loads(r["details"])["flow"]: json.loads(r["details"])["rows_written"]
        for r in events
        if r["event_type"] == "flow_progress" and r["table_name"] == "bronze"
    }
    assert written == {"region_a": 2, "region_b": 1}
    ledgered = {
        (r["table_name"], json.loads(r["details"])["name"])
        for r in events
        if r["event_type"] == "expectation"
    }
    assert ledgered == {
        ("bronze:region_a", "k_pos"), ("bronze:region_a", "v_known"),
        ("bronze:region_b", "k_pos"), ("bronze:region_b", "v_known"),
    }


@pytest.mark.parametrize("fmt", ["parquet", "delta"])
def test_append_flow_expect_or_fail_halts_after_commit(spark, tmp_path, fmt):
    """``expect_or_fail`` on an append flow is detect-and-halt: the
    violating micro-batch is already committed when the update fails,
    and later flows of the target do not run."""
    pipe, a_dir, b_dir = _mk_expect(
        tmp_path, fmt, [ExpectationDef("k_pos", "k > 0", "fail")]
    )
    _land(a_dir, "a1.json", [{"k": 1, "v": "a"}, {"k": -1, "v": "a"}])
    _land(b_dir, "b1.json", [{"k": 10, "v": "b"}])
    runner = PipelineRunner(pipe)
    with pytest.raises(ExpectationFailed) as ei:
        runner.run_once(spark)
    assert ei.value.table == "bronze:region_a"
    assert ei.value.metrics["k_pos"]["failed"] == 1
    got = sorted((r["k"], r["v"]) for r in pipe.read(spark, "bronze").collect())
    assert got == [(-1, "a"), (1, "a")], got


def test_sql_flow_stream_static_self_join(spark, tmp_path):
    """A flow body that reads one table both as ``STREAM(LIVE.x)`` and as
    ``LIVE.x`` resolves both references, like the same body as a
    STREAMING LIVE TABLE does."""
    a_dir = str(tmp_path / "a")
    os.makedirs(a_dir)
    _land(a_dir, "a1.json", [{"k": 1}, {"k": 2}, {"k": 3}])
    pipe = Pipeline("sqlss", str(tmp_path / "storage"))

    @pipe.table(kind="stream")
    def base(spark_):
        return spark_.readStream.schema("k INT").json(a_dir)

    body = (
        "SELECT s.k, b.k * 10 AS k10 FROM STREAM(LIVE.base) s "
        "JOIN LIVE.base b ON b.k = s.k"
    )
    pipe.sql_table(
        f"""
        CREATE STREAMING LIVE TABLE as_table AS {body};

        CREATE OR REFRESH STREAMING LIVE TABLE as_flow;

        CREATE FLOW self_join AS INSERT INTO LIVE.as_flow BY NAME {body}
        """
    )
    PipelineRunner(pipe).run_once(spark)
    want = [(1, 10), (2, 20), (3, 30)]
    for t in ("as_table", "as_flow"):
        got = sorted((r["k"], r["k10"]) for r in pipe.read(spark, t).collect())
        assert got == want, (t, got)
