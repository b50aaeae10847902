"""DLT-style expectations: metric counting (zero extra scans via
DataFrame.observe), drop-mode filtering, fail-mode atomic abort, streaming
observedMetrics — the ``@dlt.expect`` family (public DLT API shape; the
reference's notebooks tag quality via table properties only, so this is
the engine completing the framework surface its users expect)."""

import json
import os

import pytest

from pos_dlt_spark.pipeline import ExpectationFailed, Pipeline, PipelineRunner


def _rows(spark, path):
    return {tuple(r) for r in spark.read.parquet(path).collect()}


def test_expect_allow_records_metrics_keeps_rows(spark, tmp_path):
    pipe = Pipeline("t", str(tmp_path))

    @pipe.table()
    @pipe.expect("positive_qty", "qty > 0")
    def items(s):
        return s.createDataFrame(
            [(1, 5), (2, -1), (3, 0), (4, None)], "id int, qty int"
        )

    runner = PipelineRunner(pipe)
    runner.run_once(spark)
    # allow mode: all 4 rows written, 3 violations counted (false OR null)
    assert spark.read.parquet(pipe.table_path("items")).count() == 4
    m = runner.expectation_metrics["items"]["positive_qty"]
    assert m == {
        "action": "allow",
        "condition": "qty > 0",
        "passed": 1,
        "failed": 3,
    }


def test_expect_or_drop_filters_and_counts(spark, tmp_path):
    pipe = Pipeline("t", str(tmp_path))

    @pipe.table()
    @pipe.expect_or_drop("valid_id", "id IS NOT NULL")
    @pipe.expect_or_drop("positive_qty", "qty > 0")
    def items(s):
        return s.createDataFrame(
            [(1, 5), (None, 7), (3, -2), (4, 1)], "id int, qty int"
        )

    runner = PipelineRunner(pipe)
    runner.run_once(spark)
    assert _rows(spark, pipe.table_path("items")) == {(1, 5), (4, 1)}
    m = runner.expectation_metrics["items"]
    # metrics count violations of EACH constraint over the input (a row
    # failing either is dropped; each counter sees the pre-drop input)
    assert m["valid_id"]["failed"] == 1
    assert m["positive_qty"]["failed"] == 1
    assert m["valid_id"]["passed"] == 3


def test_expect_or_fail_aborts_atomically(spark, tmp_path):
    pipe = Pipeline("t", str(tmp_path))
    state = {"bad": False}

    @pipe.table()
    @pipe.expect_or_fail("no_negatives", "qty >= 0")
    def items(s):
        rows = [(1, 5), (2, -1)] if state["bad"] else [(1, 5), (2, 2)]
        return s.createDataFrame(rows, "id int, qty int")

    runner = PipelineRunner(pipe)
    runner.run_once(spark)  # good refresh commits
    good = _rows(spark, pipe.table_path("items"))
    assert good == {(1, 5), (2, 2)}

    state["bad"] = True
    with pytest.raises(ExpectationFailed) as ei:
        runner.run_once(spark)
    # the failed refresh left the previous contents untouched (atomic
    # write-beside-then-swap), and no pending dir leaks
    assert _rows(spark, pipe.table_path("items")) == good
    assert not os.path.exists(pipe.table_path("items") + ".__pending__")
    assert ei.value.metrics["no_negatives"]["failed"] == 1


def test_expectations_on_stream_table(spark, tmp_path):
    """Streaming expectations ride StreamingQueryProgress.observedMetrics:
    drop-mode filters inside the stream, totals sum across micro-batches."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, i % 3 - 1) for i in range(30)], "id int, qty int"
    ).repartition(3).write.parquet(src)

    pipe = Pipeline("t", str(tmp_path / "p"))

    @pipe.table(kind="stream")
    @pipe.expect_or_drop("positive_qty", "qty > 0")
    def clean(s):
        schema = s.read.parquet(src).schema
        return (
            s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        )

    runner = PipelineRunner(pipe)
    runner.run_once(spark)
    out = spark.read.parquet(pipe.table_path("clean"))
    assert out.count() == 10  # only qty==1 survives of {-1,0,1}
    assert out.filter("qty <= 0").count() == 0
    m = runner.expectation_metrics["clean"]["positive_qty"]
    assert m["failed"] == 20 and m["passed"] == 10


def test_event_log_written(spark, tmp_path):
    pipe = Pipeline("t", str(tmp_path))

    @pipe.table()
    @pipe.expect_all_or_drop({"a_pos": "a > 0", "b_pos": "b > 0"})
    def tbl(s):
        return s.createDataFrame([(1, 1), (1, -1)], "a int, b int")

    runner = PipelineRunner(pipe)
    runner.run_once(spark)
    events = [
        (r.table_name, json.loads(r.details))
        for r in pipe.event_log(spark).filter("event_type = 'expectation'").collect()
    ]
    assert {t for t, _ in events} == {"tbl"}
    failed = {d["name"]: d["failed"] for _, d in events}
    assert failed == {"a_pos": 0, "b_pos": 1}


def test_expect_or_fail_aborts_atomically_delta_mode(spark, tmp_path):
    """Delta storage mode: fail-mode aborts BEFORE the overwrite commit
    (writer precommit hook) — the previous Delta version stays live, no
    new version appears, and the staged files are gone."""
    import os as _os

    from pos_dlt_spark.sources.delta import delta_snapshot, read_delta

    pipe = Pipeline("td", str(tmp_path), storage_format="delta")
    state = {"bad": False}

    @pipe.table()
    @pipe.expect_or_fail("positive_qty", "qty > 0")
    def items(s):
        rows = [(1, 5), (2, -1)] if state["bad"] else [(1, 5), (2, 7)]
        return s.createDataFrame(rows, "id int, qty int")

    runner = PipelineRunner(pipe)
    runner.run_once(spark)
    path = pipe.table_path("items")
    assert {tuple(r) for r in read_delta(spark, path).collect()} == {(1, 5), (2, 7)}
    v0 = delta_snapshot(spark, path).version

    state["bad"] = True
    with pytest.raises(ExpectationFailed):
        PipelineRunner(pipe).run_once(spark)
    # no new version, previous contents intact, no orphaned staged files
    snap = delta_snapshot(spark, path)
    assert snap.version == v0
    assert {tuple(r) for r in read_delta(spark, path).collect()} == {(1, 5), (2, 7)}
    live = {rel for rel, _ in snap.files}
    on_disk = {
        _os.path.relpath(_os.path.join(r, n), path)
        for r, _, fs in _os.walk(path)
        for n in fs
        if n.endswith(".parquet") and "_delta_log" not in r
    }
    assert on_disk == live
