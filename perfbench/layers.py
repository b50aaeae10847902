"""Per-layer metrics of a traced run (``--trace 1``).

``PER_LAYER`` is the list ``BENCHMARK.json`` declares, in order. Every
metric is emitted on every workload; a layer a workload never enters
reads 0 there (README.md maps each layer to the workloads it is
predicted to move). Unless noted, counts and times are means per traced
steady op for ``pos_stream`` ticks and medians over traced steady passes
of per-pass sums for the Spark, SQL and Python layers.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

from perfbench.tracing import SQL_OPS, median_of
from perfbench.workloads import GATES

POS_TABLES = ("raw_inventory_change", "inventory_change", "inventory_snapshot",
              "latest_inventory_snapshot", "inventory_current")
DIMS = ("store", "item", "inventory_change_type")
STREAM_TABLES = POS_TABLES[:4]
SPARK = ("jobs", "stages", "tasks")
SPARK_S = ("executor_run_s", "executor_cpu_s", "gc_s", "driver_gap_s")
SPARK_B = ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _m(name, unit, better):
    return {"name": name, "unit": unit, "better": better}


PER_LAYER = (
    [_m(f"setup.{k}", "s", "lower") for k in ("session_s", "generate_s", "fixtures_s")]
    + [_m(f"pipeline.run_table_s.{t}", "s", "lower") for t in ("dims", *POS_TABLES)]
    + [_m(f"pipeline.rows_written.{t}", "rows", "higher") for t in ("dims", *POS_TABLES)]
    + [_m("pipeline.span_cover_frac", "ratio", "higher")]
    + [_m("stream.queries_started", "count", "lower"), _m("stream.batches", "count", "lower"),
       _m("stream.empty_batch_frac", "ratio", "lower"), _m("stream.start_floor_s", "s", "lower")]
    + [_m(f"stream.{k}_s", "s", "lower")
       for k in ("query_planning", "latest_offset", "add_batch", "wal_commit")]
    + [_m("stream.state_rows", "rows", "lower"), _m("stream.state_bytes", "bytes", "lower"),
       _m("stream.rows_dropped_by_watermark", "rows", "lower")]
    + [_m(f"delta_writer.calls.{k}", "count", "lower")
       for k in ("write_delta", "delta_merge", "stream_sink")]
    + [_m(f"delta_writer.s.{k}", "s", "lower")
       for k in ("write_delta", "delta_merge", "stream_sink")]
    + [_m("delta_writer.log_versions", "count", "lower"),
       _m("delta_writer.files_added", "count", "lower"),
       _m("delta_writer.files_removed", "count", "lower"),
       _m("delta_writer.bytes_added", "bytes", "lower"),
       _m("delta_writer.merge_useful_frac", "ratio", "higher")]
    + [_m("delta.read_calls", "count", "lower"), _m("delta.read_s", "s", "lower"),
       _m("delta.scan_files_read", "count", "lower"),
       _m("delta.scan_files_pruned_frac", "ratio", "higher")]
    + [_m(f"spark.{k}", "count", "lower") for k in SPARK]
    + [_m(f"spark.{k}", "s", "lower") for k in SPARK_S]
    + [_m(f"spark.{k}", "bytes", "lower") for k in SPARK_B]
    + [_m("spark.task_skew", "ratio", "lower"), _m("spark.executor_share", "ratio", "higher")]
    + [_m(f"sql.op_s.{k}", "s", "lower") for k in SQL_OPS]
    + [_m("sql.peak_memory_bytes", "bytes", "lower"), _m("sql.broadcast_bytes", "bytes", "lower")]
    + [_m("python.bytes_sent", "bytes", "lower"), _m("python.bytes_received", "bytes", "lower"),
       _m("python.rows_received", "rows", "lower"), _m("python.worker_run_s", "s", "lower")]
    + [_m(f"query_s.{g}", "s", "lower") for g in GATES]
    + [_m("trace.overhead_frac", "ratio", "lower"), _m("host.steal_frac", "ratio", "lower")]
)


def layer_metrics(run, workload) -> dict:
    v: dict[str, float] = {m["name"]: 0.0 for m in PER_LAYER}
    for k in ("session_s", "generate_s", "fixtures_s"):
        v[f"setup.{k}"] = statistics.median(s[k] for s in run.setups)
    traced = run.steady(traced=True)
    untraced = run.steady(traced=False)
    _engine(v, run, traced)
    per_gate = defaultdict(list)
    for o in run.steady():
        per_gate[o["name"]].append(o["wall"])
    for g, walls in per_gate.items():
        if f"query_s.{g}" in v:
            v[f"query_s.{g}"] = statistics.median(walls)
    # in CPU time, as the end-to-end metrics are: the wall time of one
    # pass moves more with the host's load than tracing moves it
    t_med = median_of(run.pass_sums(traced, "cpu"))
    u_med = median_of(run.pass_sums(untraced, "cpu"))
    v["trace.overhead_frac"] = t_med / u_med - 1.0 if t_med and u_med else 0.0
    v["host.steal_frac"] = run.detail["steal_frac"]
    if workload.name == "pos_stream":
        _pipeline(v, run, workload, traced)
    units = {m["name"]: m["unit"] for m in PER_LAYER}
    trace_dir = os.path.join(os.path.dirname(run.work), "trace")
    os.makedirs(trace_dir, exist_ok=True)
    run.tracer.dump(os.path.join(trace_dir, f"{run.workload}-seed{run.seed}.json"))
    return {k: {"value": float(x), "unit": units[k]} for k, x in v.items()}


def _engine(v: dict, run, traced: list[dict]) -> None:
    """Spark, SQL and Python layers: per-pass sums, median over passes."""
    passes: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for o in traced:
        p = passes[o["pass"]]
        for k, x in o.get("engine", {}).items():
            if k in ("spark.task_skew", "sql.peak_memory_bytes"):
                p[k] = max(p[k], x)
            else:
                p[k] += x
    for name in v:
        if name.split(".")[0] in ("spark", "sql", "python") and name != "spark.executor_share":
            v[name] = median_of(p.get(name, 0.0) for p in passes.values())
    wall = sum(o["wall"] for o in traced)
    run_s = sum(o.get("engine", {}).get("spark.executor_run_s", 0.0) for o in traced)
    v["spark.executor_share"] = run_s / wall if wall else 0.0


def _pipeline(v: dict, run, wl, traced: list[dict]) -> None:
    tr = run.tracer
    spans = tr.spans
    self_t = tr.self_times()
    by_id = {s["id"]: s for s in spans}

    def op_of(s):
        while s is not None and not s["name"].startswith("op:"):
            s = by_id.get(s["parent"])
        return s["name"][3:] if s else None

    ticks = {o["name"] for o in traced}
    n = max(len(ticks), 1)
    per_tick = defaultdict(lambda: defaultdict(list))
    cover = live = 0.0
    first = next(o["name"] for o in run.ops if o["phase"] == "first")
    for s in spans:
        op = op_of(s)
        dur = s["end"] - s["start"]
        if s["name"] == "run_table":
            per_tick[op][s["table"]].append(dur)
            if op in ticks:
                cover += dur
        if op not in ticks:
            continue
        if s["name"].startswith("delta_writer.") and s["name"] != "delta_writer.stream_sink_factory":
            k = s["name"].split(".", 1)[1]
            v[f"delta_writer.calls.{k}"] += 1 / n
            v[f"delta_writer.s.{k}"] += self_t[s["id"]] / n
        elif s["name"] == "delta.read_delta":
            v["delta.read_calls"] += 1 / n
            v["delta.read_s"] += dur / n
            live += s.get("live_files", 0)
    v["pipeline.run_table_s.dims"] = sum(sum(per_tick[first][t]) for t in DIMS)
    for t in POS_TABLES:
        v[f"pipeline.run_table_s.{t}"] = median_of(sum(per_tick[k][t]) for k in ticks)
    v["pipeline.span_cover_frac"] = cover / max(sum(o["wall"] for o in traced), 1e-9)
    read = sum(o.get("engine", {}).get("delta.scan_files_read", 0.0) for o in traced)
    v["delta.scan_files_read"] = read / n
    v["delta.scan_files_pruned_frac"] = max(0.0, 1.0 - read / live) if live else 0.0
    # streaming progress, filed per landing by the listener
    landings = {o["landing"] for o in traced}
    progress, started = [], 0
    for lst in wl.listeners_done:
        for b in landings:
            progress += lst.progress.get(b, [])
            started += lst.started.get(b, 0)
    v["stream.queries_started"] = started / n
    v["stream.batches"] = len(progress) / n
    v["stream.empty_batch_frac"] = (
        sum(p["rows"] == 0 for p in progress) / len(progress) if progress else 0.0)
    for key, name in (("queryPlanning", "query_planning"), ("latestOffset", "latest_offset"),
                      ("addBatch", "add_batch"), ("walCommit", "wal_commit")):
        v[f"stream.{name}_s"] = sum(p["dur"].get(key, 0) for p in progress) / 1e3 / n
    trig = sum(p["dur"].get("triggerExecution", 0) for p in progress) / 1e3
    stream_wall = sum(sum(per_tick[k][t]) for k in ticks for t in STREAM_TABLES)
    v["stream.start_floor_s"] = (stream_wall - trig) / n
    v["stream.state_rows"] = max((p["state_rows"] for p in progress), default=0)
    v["stream.state_bytes"] = max((p["state_bytes"] for p in progress), default=0)
    v["stream.rows_dropped_by_watermark"] = sum(p["dropped"] for p in progress) / n
    _delta_log(v, wl, upserted=_event_log(v, run, wl))


def _event_log(v: dict, run, wl) -> int:
    """Rows written per table over the whole run, from the pipeline's
    event log; returns the rows the CDC flow upserted through MERGE."""
    from pyspark.sql import functions as F

    rows = wl.pipe.event_log(run.spark).filter(
        F.col("event_type").isin("flow_complete", "flow_progress")).collect()
    upserted = 0
    for r in rows:
        d = json.loads(r["details"])
        if r["event_type"] == "flow_progress":
            if d.get("batch_id", 0) > 0:
                upserted += d.get("num_upserted_rows", 0)
            continue
        n = d.get("rows_written", d.get("num_upserted_rows", 0)) or 0
        t = "dims" if r["table_name"] in DIMS else r["table_name"]
        key = f"pipeline.rows_written.{t}"
        if key in v:
            v[key] += n
    return upserted


def _delta_log(v: dict, wl, upserted: int) -> None:
    """Commit counts and file churn from every pipeline table's
    ``_delta_log``, and the share of MERGE-written rows that were upserts."""
    merge_rows = 0
    for log_dir in glob.glob(os.path.join(wl.pipe.table_path("*"), "_delta_log")):
        for path in glob.glob(os.path.join(log_dir, "*.json")):
            v["delta_writer.log_versions"] += 1
            with open(path) as fh:
                actions = [json.loads(line) for line in fh if line.strip()]
            is_merge = any(a.get("commitInfo", {}).get("operation") == "MERGE" for a in actions)
            for a in actions:
                if "add" in a:
                    v["delta_writer.files_added"] += 1
                    v["delta_writer.bytes_added"] += a["add"].get("size", 0)
                    if is_merge and a["add"].get("stats"):
                        merge_rows += json.loads(a["add"]["stats"]).get("numRecords", 0)
                elif "remove" in a:
                    v["delta_writer.files_removed"] += 1
    v["delta_writer.merge_useful_frac"] = upserted / merge_rows if merge_rows else 0.0
