"""The two workloads, driven through the public API of ``pos_dlt_spark``.

Each run: set up ``SETUP_REPS`` times (fresh session, inputs, fixtures),
run one cold first pass, then steady passes until ``--seconds`` have
passed, then check every output against an independent DuckDB oracle
outside the timed region. Closed loop, one client, ``local[N]`` with
``N = min(2, nproc)``.

Every op is timed twice: wall time, and the CPU time of the benchmark's
process tree (driver, JVM, Python workers) without the JVM's JIT
compiler threads (``host.cpu_sample``), and so is every set-up. The
end-to-end times are CPU times: on a shared host the wall time of the
same op swings with what the neighbours run, while its CPU time does
not take the hypervisor's steal or the run queue's wait. The wall times
are in the detail line.

- ``pos_stream``: the Delta-storage POS pipeline driven tick by tick by
  ``PipelineScheduler.run_due`` with an injected clock advanced by the
  5-minute gold interval. One op is one tick, from the landing of a batch
  to gold committed. One pass is a cycle of ``snapshot_every`` ticks whose
  last tick lands a snapshot recount (the CDC MERGE path).
- ``train_data``: the training-data registry gates over a generated
  corpus and embedding table. One op is one gate materialised through the ``noop`` sink; one
  pass runs every gate once, in an order shuffled by the seed. The cold
  first pass collects each result instead, and those results are the
  ones checked against the gate's registry oracle.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np

from perfbench import host, inputs
from perfbench.tracing import EngineProbe, Tracer, median_of, stream_listener

SETUP_REPS = 5

GATES = (
    "corpus_training_set_pipeline",
    "corpus_repeated_ngrams",
    "dedup_minhash_lsh_pairs",
    "text_quality_features",
    "ann_cosine_topk_vectorized",
)

SCALES = {
    "full": {
        "pos": dict(n_stores=10, n_items=400, backfill_events=3_000, tick_events=500,
                    n_ticks=16, snapshot_every=3),
        "docs": 400, "vecs": 600,
    },
    "tiny": {
        "pos": dict(n_stores=4, n_items=30, backfill_events=300, tick_events=60,
                    n_ticks=30, snapshot_every=3),
        "docs": 120, "vecs": 150,
    },
}

GOLD_ORACLE_SQL = """
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


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class _Collected:
    """A collected result in the shape ``tools.check_oracle.compare`` reads."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class Run:
    """One benchmark run: session, ops, trace and the metrics they give."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 work: str, scale: str) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced, self.work, self.scale = traced, work, SCALES[scale]
        self.spark = None
        self.tracer = Tracer() if traced else None
        self.probe = None
        self.ops: list[dict] = []
        self.setups: list[dict] = []
        self.checks: dict[str, bool] = {}
        self.detail: dict = {"workload": workload, "seed": seed}
        self._tracing = False

    # -- session ----------------------------------------------------------

    def start_session(self) -> None:
        from pos_dlt_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    # -- ops --------------------------------------------------------------

    def op(self, name: str, phase: str, pass_no: int, fn) -> dict:
        """Run one op, timing it; an exception marks the op failed."""
        rec = {"name": name, "phase": phase, "pass": pass_no, "ok": True}
        c0 = host.cpu_sample()
        t0e, t0 = time.time(), time.perf_counter()
        try:
            if self._tracing:
                with self.tracer.span(f"op:{name}", phase=phase):
                    rec["out"] = fn()
            else:
                rec["out"] = fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            rec["ok"] = False
        rec["wall"] = time.perf_counter() - t0
        rec["cpu"] = host.cpu_s(c0, host.cpu_sample())
        if self._tracing:
            rec["engine"] = self.probe.collect(t0e, time.time())
        self.ops.append(rec)
        return rec

    def set_tracing(self, on: bool, workload) -> None:
        if not self.traced or on == self._tracing:
            return
        if on:
            if self.probe is None:
                self.probe = EngineProbe(self.spark)
            self.probe.mark()
            workload.trace_on(self)
        else:
            self.probe.drain()
            workload.trace_off(self)
            self.tracer.restore()
        self._tracing = on

    # -- the run ------------------------------------------------------------

    def execute(self, workload) -> dict:
        steal0 = host.cpu_jiffies()
        for rep in range(SETUP_REPS):
            d = os.path.join(self.work, f"inputs{rep}")
            c0 = host.cpu_sample()
            t0 = time.perf_counter()
            self.start_session()
            t1 = time.perf_counter()
            data = workload.generate(self)
            t2 = time.perf_counter()
            workload.fixtures(self, data, d)
            t3 = time.perf_counter()
            self.setups.append({"session_s": t1 - t0, "generate_s": t2 - t1,
                                "fixtures_s": t3 - t2, "total_s": t3 - t0,
                                "cpu_s": host.cpu_s(c0, host.cpu_sample())})
        log(f"setup {[(round(s['total_s'], 2), round(s['cpu_s'], 2)) for s in self.setups]}")
        self.set_tracing(True, workload)
        t0 = time.perf_counter()
        workload.first_pass(self)
        log(f"first pass {time.perf_counter() - t0:.2f} s")
        self.set_tracing(False, workload)
        t_start, pass_no = time.perf_counter(), 1
        # a traced run alternates traced and untraced steady passes, the
        # traced one first, so the tracing overhead is measured in the same
        # run; what warm-up is left falls on the traced pass, so the
        # overhead errs high, never low
        block = 2 if self.traced else 1
        while time.perf_counter() - t_start < self.seconds or (pass_no - 1) % block:
            self.set_tracing(pass_no % 2 == 1, workload)
            workload.steady_pass(self, pass_no)
            pass_no += 1
        self.set_tracing(False, workload)
        self.detail["passes"] = pass_no - 1
        log(f"steady {pass_no - 1} passes {time.perf_counter() - t_start:.2f} s")
        self.detail["peak_rss_mb"] = host.peak_rss_mb(self.spark)
        self.detail["steal_frac"] = host.steal_frac(steal0, host.cpu_jiffies())
        t0 = time.perf_counter()
        workload.check(self)
        log(f"checks {time.perf_counter() - t0:.2f} s")
        return self.result(workload)

    # -- metrics --------------------------------------------------------------

    def steady(self, traced: bool | None = None) -> list[dict]:
        return [o for o in self.ops if o["phase"] == "steady"
                and (traced is None or ("engine" in o) == traced)]

    @staticmethod
    def pass_sums(ops: list[dict], key: str) -> list[float]:
        """Per-pass sums of ``key`` ("wall" or "cpu") over ``ops``."""
        sums: dict[int, float] = defaultdict(float)
        for o in ops:
            sums[o["pass"]] += o[key]
        return list(sums.values())

    def result(self, workload) -> dict:
        attempted = len(self.ops) + len(self.checks)
        failed = sum(not o["ok"] for o in self.ops) + sum(not ok for ok in self.checks.values())
        correct = failed == 0 and bool(self.checks)
        self.detail["checks"] = self.checks
        self.detail["setup_reps"] = [{"wall_s": round(s["total_s"], 3), "cpu_s": s["cpu_s"]}
                                     for s in self.setups]
        if self.traced:
            work = defaultdict(list)
            for o in self.ops:
                if "engine" in o:
                    e = o["engine"]
                    work[o["name"]].append([o["pass"]] + [int(e.get(f"spark.{k}", 0))
                                                          for k in ("jobs", "stages", "tasks")])
            self.detail["work_per_pass"] = work
            metrics = self.layer_metrics(workload)
        else:
            metrics = self.end_to_end(workload)
        print(json.dumps({"detail": self.detail}, default=str))
        return {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": metrics}

    def end_to_end(self, workload) -> dict:
        steady = self.steady()
        first = [o for o in self.ops if o["phase"] == "first"]
        tail, tail_n = workload.tail(self, steady)
        self.detail["ops_steady"] = len(steady)
        per_op: dict[str, list] = defaultdict(list)
        for o in self.ops:
            per_op[o["name"] if o["phase"] == "steady" else "first:" + o["name"]].append(
                {"wall_s": round(o["wall"], 3), "cpu_s": round(o["cpu"], 2)})
        self.detail["op_times"] = per_op
        self.detail["first_pass_wall_s"] = sum(o["wall"] for o in first)
        self.detail["pass_wall_s"] = median_of(self.pass_sums(steady, "wall"))
        self.detail["op_tail"] = {"definition": workload.tail_definition, "samples": tail_n}
        values = {
            "setup_s": (statistics.median(s["cpu_s"] for s in self.setups), "s"),
            "first_pass_cpu_s": (sum(o["cpu"] for o in first), "s"),
            "pass_cpu_s": (median_of(self.pass_sums(steady, "cpu")), "s"),
            "op_cpu_p50_s": (workload.p50(self, steady), "s"),
            "op_cpu_tail_s": (tail, "s"),
            "items_per_cpu_s": (workload.items_per_cpu_s(self, steady), "items/cpu_s"),
            "peak_rss_mb": (self.detail["peak_rss_mb"], "MB"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}

    def layer_metrics(self, workload) -> dict:
        from perfbench.layers import layer_metrics

        return layer_metrics(self, workload)


# ---------------------------------------------------------------------------
# pos_stream
# ---------------------------------------------------------------------------


class PosStream:
    name = "pos_stream"
    tail_definition = "median CPU time of the snapshot-landing (CDC MERGE) ticks"

    def generate(self, run: Run):
        return inputs.PosInputs(**run.scale["pos"]).generate(
            np.random.default_rng(run.seed))

    def fixtures(self, run: Run, data, d: str) -> None:
        from pos_dlt_spark.pipeline import PipelineRunner, PipelineScheduler
        from pos_dlt_spark.pos_pipeline import build_pos_pipeline

        data.write_dims(os.path.join(d, "input"))
        self.data, self.root = data, os.path.join(d, "input")
        self.pipe = build_pos_pipeline(os.path.join(d, "storage"), self.root,
                                       storage_format="delta")
        self.runner = PipelineRunner(self.pipe)
        self.clock = [0.0]
        self.sched = PipelineScheduler(self.runner, clock=lambda: self.clock[0])
        self.landed = 0
        self.listener, self.listeners_done = None, []
        run.detail["sizes"] = data.sizes(data.n_ticks + 1)

    def tick(self, run: Run, phase: str, pass_no: int) -> dict:
        landing = self.landed
        if landing >= len(self.data.events):
            raise RuntimeError("pos_stream ran out of generated landings; raise n_ticks")
        if self.listener is not None:
            self.listener.bucket = landing

        def body():
            self.data.land(self.root, landing)
            return self.sched.run_due(run.spark)

        rec = run.op(f"tick{landing}", phase, pass_no, body)
        rec["snapshot"] = self.data.is_snapshot_tick(landing)
        rec["landing"] = landing
        self.landed += 1
        self.clock[0] += 300.0  # the gold table's 5-minute interval
        return rec

    def first_pass(self, run: Run) -> None:
        self.tick(run, "first", 0)

    def steady_pass(self, run: Run, pass_no: int) -> None:
        for _ in range(self.data.snapshot_every):
            self.tick(run, "steady", pass_no)

    def p50(self, run: Run, steady: list[dict]) -> float:
        # ticks are bimodal (a snapshot tick adds the CDC MERGE), so the
        # median is taken over the common, snapshot-free ticks
        return median_of(o["cpu"] for o in steady if not o["snapshot"])

    def tail(self, run: Run, steady: list[dict]):
        snaps = [o["cpu"] for o in steady if o["snapshot"]]
        return median_of(snaps), len(snaps)

    def items_per_cpu_s(self, run: Run, steady: list[dict]) -> float:
        rows = sum(len(self.data.change_rows[o["landing"]]) + 1 for o in steady)
        return rows / max(sum(o["cpu"] for o in steady), 1e-9)

    # -- tracing hooks ----------------------------------------------------

    def trace_on(self, run: Run) -> None:
        import pos_dlt_spark.sources.delta as delta
        import pos_dlt_spark.sources.delta_writer as writer

        tr = run.tracer
        orig = self.runner.run_table

        def run_table(spark, name):
            with tr.span("run_table", table=name):
                return orig(spark, name)

        tr.patch(self.runner, "run_table", run_table)
        tr.wrap(writer, "write_delta", "delta_writer.write_delta")
        tr.wrap(writer, "delta_merge", "delta_writer.delta_merge")
        tr.wrap(writer, "delta_stream_sink", "delta_writer.stream_sink_factory",
                wrap_result=lambda sink: tr.spanned(sink, "delta_writer.stream_sink"))
        tr.wrap(delta, "read_delta", "delta.read_delta")
        snap = delta.delta_snapshot

        def delta_snapshot(*args, **kwargs):
            # read_delta folds the log through this module attribute; the
            # live-file count is the base of delta.scan_files_pruned_frac
            out = snap(*args, **kwargs)
            top = tr.current()
            if top is not None and top["name"] == "delta.read_delta":
                top["live_files"] = len(out.files)
            return out

        tr.patch(delta, "delta_snapshot", delta_snapshot)
        self.listener = stream_listener()
        run.spark.streams.addListener(self.listener)

    def trace_off(self, run: Run) -> None:
        run.spark.streams.removeListener(self.listener)
        self.listeners_done.append(self.listener)
        self.listener = None

    # -- correctness --------------------------------------------------------

    def check(self, run: Run) -> None:
        import duckdb
        import pandas as pd

        from tools.check_oracle import compare

        spark, pipe = run.spark, self.pipe
        changes, snaps = self.data.truth(self.landed)
        con = duckdb.connect()
        con.register("changes", changes)
        con.register("snapshots", snaps)
        con.register("store", pd.DataFrame(self.data.stores, columns=["store_id", "name"]))
        con.register("change_type", pd.DataFrame(inputs.CHANGE_TYPES,
                                                 columns=["change_type_id", "change_type"]))
        expected = con.execute(GOLD_ORACLE_SQL).fetchdf()
        gold = _Collected(pipe.read(spark, "inventory_current").toPandas())
        errs = compare("inventory_current", gold, expected)
        for e in errs:
            log(f"gold: {e}")
        run.checks["gold_equals_oracle"] = not errs
        cdc = pipe.read(spark, "latest_inventory_snapshot").toPandas()
        run.checks["cdc_one_row_per_key"] = (
            not cdc.duplicated(["store_id", "item_id"]).any() and not (cdc["quantity"] == 999).any()
        )
        silver = pipe.read(spark, "inventory_change").toPandas()
        lines = silver[silver["item_id"].notna()]
        run.checks["silver_no_duplicates"] = (
            not lines.duplicated(["trans_id", "item_id"]).any() and len(lines) == len(changes)
        )
        run.checks["silver_keeps_header_only_events"] = (
            int(silver["item_id"].isna().sum()) == self.landed
        )
        run.detail["sizes_landed"] = self.data.sizes(self.landed)


# ---------------------------------------------------------------------------
# train_data
# ---------------------------------------------------------------------------


class TrainData:
    name = "train_data"
    gates = GATES
    tail_definition = "largest per-gate median steady CPU time (the costliest gate)"

    def generate(self, run: Run):
        rng = np.random.default_rng(run.seed)
        return inputs.corpus_tables(rng, run.scale["docs"], run.scale["vecs"])

    def fixtures(self, run: Run, data, d: str) -> None:
        tables, sizes = data
        inputs.write_parquet(tables, d)
        self.dir, self.sizes = d, sizes
        run.detail["sizes"] = sizes

    def _order(self, run: Run, pass_no: int) -> list[str]:
        rng = np.random.default_rng([run.seed, pass_no])
        return [self.gates[i] for i in rng.permutation(len(self.gates))]

    def first_pass(self, run: Run) -> None:
        """Every gate once in listed order: the first gate of a session pays
        the JVM's warm-up, so a fixed order keeps the cold pass comparable."""
        from __spark_entry__ import queries

        self.collected, self.fns = {}, queries()
        for g in self.gates:
            rec = run.op(g, "first", 0, lambda g=g: self.fns[g](run.spark, self.dir).toPandas())
            if rec["ok"]:
                self.collected[g] = rec.pop("out")

    def steady_pass(self, run: Run, pass_no: int) -> None:
        for g in self._order(run, pass_no):
            run.op(g, "steady", pass_no, lambda g=g: self.fns[g](run.spark, self.dir)
                   .write.format("noop").mode("overwrite").save())

    def tail(self, run: Run, steady: list[dict]):
        per = self.per_gate(steady)
        slowest = max(per, key=lambda g: statistics.median(per[g]))
        return statistics.median(per[slowest]), len(per[slowest])

    @staticmethod
    def per_gate(ops: list[dict]) -> dict[str, list[float]]:
        per: dict[str, list[float]] = defaultdict(list)
        for o in ops:
            per[o["name"]].append(o["cpu"])
        return per

    def p50(self, run: Run, steady: list[dict]) -> float:
        # the median over gates of each gate's median: one costly call of
        # a gate cannot move it, as it can move the pooled median of a few
        # passes over gates of very different cost
        per = self.per_gate(steady)
        return statistics.median(statistics.median(w) for w in per.values())

    def items_per_cpu_s(self, run: Run, steady: list[dict]) -> float:
        # every gate reads the whole corpus or the whole embedding table
        rows = self.sizes["documents"] + self.sizes["embeddings"]
        return rows / max(median_of(run.pass_sums(steady, "cpu")), 1e-9)

    def trace_on(self, run: Run) -> None:
        pass

    def trace_off(self, run: Run) -> None:
        pass

    def check(self, run: Run) -> None:
        from __spark_entry__ import oracle_sql
        from tools.check_oracle import compare, duckdb_conn

        con, oracles = duckdb_conn(self.dir), oracle_sql()
        for g in self.gates:
            if g not in self.collected:
                run.checks[g] = False
                continue
            expected = con.execute(oracles[g]).fetchdf()
            errs = compare(g, _Collected(self.collected[g]), expected)
            for e in errs:
                log(f"{g}: {e}")
            run.checks[g] = not errs
            run.detail.setdefault("result_rows", {})[g] = len(self.collected[g])


def make(workload: str):
    return PosStream() if workload == "pos_stream" else TrainData()
