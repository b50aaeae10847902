"""Change feed of ``delta_merge`` against a seeded Python oracle, and the
number of Spark actions one CDC micro-batch of the pipeline starts.

The oracle replays the merge's documented semantics on plain dicts: per
key, the newest ``seq`` wins and an equal sequence resolves update-wins;
a winning tombstone deletes the key; a stale update or tombstone, and a
tombstone for an absent key, change nothing. Its change set is the
DLT/Delta one: ``insert`` for a new key, an ``update_preimage`` /
``update_postimage`` pair for a replaced row, ``delete`` (the old row)
for a removed key."""

from __future__ import annotations

import json
import os
from collections import defaultdict

import numpy as np
import pandas as pd
import pytest

from pos_dlt_spark.sources.delta import delta_snapshot, read_delta
from pos_dlt_spark.sources.delta_cdf import read_change_feed
from pos_dlt_spark.sources.delta_rowtracking import (
    read_delta_with_row_ids,
    row_id_high_water_mark,
)
from pos_dlt_spark.sources.delta_writer import delta_merge, write_delta

SCHEMA = "k long, seq long, v string"
BATCH_SCHEMA = "k long, seq long, v string, op string"


def _persisted(spark) -> set:
    """Ids of the RDDs persisted right now (other tests' cached frames
    may be cleaned up meanwhile, so callers compare with ``<=``)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _oracle(state: dict, batch: list[tuple]) -> tuple[dict, list[tuple]]:
    groups: dict = defaultdict(list)
    for k, (seq, v) in state.items():
        groups[k].append((seq, 0, v, False))
    for k, seq, v, op in batch:
        groups[k].append((seq, 1, v, op == "D"))
    new, changes = dict(state), []
    for k, rows in groups.items():
        seq, upd, v, tomb = max(rows, key=lambda r: (r[0], r[1]))
        if not upd:
            continue  # the table row is newer: a stale update or tombstone
        if tomb:
            if k in state:
                changes.append((k, *state[k], "delete"))
                del new[k]
            continue
        if k in state:
            changes.append((k, *state[k], "update_preimage"))
            changes.append((k, seq, v, "update_postimage"))
        else:
            changes.append((k, seq, v, "insert"))
        new[k] = (seq, v)
    return new, sorted(changes)


def _batch(rng, state: dict, rnd: int) -> list[tuple]:
    """Updates of existing keys (stale, equal-sequence and newer), new
    keys, in-batch duplicates at distinct sequences, and tombstones for
    present and absent keys. Every payload is unique, so an update never
    equals the row it replaces."""
    rows, i = [], 0
    present = sorted(state)
    for k in rng.choice(present, size=min(12, len(present)), replace=False):
        old_seq = state[int(k)][0]
        for seq in sorted({old_seq + int(d) for d in rng.choice([-1, 0, 1, 3], 2)}):
            op = "D" if rng.random() < 0.2 else "U"
            rows.append((int(k), seq, f"r{rnd}_{i}", op))
            i += 1
    for k in rng.choice(np.arange(1000, 1100), size=8, replace=False):
        op = "D" if rng.random() < 0.25 else "U"  # some tombstone absent keys
        rows.append((int(k), int(rng.integers(0, 5)), f"r{rnd}_{i}", op))
        i += 1
    return rows


@pytest.mark.parametrize(
    "mode,row_tracking,seed",
    [("rewrite", False, 1), ("rewrite", True, 2), ("dv", False, 3), ("dv", True, 4)],
)
def test_merge_change_feed_matches_oracle(spark, tmp_path, mode, row_tracking, seed):
    rng = np.random.default_rng(seed)
    conf = {"delta.enableChangeDataFeed": "true"}
    if row_tracking:
        conf["delta.enableRowTracking"] = "true"
    table = str(tmp_path / "t")
    state = {k: (int(rng.integers(0, 6)), f"init{k}") for k in range(0, 60, 2)}
    init = pd.DataFrame(
        [(k, s, v) for k, (s, v) in sorted(state.items())], columns=["k", "seq", "v"]
    )
    # key-ranged files, so stats pruning leaves some of them untouched
    write_delta(
        spark.createDataFrame(init, SCHEMA).repartitionByRange(3, "k"),
        table, configuration=conf,
    )
    for rnd in range(3):
        batch = _batch(rng, state, rnd)
        state, want = _oracle(state, batch)
        snap_v = delta_snapshot(spark, table).version
        if row_tracking:
            ids0 = {r.k: (r._row_id, r._row_commit_version)
                    for r in read_delta_with_row_ids(spark, table).collect()}
            hwm0 = row_id_high_water_mark(delta_snapshot(spark, table))
        rdds = _persisted(spark)
        v = delta_merge(
            spark, table, spark.createDataFrame(pd.DataFrame(
                batch, columns=["k", "seq", "v", "op"]), BATCH_SCHEMA),
            keys=["k"], sequence_by="seq", delete_predicate="op = 'D'", mode=mode,
        )
        assert v == snap_v + 1
        assert _persisted(spark) <= rdds  # the frozen frame was released
        got = sorted(
            (r.k, r.seq, r.v, r._change_type)
            for r in read_change_feed(spark, table, start_version=v, end_version=v).collect()
        )
        assert got == want, (rnd, set(got) ^ set(want))
        rows = read_delta(spark, table).collect()
        assert len(rows) == len(state)
        assert {r.k: (r.seq, r.v) for r in rows} == state
        if row_tracking:
            ids = {r.k: (r._row_id, r._row_commit_version)
                   for r in read_delta_with_row_ids(spark, table).collect()}
            assert len({i for i, _ in ids.values()}) == len(ids)
            changed = {c[0] for c in want}
            for k, (rid, ver) in ids.items():
                if k not in changed:
                    assert (rid, ver) == ids0[k]        # carried
                elif k in ids0:
                    assert (rid, ver) == (ids0[k][0], v)  # updated: old id
                else:
                    assert rid > hwm0 and ver == v     # inserted: fresh id


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
def test_merge_releases_frozen_frame_on_lost_race(spark, tmp_path, monkeypatch, mode):
    """The ranked frame the data and change files share is released on
    every exit: here a lost commit race (and its re-run) and a success."""
    from pos_dlt_spark.sources import delta_writer

    table = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(pd.DataFrame({"k": [1, 2], "seq": [1, 1], "v": ["a", "b"]}),
                              SCHEMA),
        table, configuration={"delta.enableChangeDataFeed": "true"},
    )
    real, lost = delta_writer._try_commit, []

    def lose_once(*a, **kw):
        if not lost:
            lost.append(1)
            return False
        return real(*a, **kw)

    monkeypatch.setattr(delta_writer, "_try_commit", lose_once)
    rdds = _persisted(spark)
    v = delta_merge(
        spark, table, spark.createDataFrame(
            pd.DataFrame({"k": [2, 3], "seq": [2, 2], "v": ["b2", "c"]}), SCHEMA),
        keys=["k"], sequence_by="seq", mode=mode,
    )
    assert lost and v == 1
    assert _persisted(spark) <= rdds
    got = sorted(
        (r.k, r.v, r._change_type)
        for r in read_change_feed(spark, table, start_version=v, end_version=v).collect()
    )
    assert got == [(2, "b", "update_preimage"), (2, "b2", "update_postimage"),
                   (3, "c", "insert")]


def test_merge_empty_batch_commits_nothing(spark, tmp_path):
    table = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(pd.DataFrame({"k": [1, 2], "seq": [1, 1], "v": ["a", "b"]}),
                              SCHEMA),
        table, configuration={"delta.enableChangeDataFeed": "true"},
    )
    log = os.path.join(table, "_delta_log")
    n_log = len(os.listdir(log))
    empty = spark.createDataFrame([], BATCH_SCHEMA)
    for mode in ("rewrite", "dv"):
        v = delta_merge(spark, table, empty, keys=["k"], sequence_by="seq",
                        delete_predicate="op = 'D'", mode=mode)
        assert v == 0
    assert len(os.listdir(log)) == n_log


def test_merge_null_key_follows_merge_grouping(spark, tmp_path):
    """The merge window groups a null key with the table's null-key row
    (the data keeps one row for it), and the change feed says the same:
    an update pair, then a delete (k = null shows as -1 below)."""
    table = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame(pd.DataFrame(
            {"k": [None, 1], "seq": [1, 1], "v": ["n0", "a"]}).astype({"k": "Int64"}),
            SCHEMA).coalesce(1),
        table, configuration={"delta.enableChangeDataFeed": "true"},
    )

    def merge(rows):
        return delta_merge(
            spark, table, spark.createDataFrame(
                pd.DataFrame(rows, columns=["k", "seq", "v", "op"]).astype({"k": "Int64"}),
                BATCH_SCHEMA),
            keys=["k"], sequence_by="seq", delete_predicate="op = 'D'",
        )

    def feed(v):
        return sorted(
            (-1 if r.k is None else r.k, r.v, r._change_type)
            for r in read_change_feed(spark, table, start_version=v, end_version=v).collect()
        )

    v1 = merge([(None, 2, "n1", "U"), (1, 2, "a1", "U")])
    assert feed(v1) == [
        (-1, "n0", "update_preimage"), (-1, "n1", "update_postimage"),
        (1, "a", "update_preimage"), (1, "a1", "update_postimage"),
    ]
    assert sorted((-1 if r.k is None else r.k, r.v) for r in read_delta(spark, table).collect()) == [
        (-1, "n1"), (1, "a1")]
    v2 = merge([(None, 3, None, "D"), (1, 3, "a2", "U")])
    assert feed(v2) == [
        (-1, "n1", "delete"),
        (1, "a1", "update_preimage"), (1, "a2", "update_postimage"),
    ]
    assert [(r.k, r.v) for r in read_delta(spark, table).collect()] == [(1, "a2")]


def test_cdc_batch_runs_four_actions(spark, tmp_path, monkeypatch):
    """One CDC micro-batch into a change-feed Delta target starts at most
    four SQL executions: the counters, the touched-file query, the data
    stage and the change stage."""
    from pos_dlt_spark.pipeline import Pipeline, PipelineRunner

    in_dir = str(tmp_path / "land")
    os.makedirs(in_dir)
    pipe = Pipeline("cdc4", str(tmp_path / "storage"), storage_format="delta")

    @pipe.table(kind="stream")
    def feed(spark_):
        return spark_.readStream.schema(BATCH_SCHEMA).json(in_dir)

    pipe.apply_changes(target="latest", source="feed", keys=["k"], sequence_by="seq",
                       apply_as_deletes="op = 'D'", except_column_list=["op"])
    runner = PipelineRunner(pipe)
    store = spark._jsparkSession.sharedState().statusStore()
    counts = []
    orig = PipelineRunner._count_batch

    def counting(self, *a, **kw):
        n0 = store.executionsCount()
        orig(self, *a, **kw)
        counts.append(store.executionsCount() - n0)

    monkeypatch.setattr(PipelineRunner, "_count_batch", counting)
    for b in range(2):
        with open(os.path.join(in_dir, f"b{b}.json"), "w") as fh:
            for i in range(50):
                op = "D" if b and i % 10 == 0 else "U"
                fh.write(json.dumps({"k": i * (b + 1), "seq": b, "v": f"{b}", "op": op}) + "\n")
        runner.run_table(spark, "feed")
        runner.run_table(spark, "latest")
    assert len(counts) == 2
    merge_batch = counts[1]  # the first batch seeds the table with one write
    assert merge_batch <= 4, counts
    got = {r.k: r.v for r in read_delta(spark, pipe.table_path("latest")).collect()}
    want = {i: "0" for i in range(50)}
    want.update({2 * i: "1" for i in range(50)})
    for i in range(0, 50, 10):
        del want[2 * i]
    assert got == want
