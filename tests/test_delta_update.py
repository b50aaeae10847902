"""UPDATE (copy-on-write) and REORG PURGE on protocol Delta tables:
file-pruned rewrites with simultaneous SET semantics, generated-column
recompute, CHECK constraints, CDF update pre/postimages; purge rewrites
DV-carrying files with dataChange=false on both sides."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pos_dlt_spark.sources.delta import (
    DeltaProtocolError,
    delta_snapshot,
    read_delta,
    replay_adds,
)
from pos_dlt_spark.sources.delta_cdf import read_change_feed
from pos_dlt_spark.sources.delta_writer import (
    delta_delete,
    delta_merge,
    delta_reorg_purge,
    delta_update,
    write_delta,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 10).alias("bucket"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )


def test_update_rewrites_only_touched_files(spark, tmp_path):
    table = str(tmp_path / "u1")
    write_delta(_df(spark, 0, 100).repartition(1), table)
    write_delta(_df(spark, 100, 200).repartition(1), table)
    before = {rel for rel, _ in delta_snapshot(spark, table).files}
    v, n = delta_update(
        spark, table, "id BETWEEN 10 AND 12", {"name": "concat(name, '-u')"}
    )
    assert (v, n) == (2, 3)
    snap = delta_snapshot(spark, table)
    after = {rel for rel, _ in snap.files}
    # the file holding ids 100-199 is untouched (stats-pruned scan)
    assert len(before & after) == 1
    got = {r.id: r.name for r in read_delta(spark, table).collect()}
    assert got[10] == "n10-u" and got[11] == "n11-u" and got[12] == "n12-u"
    assert got[9] == "n9" and got[13] == "n13" and len(got) == 200


def test_update_set_sees_old_row_simultaneously(spark, tmp_path):
    """Swap two columns in one UPDATE: both RHS read pre-update values."""
    table = str(tmp_path / "u2")
    spark.createDataFrame([(1, 10, 20)], "id long, a long, b long").write.format(
        "noop"
    ).mode("overwrite").save()  # warm nothing; just build the table below
    write_delta(
        spark.createDataFrame([(1, 10, 20), (2, 30, 40)], "id long, a long, b long"),
        table,
    )
    v, n = delta_update(spark, table, "id = 1", {"a": "b", "b": "a"})
    assert n == 1
    got = {r.id: (r.a, r.b) for r in read_delta(spark, table).collect()}
    assert got[1] == (20, 10) and got[2] == (30, 40)


def test_update_no_match_no_commit(spark, tmp_path):
    table = str(tmp_path / "u3")
    write_delta(_df(spark, 0, 10), table)
    v, n = delta_update(spark, table, "id > 999", {"name": "'x'"})
    assert (v, n) == (0, 0)
    with pytest.raises(ValueError, match="not in the table schema"):
        delta_update(spark, table, "id = 1", {"nope": "'x'"})


def test_update_skips_dv_dead_rows_and_emits_cdf(spark, tmp_path):
    table = str(tmp_path / "u4")
    write_delta(
        _df(spark, 0, 50), table, configuration={"delta.enableChangeDataFeed": "true"}
    )
    delta_delete(spark, table, "id = 7", mode="dv")
    v, n = delta_update(spark, table, "id IN (7, 8)", {"name": "'upd'"})
    assert n == 1  # id=7 is DV-dead: not updated
    got = {r.id: r.name for r in read_delta(spark, table).collect()}
    assert got[8] == "upd" and 7 not in got
    ch = read_change_feed(spark, table, start_version=v, end_version=v)
    rows = {(r.id, r._change_type, r.name) for r in ch.collect()}
    assert rows == {
        (8, "update_preimage", "n8"),
        (8, "update_postimage", "upd"),
    }


def test_update_partition_column_moves_rows(spark, tmp_path):
    table = str(tmp_path / "u5")
    write_delta(_df(spark, 0, 20), table, partition_by=["bucket"])
    v, n = delta_update(spark, table, "id = 5", {"bucket": "99"})
    assert n == 1
    snap = delta_snapshot(spark, table)
    moved = [pv for rel, pv in snap.files if pv.get("bucket") == "99"]
    assert moved
    got = {r.id: r.bucket for r in read_delta(spark, table).collect()}
    assert got[5] == 99 and len(got) == 20


def test_update_append_only_refused(spark, tmp_path):
    table = str(tmp_path / "u6")
    write_delta(_df(spark, 0, 5), table, configuration={"delta.appendOnly": "true"})
    with pytest.raises(DeltaProtocolError, match="appendOnly"):
        delta_update(spark, table, "id = 1", {"name": "'x'"})


def test_reorg_purge_drops_dvs_without_changing_rows(spark, tmp_path):
    table = str(tmp_path / "rp")
    write_delta(
        _df(spark, 0, 100), table, configuration={"delta.enableChangeDataFeed": "true"}
    )
    delta_delete(spark, table, "id % 7 = 0", mode="dv")
    live_before = sorted(r.id for r in read_delta(spark, table).collect())
    v, purged = delta_reorg_purge(spark, table)
    assert purged >= 1
    snap = delta_snapshot(spark, table)
    assert not any(snap.adds[rel].get("deletionVector") for rel, _ in snap.files)
    assert sorted(r.id for r in read_delta(spark, table).collect()) == live_before
    # invisible to CDF and to streaming replay (dataChange=false)
    ch = read_change_feed(spark, table, start_version=v, end_version=v)
    assert ch.count() == 0
    assert v not in [
        vv for vv, _ in replay_adds(spark, table, skip_change_commits=True)
    ]
    # idempotent: nothing left to purge
    assert delta_reorg_purge(spark, table) == (v, 0)


def test_reorg_purge_removes_fully_dead_files(spark, tmp_path):
    table = str(tmp_path / "rp2")
    write_delta(_df(spark, 0, 10).repartition(1), table)
    write_delta(_df(spark, 10, 20).repartition(1), table)
    delta_delete(spark, table, "id < 10", mode="dv")  # kills file 1 entirely
    v, purged = delta_reorg_purge(spark, table)
    assert purged == 1
    snap = delta_snapshot(spark, table)
    assert sorted(r.id for r in read_delta(spark, table).collect()) == list(
        range(10, 20)
    )
    assert not any(snap.adds[rel].get("deletionVector") for rel, _ in snap.files)


def test_skipping_predicate_extraction():
    from pos_dlt_spark.sources.delta_writer import _skipping_predicates as sp

    assert sp("id = 5") == [("id", "=", 5)]
    assert sp("id == 5") == [("id", "=", 5)]
    assert sp("id BETWEEN 3 AND 7") == [("id", ">=", 3), ("id", "<=", 7)]
    assert sp("a >= 1 AND b < 'x'") == [("a", ">=", 1), ("b", "<", "x")]
    assert sp("id IN (1, 2, 3)") == [("id", "in", [1, 2, 3])]
    assert sp("(a = 1) AND (b = 2.5)") == [("a", "=", 1), ("b", "=", 2.5)]
    # conservative refusals: anything not provably col-op-literal
    assert sp("id = 5 OR name = 'x'") == []
    assert sp("NOT (id = 5)") == []
    assert sp("id % 10 = 3") == []
    assert sp("name = 'rock and roll'") == []  # quoted AND splits: no-op
    assert sp("lower(name) = 'x'") == []
    assert sp("5 < id") == []
    assert sp("a = b") == []


def test_dml_match_scan_is_stats_pruned(spark, tmp_path, monkeypatch):
    """A DELETE/UPDATE whose predicate provably excludes every file (log
    min/max stats) returns without scheduling ANY scan task."""
    import pos_dlt_spark.sources.delta as d

    table = str(tmp_path / "prune")
    write_delta(_df(spark, 0, 100), table)

    def boom(*a, **k):
        raise AssertionError("match scan should have been stats-pruned")

    monkeypatch.setattr(d, "scan_rels", boom)
    assert delta_delete(spark, table, "id > 1000") == (0, 0)
    assert delta_update(
        spark, table, "id BETWEEN 5000 AND 6000", {"name": "'x'"}
    ) == (0, 0)
    monkeypatch.undo()
    # and a predicate the stats cannot exclude still works end-to-end
    v, n = delta_update(spark, table, "id IN (3, 4)", {"name": "'y'"})
    assert n == 2
    got = {r.id: r.name for r in read_delta(spark, table).collect()}
    assert got[3] == "y" and got[5] == "n5"


def test_update_delete_race_serializes_or_aborts_cleanly(spark, tmp_path):
    """UPDATE and DELETE racing on one table: O_EXCL serializes the
    commits — the loser aborts with DeltaCommitConflict (never a silent
    wrong commit), a re-run lands it, and the final state equals the
    sequential application. No orphaned staged files survive."""
    import threading

    from pos_dlt_spark.sources.delta_writer import DeltaCommitConflict

    table = str(tmp_path / "dmlrace")
    write_delta(_df(spark, 0, 30).repartition(2), table)

    outcomes = {}

    def run(name, fn):
        try:
            outcomes[name] = ("ok", fn())
        except DeltaCommitConflict as e:
            outcomes[name] = ("conflict", e)

    do_update = lambda: delta_update(
        spark, table, "id < 10", {"name": "concat(name, '-u')"}
    )
    do_delete = lambda: delta_delete(
        spark, table, "id >= 5 AND id < 15", mode="rewrite"
    )
    t1 = threading.Thread(target=run, args=("u", do_update))
    t2 = threading.Thread(target=run, args=("d", do_delete))
    t1.start(); t2.start(); t1.join(); t2.join()

    assert any(kind == "ok" for kind, _ in outcomes.values())
    # re-run any loser: the conflict is an explicit retry contract
    if outcomes["u"][0] == "conflict":
        do_update()
    if outcomes["d"][0] == "conflict":
        do_delete()

    got = {r.id: r.name for r in read_delta(spark, table).collect()}
    # both orders converge: 0-4 updated, 5-14 deleted, 15-29 untouched
    assert sorted(got) == list(range(0, 5)) + list(range(15, 30))
    assert all(got[i] == f"n{i}-u" for i in range(0, 5))
    assert all(got[i] == f"n{i}" for i in range(15, 30))
    # no orphaned staged data: every on-disk parquet is in the live set
    # of SOME retained version (both pre-race files and rewrites remain
    # on disk until vacuum — check the LIVE set is a subset, and vacuum
    # collects the rest without touching live files)
    from pos_dlt_spark.sources.delta_writer import delta_vacuum

    live = {rel for rel, _ in delta_snapshot(spark, table).files}
    on_disk = {
        os.path.relpath(os.path.join(root, n), table)
        for root, _d, fs in os.walk(table)
        for n in fs
        if n.endswith(".parquet") and "_delta_log" not in root
    }
    assert live <= on_disk
    delta_vacuum(spark, table, retain_versions=0, grace_seconds=-3600)
    still = {
        os.path.relpath(os.path.join(root, n), table)
        for root, _d, fs in os.walk(table)
        for n in fs
        if n.endswith(".parquet") and "_delta_log" not in root
    }
    assert still == live
    got2 = {r.id: r.name for r in read_delta(spark, table).collect()}
    assert got2 == got


def test_skipping_predicate_between_is_anchored():
    """Regression: BETWEEN bounds must only be extracted when the WHOLE
    conjunct is `col BETWEEN lit AND lit` — an unanchored rewrite
    attributed `a + b BETWEEN 1 AND 2`'s bounds to the trailing bare
    identifier and pruned files holding real matches."""
    from pos_dlt_spark.sources.delta_writer import _skipping_predicates as sp

    assert sp("a + b BETWEEN 1 AND 2") == []
    assert sp("-x BETWEEN 1 AND 2") == []
    assert sp("f(x) BETWEEN 1 AND 2") == []
    assert sp("a BETWEEN 1 AND b") == []        # non-literal bound
    assert sp("id BETWEEN 3 AND 7 AND x = 1") == [
        ("id", ">=", 3), ("id", "<=", 7), ("x", "=", 1),
    ]
    assert sp("x = 1 AND id BETWEEN 3 AND 7") == [
        ("x", "=", 1), ("id", ">=", 3), ("id", "<=", 7),
    ]
    assert sp("a BETWEEN 1 AND 2 AND b BETWEEN 3 AND 4") == [
        ("a", ">=", 1), ("a", "<=", 2), ("b", ">=", 3), ("b", "<=", 4),
    ]
    assert sp("s BETWEEN 'aa' AND 'b c'") == [("s", ">=", "aa"), ("s", "<=", "b c")]
    assert sp("(id BETWEEN 3 AND 7)") == [("id", ">=", 3), ("id", "<=", 7)]


def test_delete_compound_between_not_wrongly_pruned(spark, tmp_path):
    """End-to-end regression for the unanchored BETWEEN: a DELETE whose
    predicate is `k + id BETWEEN lo AND hi` must scan (no provable
    skipping) and actually delete the matching rows — the old rewrite
    pruned every file via bounds on `id` alone and deleted nothing."""
    table = str(tmp_path / "btw")
    # two files: ids 0-9 and 10-19; k is a constant 100
    base = _df(spark, 0, 10).withColumn("k", F.lit(100))
    write_delta(base.repartition(1), table)
    write_delta(
        _df(spark, 10, 20).withColumn("k", F.lit(100)).repartition(1), table
    )
    v, n = delta_delete(spark, table, "k + id BETWEEN 110 AND 112")
    assert n == 3  # ids 10, 11, 12
    ids = sorted(r.id for r in read_delta(spark, table).collect())
    assert ids == list(range(0, 10)) + list(range(13, 20))


def _on_disk(table, suffix):
    """Table-relative paths of the ``suffix`` files outside the log."""
    return {
        os.path.relpath(os.path.join(r, f), table).replace(os.sep, "/")
        for r, _d, fs in os.walk(table)
        for f in fs
        if f.endswith(suffix) and "_delta_log" not in r
    }


def _log_references(table):
    """Every data, change and DV sidecar path any commit references."""
    import json as _json

    from pos_dlt_spark.sources.dv import dv_relative_path

    refs: set[str] = set()
    log_dir = os.path.join(table, "_delta_log")
    for f in os.listdir(log_dir):
        if f.endswith(".json"):
            for line in open(os.path.join(log_dir, f)):
                a = _json.loads(line)
                for k in ("add", "remove", "cdc"):
                    if k in a:
                        refs.add(a[k]["path"])
                        dvd = a[k].get("deletionVector")
                        if dvd and dv_relative_path(dvd):
                            refs.add(dv_relative_path(dvd))
    return refs


def _run_dml(spark, verb, mode, table):
    """One DML per verb over ``_df(0, 20)``: ids 0-4 change (and, for
    MERGE, keys 20-22 insert); every attempt writes change files and, in
    dv mode, a DV sidecar per touched file."""
    if verb == "delete":
        return delta_delete(spark, table, "id < 5", mode=mode, inline_threshold=0)
    if verb == "update":
        return delta_update(
            spark, table, "id < 5", {"name": "concat(name, '-u')"},
            mode=mode, inline_threshold=0,
        )
    batch = _df(spark, 0, 5).withColumn("name", F.concat("name", F.lit("-u")))
    return delta_merge(
        spark, table, batch.unionByName(_df(spark, 20, 23)), keys=["id"],
        sequence_by="bucket", mode=mode, inline_threshold=0,
    )


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
@pytest.mark.parametrize("verb", ["update", "delete", "merge"])
def test_update_retry_absorbs_lost_race(spark, tmp_path, monkeypatch, verb, mode):
    """A lost commit race must be ABSORBED by every DML verb: whatever the
    aborted attempt staged (rewrite or new-row files, cdc files, DV
    sidecars) is removed and the re-run lands on the fresh snapshot with
    the same result as an uninterrupted run."""
    import pos_dlt_spark.sources.delta_writer as dw
    from pos_dlt_spark.sources.delta_check import delta_fsck

    conf = {"delta.enableChangeDataFeed": "true"}
    table, twin = str(tmp_path / "uretry"), str(tmp_path / "twin")
    for t in (table, twin):
        write_delta(_df(spark, 0, 20).repartition(2), t, configuration=conf)
    want = _run_dml(spark, verb, mode, twin)
    real = dw._try_commit
    fails = {"n": 1}

    def flaky(log_dir, version, actions, **kw):
        if fails["n"]:
            fails["n"] -= 1
            return False
        return real(log_dir, version, actions)

    monkeypatch.setattr(dw, "_try_commit", flaky)
    got = _run_dml(spark, verb, mode, table)
    monkeypatch.undo()
    assert fails["n"] == 0 and got == want
    if verb == "update":
        assert got == (1, 5)
        rows = {r.id: r.name for r in read_delta(spark, table).collect()}
        assert all(rows[i] == f"n{i}-u" for i in range(5))
        assert all(rows[i] == f"n{i}" for i in range(5, 20))
        ch = read_change_feed(spark, table, start_version=1, end_version=1)
        assert sum(r._change_type == "update_postimage" for r in ch.collect()) == 5

    def state(t):
        cols = ["id", "bucket", "name"]
        ch = read_change_feed(spark, t, start_version=1, end_version=1)
        return (
            sorted(read_delta(spark, t).select(*cols).collect()),
            sorted(ch.select(*cols, "_change_type").collect()),
        )

    assert state(table) == state(twin)
    # nothing the aborted attempt staged survives: every on-disk data,
    # change and DV sidecar file is referenced by the log
    assert _on_disk(table, ".parquet") | _on_disk(table, ".bin") <= _log_references(table)
    assert delta_fsck(spark, table) == []


def test_refused_merge_on_read_update_stages_nothing(spark, tmp_path):
    """``write_change_files=False`` without row tracking is refused before
    any file is staged: the table keeps exactly its parquet files."""
    table = str(tmp_path / "noleak")
    write_delta(
        _df(spark, 0, 20).repartition(4), table,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    before = _on_disk(table, ".parquet")
    with pytest.raises(ValueError, match="needs row tracking"):
        delta_update(
            spark, table, "id < 20", {"name": "'x'"}, write_change_files=False
        )
    assert _on_disk(table, ".parquet") == before


def test_delete_dv_retry_absorbs_lost_race_and_cleans_sidecars(
    spark, tmp_path, monkeypatch
):
    """dv-mode DELETE losing the race must remove the DV sidecars the
    aborted attempt wrote (NOT the pre-existing data files it re-adds)
    and land on retry."""
    import pos_dlt_spark.sources.delta_writer as dw

    table = str(tmp_path / "dretry")
    write_delta(_df(spark, 0, 200).repartition(1), table)
    data_files = {rel for rel, _ in delta_snapshot(spark, table).files}
    real = dw._try_commit
    fails = {"n": 1}

    def flaky(log_dir, version, actions, **kw):
        if fails["n"]:
            fails["n"] -= 1
            return False
        return real(log_dir, version, actions)

    monkeypatch.setattr(dw, "_try_commit", flaky)
    # inline_threshold=0 forces a sidecar file per attempt
    v, n = delta_delete(spark, table, "id % 2 = 0", mode="dv", inline_threshold=0)
    assert n == 100
    assert sorted(r.id for r in read_delta(spark, table).collect()) == list(
        range(1, 200, 2)
    )
    # pre-existing data files untouched by the cleanup
    for rel in data_files:
        assert os.path.exists(os.path.join(table, rel))
    # exactly the sidecars the COMMITTED version references remain
    from pos_dlt_spark.sources.dv import dv_relative_path

    snap = delta_snapshot(spark, table)
    live_sidecars = {
        dv_relative_path(a["deletionVector"])
        for a in snap.adds.values()
        if a.get("deletionVector")
    } - {None}
    on_disk = {
        os.path.relpath(os.path.join(r, f), table).replace(os.sep, "/")
        for r, _d, fs in os.walk(table)
        for f in fs
        if f.startswith("deletion_vector_") and f.endswith(".bin")
    }
    assert on_disk == live_sidecars


def test_concurrent_update_delete_append_all_absorbed(spark, tmp_path):
    """THREE real threads race UPDATE + DELETE + append into one table
    with no monkeypatching: the O_EXCL arbitration plus each writer's
    retry loop must absorb every lost race — zero exceptions, a gap-free
    version chain, and all three effects present in the final state."""
    import threading

    from pos_dlt_spark.sources.delta import _list_log

    table = str(tmp_path / "race3")
    write_delta(_df(spark, 0, 30).repartition(2), table)

    errors: list[Exception] = []

    def run(fn):
        try:
            fn()
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append(e)

    ops = [
        lambda: delta_update(spark, table, "id < 10", {"name": "concat(name, '-u')"}),
        lambda: delta_delete(spark, table, "id >= 20 AND id < 25", mode="dv"),
        lambda: write_delta(_df(spark, 100, 110), table),
    ]
    threads = [threading.Thread(target=run, args=(f,)) for f in ops]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    commits, _ = _list_log(os.path.join(table, "_delta_log"))
    assert [v for v, _ in commits] == [0, 1, 2, 3]  # gap-free
    got = {r.id: r.name for r in read_delta(spark, table).collect()}
    assert sorted(got) == (
        list(range(0, 20)) + list(range(25, 30)) + list(range(100, 110))
    )
    assert all(got[i] == f"n{i}-u" for i in range(10))       # update landed
    assert all(got[i] == f"n{i}" for i in range(10, 20))
    assert all(got[i] == f"n{i}" for i in range(100, 110))   # append landed


# --- MERGE-ON-READ UPDATE (mode='dv') -------------------------------------


def test_dv_update_rewrites_no_untouched_rows(spark, tmp_path):
    """mode='dv': matched rows are deletion-vectored in place; ONLY the
    updated rows land in new files — original data files stay byte-
    identical on disk."""
    table = str(tmp_path / "u")
    write_delta(_df(spark, 0, 100).repartition(2), table)
    snap0 = delta_snapshot(spark, table)
    orig = {rel for rel, _ in snap0.files}
    sizes0 = {
        rel: os.path.getsize(os.path.join(table, rel)) for rel in orig
    }
    v, n = delta_update(
        spark, table, "id % 10 = 3", {"name": "concat(name, '!')"}, mode="dv"
    )
    assert n == 10
    snap = delta_snapshot(spark, table)
    live = {rel for rel, _ in snap.files}
    assert orig <= live  # originals still live (re-added with DVs)
    new_files = live - orig
    assert new_files  # the updated rows' new home
    for rel in orig:  # data bytes untouched
        assert os.path.getsize(os.path.join(table, rel)) == sizes0[rel]
        assert snap.adds[rel].get("deletionVector")
    assert "deletionVectors" in set(snap.protocol.get("readerFeatures") or ())
    got = {r.id: r.name for r in read_delta(spark, table).collect()}
    assert len(got) == 100
    for i in range(100):
        assert got[i] == (f"n{i}!" if i % 10 == 3 else f"n{i}")


def test_dv_update_equals_rewrite_update(spark, tmp_path):
    """The two modes produce row-identical tables (including on a table
    already carrying DVs from a prior delete, where the new bitmap must
    UNION with the old)."""
    ta, tb = str(tmp_path / "a"), str(tmp_path / "b")
    for t in (ta, tb):
        write_delta(_df(spark, 0, 60).repartition(3), t)
        delta_delete(spark, t, "id % 7 = 0", mode="dv")  # prior DVs
    delta_update(spark, ta, "bucket = 4", {"name": "'four'"}, mode="dv")
    delta_update(spark, tb, "bucket = 4", {"name": "'four'"}, mode="rewrite")
    rows = lambda t: sorted(
        (r.id, r.bucket, r.name) for r in read_delta(spark, t).collect()
    )
    assert rows(ta) == rows(tb)
    # dead rows were NOT resurrected as updates
    assert all(i % 7 != 0 for i, _, _ in rows(ta))


def test_dv_update_cdf_matches_rewrite_cdf(spark, tmp_path):
    ta, tb = str(tmp_path / "a"), str(tmp_path / "b")
    conf = {"delta.enableChangeDataFeed": "true"}
    for t in (ta, tb):
        write_delta(_df(spark, 0, 30).coalesce(1), t, configuration=conf)
    delta_update(spark, ta, "id < 3", {"name": "upper(name)"}, mode="dv")
    delta_update(spark, tb, "id < 3", {"name": "upper(name)"}, mode="rewrite")
    feed = lambda t: sorted(
        (r._commit_version, r._change_type, r.id, r.name)
        for r in read_change_feed(spark, t, start_version=1).collect()
    )
    assert feed(ta) == feed(tb)
    assert len(feed(ta)) == 6  # 3 pre + 3 post


def test_dv_update_preserves_row_ids(spark, tmp_path):
    """Row-tracking + mode='dv': the updated rows move files but keep
    their ids (materialized), take the new commit version; untouched
    rows keep id AND version."""
    from pos_dlt_spark.sources.delta_rowtracking import read_delta_with_row_ids

    table = str(tmp_path / "rt")
    write_delta(
        _df(spark, 0, 20).coalesce(1), table,
        configuration={"delta.enableRowTracking": "true"},
    )
    before = {
        r.id: (r._row_id, r._row_commit_version)
        for r in read_delta_with_row_ids(spark, table).collect()
    }
    v, n = delta_update(spark, table, "id >= 18", {"name": "'x'"}, mode="dv")
    assert n == 2
    after = {
        r.id: (r._row_id, r._row_commit_version)
        for r in read_delta_with_row_ids(spark, table).collect()
    }
    for i in range(20):
        assert after[i][0] == before[i][0]  # ids stable
        assert after[i][1] == (v if i >= 18 else before[i][1])


def test_dv_update_mode_validation(spark, tmp_path):
    table = str(tmp_path / "u")
    write_delta(
        _df(spark, 0, 5).coalesce(1), table,
        configuration={
            "delta.enableRowTracking": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    with pytest.raises(ValueError, match="mode must be"):
        delta_update(spark, table, "id=1", {"name": "'x'"}, mode="nope")
    with pytest.raises(ValueError, match="mode='rewrite'"):
        delta_update(
            spark, table, "id=1", {"name": "'x'"}, mode="dv",
            write_change_files=False,
        )
