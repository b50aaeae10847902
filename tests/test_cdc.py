"""apply_changes sequence semantics (reference `03:379-384`; SURVEY §3.3):
intra-batch latest-per-key, out-of-order rejection, idempotent re-runs."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from pos_dlt_spark.operators.cdc import ApplyChanges, latest_per_key

KEYS = ["store_id", "item_id"]
COLS = ["store_id", "item_id", "date_time", "quantity"]


def df_of(spark, rows):
    return spark.createDataFrame(rows, COLS)


def as_dict(df):
    return {(r.store_id, r.item_id): (r.date_time, r.quantity) for r in df.collect()}


@pytest.fixture
def ac(tmp_path):
    return ApplyChanges(str(tmp_path / "target"), keys=KEYS, sequence_by="date_time")


def test_latest_per_key_picks_max_sequence(spark):
    df = df_of(
        spark,
        [
            (1, 1, datetime(2021, 1, 1), 10),
            (1, 1, datetime(2021, 1, 3), 30),
            (1, 1, datetime(2021, 1, 2), 20),
            (2, 1, datetime(2021, 1, 1), 5),
        ],
    )
    out = as_dict(latest_per_key(df, KEYS, "date_time"))
    assert out == {(1, 1): (datetime(2021, 1, 3), 30), (2, 1): (datetime(2021, 1, 1), 5)}


def test_merge_intra_batch_latest_and_insert(spark, ac):
    batch = df_of(
        spark,
        [
            (1, 1, datetime(2021, 1, 1), 10),
            (1, 1, datetime(2021, 1, 5), 50),  # later within same batch wins
            (2, 2, datetime(2021, 1, 2), 7),
        ],
    )
    out = as_dict(ac.merge(None, batch))
    assert out == {(1, 1): (datetime(2021, 1, 5), 50), (2, 2): (datetime(2021, 1, 2), 7)}


def test_merge_out_of_order_older_row_ignored(spark, ac):
    target = df_of(spark, [(1, 1, datetime(2021, 1, 5), 50)])
    older = df_of(spark, [(1, 1, datetime(2021, 1, 2), 99)])
    out = as_dict(ac.merge(target, older))
    assert out == {(1, 1): (datetime(2021, 1, 5), 50)}


def test_merge_newer_row_updates(spark, ac):
    target = df_of(spark, [(1, 1, datetime(2021, 1, 5), 50)])
    newer = df_of(spark, [(1, 1, datetime(2021, 1, 9), 70)])
    out = as_dict(ac.merge(target, newer))
    assert out == {(1, 1): (datetime(2021, 1, 9), 70)}


def test_merge_exact_tie_keeps_existing_target_row(spark, ac):
    target = df_of(spark, [(1, 1, datetime(2021, 1, 5), 50)])
    tie = df_of(spark, [(1, 1, datetime(2021, 1, 5), 99)])
    out = as_dict(ac.merge(target, tie))
    assert out == {(1, 1): (datetime(2021, 1, 5), 50)}


def test_merge_idempotent_reapply(spark, ac):
    batch = df_of(spark, [(1, 1, datetime(2021, 1, 5), 50), (2, 2, datetime(2021, 1, 2), 7)])
    once = ac.merge(None, batch)
    twice = ac.merge(once, batch)
    assert as_dict(once) == as_dict(twice)


def test_streaming_upsert_end_to_end(spark, tmp_path, ac):
    """Drive process_batch like foreachBatch would, across three epochs."""
    b1 = df_of(spark, [(1, 1, datetime(2021, 1, 1), 10), (1, 2, datetime(2021, 1, 1), 20)])
    b2 = df_of(spark, [(1, 1, datetime(2021, 1, 6), 60)])  # update
    b3 = df_of(spark, [(1, 1, datetime(2021, 1, 3), 99), (1, 3, datetime(2021, 1, 2), 30)])
    for i, b in enumerate([b1, b2, b3]):
        ac.process_batch(b, i)
    out = as_dict(spark.read.parquet(ac.target_path))
    assert out == {
        (1, 1): (datetime(2021, 1, 6), 60),  # out-of-order b3 row ignored
        (1, 2): (datetime(2021, 1, 1), 20),
        (1, 3): (datetime(2021, 1, 2), 30),
    }


def test_bucketed_merge_same_result_as_full_rewrite(spark, tmp_path):
    """n_buckets changes the storage/IO strategy only — final state must be
    identical to the full-rewrite mode across multi-batch out-of-order
    replay."""
    batches = [
        [(1, 1, datetime(2021, 1, 2), 20), (2, 2, datetime(2021, 1, 1), 5)],
        [(1, 1, datetime(2021, 1, 1), 10),  # out-of-order: must lose
         (3, 3, datetime(2021, 1, 4), 40)],
        [(2, 2, datetime(2021, 1, 9), 9), (1, 1, datetime(2021, 1, 8), 80)],
    ]
    full = ApplyChanges(str(tmp_path / "full"), keys=KEYS, sequence_by="date_time")
    buck = ApplyChanges(
        str(tmp_path / "buck"), keys=KEYS, sequence_by="date_time", n_buckets=4
    )
    for i, rows in enumerate(batches):
        full.process_batch(df_of(spark, rows), i)
        buck.process_batch(df_of(spark, rows), i)
    assert as_dict(full.read_target(spark)) == as_dict(buck.read_target(spark))
    assert as_dict(buck.read_target(spark)) == {
        (1, 1): (datetime(2021, 1, 8), 80),
        (2, 2): (datetime(2021, 1, 9), 9),
        (3, 3): (datetime(2021, 1, 4), 40),
    }


def test_bucketed_merge_leaves_untouched_buckets_alone(spark, tmp_path):
    """A batch touching one key must not rewrite parquet files in other
    buckets — the property that makes merge cost track batch key-spread
    instead of target size."""
    import glob
    import os as _os

    ac = ApplyChanges(
        str(tmp_path / "t"), keys=KEYS, sequence_by="date_time", n_buckets=8
    )
    # seed many keys so several buckets exist
    seed = [(k, k, datetime(2021, 1, 1), k) for k in range(1, 30)]
    ac.process_batch(df_of(spark, seed), 0)
    files_before = {
        f: _os.path.getmtime(f)
        for f in glob.glob(str(tmp_path / "t" / "epoch_*" / "__bucket=*" / "*.parquet"))
    }
    assert len({_os.path.dirname(f) for f in files_before}) > 1  # multiple buckets

    ac.process_batch(df_of(spark, [(1, 1, datetime(2021, 2, 1), 99)]), 1)
    files_after = {
        f: _os.path.getmtime(f)
        for f in glob.glob(str(tmp_path / "t" / "epoch_*" / "__bucket=*" / "*.parquet"))
    }
    # every seeded bucket file except the touched bucket's survives untouched
    # (same path, same mtime) — the touched one is superseded by the new epoch
    from pyspark.sql import functions as F

    touched = (
        df_of(spark, [(1, 1, datetime(2021, 2, 1), 99)])
        .select(F.pmod(F.hash("store_id", "item_id"), F.lit(8)).alias("b"))
        .collect()[0][0]
    )
    touched_suffix = f"__bucket={touched}"
    for f, mtime in files_before.items():
        if touched_suffix not in f:
            assert f in files_after and files_after[f] == mtime, f
    # and the merge actually landed
    assert as_dict(ac.read_target(spark))[(1, 1)] == (datetime(2021, 2, 1), 99)


def test_manifest_reader_racing_merge_sees_complete_state(spark, tmp_path):
    """A DataFrame resolved from the pre-merge manifest must stay fully
    readable (retention) while a merge commits, and must show the complete
    OLD state — never a half-merged mix. Re-resolving after the commit shows
    the complete NEW state."""
    ac = ApplyChanges(
        str(tmp_path / "t"), keys=KEYS, sequence_by="date_time", n_buckets=4
    )
    seed = [(k, k, datetime(2021, 1, 1), k) for k in range(1, 20)]
    ac.process_batch(df_of(spark, seed), 0)

    reader_df = ac.read_target(spark)  # resolves manifest v0's paths NOW
    update = [(k, k, datetime(2021, 2, 1), 100 + k) for k in range(1, 20)]
    ac.process_batch(df_of(spark, update), 1)  # touches every bucket

    old = as_dict(reader_df)  # scan runs AFTER the commit, against v0 paths
    assert old == {(k, k): (datetime(2021, 1, 1), k) for k in range(1, 20)}
    new = as_dict(ac.read_target(spark))
    assert new == {(k, k): (datetime(2021, 2, 1), 100 + k) for k in range(1, 20)}


def test_manifest_bucket_spec_mismatch_fails_fast(spark, tmp_path):
    """Changing n_buckets (or dropping it) against an existing bucketed
    target must raise, not silently strand stale rows in re-routed buckets."""
    path = str(tmp_path / "t")
    ApplyChanges(path, keys=KEYS, sequence_by="date_time", n_buckets=4).process_batch(
        df_of(spark, [(1, 1, datetime(2021, 1, 1), 10)]), 0
    )
    with pytest.raises(ValueError, match="bucket spec mismatch"):
        ApplyChanges(path, keys=KEYS, sequence_by="date_time", n_buckets=8).process_batch(
            df_of(spark, [(1, 1, datetime(2021, 1, 2), 20)]), 1
        )
    with pytest.raises(ValueError, match="bucketed .manifest. table"):
        ApplyChanges(path, keys=KEYS, sequence_by="date_time").process_batch(
            df_of(spark, [(1, 1, datetime(2021, 1, 2), 20)]), 1
        )


def test_manifest_gc_keeps_exactly_one_retired_generation(spark, tmp_path):
    """Buckets superseded by commit N are deleted at commit N+1 — one
    generation of retention for in-flight readers, no unbounded growth."""
    import json as _json
    import os as _os

    ac = ApplyChanges(
        str(tmp_path / "t"), keys=KEYS, sequence_by="date_time", n_buckets=2
    )
    for i in range(4):  # same key every time → same bucket rewritten 4×
        ac.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 1 + i), i)]), i)
    manifest = _json.load(open(tmp_path / "t" / "_manifest.json"))
    live = {_os.path.join(str(tmp_path / "t"), p) for p in manifest["buckets"].values()}
    retired = {_os.path.join(str(tmp_path / "t"), p) for p in manifest["retired"]}
    on_disk = {
        _os.path.join(str(tmp_path / "t"), e, b)
        for e in _os.listdir(tmp_path / "t")
        if e.startswith("epoch_")
        for b in _os.listdir(tmp_path / "t" / e)
        if b.startswith("__bucket=")
    }
    assert on_disk == live | retired  # nothing older than one generation
    assert as_dict(ac.read_target(spark)) == {(1, 1): (datetime(2021, 1, 4), 3)}


def test_bucketed_gc_leaves_no_marker_only_epoch_dir(spark, tmp_path):
    """Once retention has passed, an epoch directory whose buckets were
    collected goes too — Hadoop's hidden ``._SUCCESS.crc`` beside
    ``_SUCCESS`` is a job marker like it — and a delete that empties its
    only bucket leaves no ``delete_g*`` directory behind."""
    import json as _json
    import os as _os

    root = tmp_path / "t"
    ac = ApplyChanges(str(root), keys=KEYS, sequence_by="date_time", n_buckets=2)
    for i in range(3):  # same key every time → same bucket rewritten
        ac.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 1 + i), i)]), i)
    doomed = spark.createDataFrame([(1, 1)], "store_id long, item_id long")
    assert ac.delete_keys(spark, doomed) == 1
    for i in range(3, 6):
        ac.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 1 + i), i)]), i)
    manifest = _json.load(open(root / "_manifest.json"))
    referenced = {
        p.split("/")[0] for p in [*manifest["buckets"].values(), *manifest["retired"]]
    }
    on_disk = {e for e in _os.listdir(root) if e.startswith(("epoch_", "delete_g"))}
    assert on_disk == referenced


def test_time_travel_previous_snapshot(spark, tmp_path):
    """read_target(previous=True) = the state as of one commit back; the
    window slides with each commit and the oldest generation's dirs are
    GC'd exactly when they leave the window."""
    ac = ApplyChanges(
        str(tmp_path / "tt"), keys=KEYS, sequence_by="date_time", n_buckets=4
    )
    assert ac.read_target(spark) is None
    ac.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 1), 10)]), 0)
    assert ac.read_target(spark, previous=True) is None  # no prior commit
    ac.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 2), 20),
                                   (2, 2, datetime(2021, 1, 2), 5)]), 1)
    assert as_dict(ac.read_target(spark)) == {
        (1, 1): (datetime(2021, 1, 2), 20),
        (2, 2): (datetime(2021, 1, 2), 5),
    }
    assert as_dict(ac.read_target(spark, previous=True)) == {
        (1, 1): (datetime(2021, 1, 1), 10),
    }
    ac.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 3), 30)]), 2)
    assert as_dict(ac.read_target(spark, previous=True)) == {
        (1, 1): (datetime(2021, 1, 2), 20),
        (2, 2): (datetime(2021, 1, 2), 5),
    }


def test_time_travel_rejects_unbucketed(spark, tmp_path):
    ac = ApplyChanges(str(tmp_path / "flat"), keys=KEYS, sequence_by="date_time")
    ac.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 1), 10)]), 0)
    with pytest.raises(ValueError, match="no snapshot history"):
        ac.read_target(spark, previous=True)


def test_schema_evolution_bucketed(spark, tmp_path):
    """merge_schema=True: a later batch may add columns; old rows read
    null, the manifest pins the evolved schema, untouched old bucket dirs
    stay readable without mergeSchema footer scans."""
    ac = ApplyChanges(
        str(tmp_path / "ev"), keys=KEYS, sequence_by="date_time",
        n_buckets=4, merge_schema=True,
    )
    ac.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 1), 10),
                                   (2, 2, datetime(2021, 1, 1), 5)]), 0)
    evolved = df_of(spark, [(3, 3, datetime(2021, 1, 2), 30)]).withColumn(
        "origin", F.lit("belgium")
    )
    ac.process_batch(evolved, 1)
    out = ac.read_target(spark)
    assert "origin" in out.columns
    rows = {(r["store_id"], r["item_id"]): r["origin"] for r in out.collect()}
    assert rows[(3, 3)] == "belgium"
    assert rows[(1, 1)] is None and rows[(2, 2)] is None
    # next batch WITHOUT the new column still merges (nulls for it)
    ac.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 5), 99)]), 2)
    out2 = {(r["store_id"], r["item_id"]): (r["quantity"], r["origin"])
            for r in ac.read_target(spark).collect()}
    assert out2[(1, 1)] == (99, None)
    assert out2[(3, 3)] == (30, "belgium")


def test_schema_drift_fails_fast_without_flag(spark, tmp_path):
    for extra in ({}, {"n_buckets": 4}):
        ac = ApplyChanges(
            str(tmp_path / f"strict{len(extra)}"), keys=KEYS,
            sequence_by="date_time", **extra,
        )
        ac.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 1), 10)]), 0)
        evolved = df_of(spark, [(2, 2, datetime(2021, 1, 2), 20)]).withColumn(
            "origin", F.lit("x")
        )
        with pytest.raises(Exception, match="drift|resolve|missing"):
            if extra:
                ac._process_batch_bucketed(evolved, 1)
            else:
                ac.merge(ac.read_target(spark), evolved)


def test_retention_n_generations_time_travel_and_gc(spark, tmp_path):
    """retention=3: any of the last 3 prior generations is readable via
    read_target(version=...), older ones raise, and their dirs are GC'd
    exactly when they leave the window (Delta VACUUM semantics in commit
    units)."""
    import json as _json
    import os as _os

    root = tmp_path / "ret"
    ac = ApplyChanges(
        str(root), keys=KEYS, sequence_by="date_time", n_buckets=2, retention=3
    )
    for i in range(6):  # versions 0..5, same key -> same bucket rewritten
        ac.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 1 + i), i)]), i)

    # current = v5; v4, v3, v2 retained; v1 and older out of window
    assert as_dict(ac.read_target(spark)) == {(1, 1): (datetime(2021, 1, 6), 5)}
    for v in (4, 3, 2):
        assert as_dict(ac.read_target(spark, version=v)) == {
            (1, 1): (datetime(2021, 1, 1 + v), v)
        }
    assert as_dict(ac.read_target(spark, version=5)) == as_dict(ac.read_target(spark))
    with pytest.raises(ValueError, match="not retained"):
        ac.read_target(spark, version=1)
    # previous=True == version=current-1
    assert as_dict(ac.read_target(spark, previous=True)) == {
        (1, 1): (datetime(2021, 1, 5), 4)
    }

    # disk holds exactly the live + retained-generation dirs, nothing older
    manifest = _json.load(open(root / "_manifest.json"))
    referenced = set(manifest["buckets"].values())
    for entry in manifest["history"]:
        referenced |= set(entry["buckets"].values())
    on_disk = {
        _os.path.join(e, b)
        for e in _os.listdir(root)
        if e.startswith("epoch_")
        for b in _os.listdir(root / e)
        if b.startswith("__bucket=")
    }
    assert on_disk == referenced
    assert len(manifest["history"]) == 3


def test_retention_default_matches_old_one_generation_manifest(spark, tmp_path):
    """A pre-retention manifest (prev_buckets/retired, no history) is read
    and upgraded in place: the next commit preserves its one prior
    generation and GC's its retired dirs on schedule."""
    import json as _json

    root = tmp_path / "legacy"
    ac = ApplyChanges(str(root), keys=KEYS, sequence_by="date_time", n_buckets=2)
    ac.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 1), 10)]), 0)
    ac.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 2), 20)]), 1)
    # rewrite the manifest in the legacy shape (drop the new fields)
    mpath = root / "_manifest.json"
    m = _json.load(open(mpath))
    for k in ("history", "retired_log"):
        m.pop(k, None)
    _json.dump(m, open(mpath, "w"))
    ac2 = ApplyChanges(str(root), keys=KEYS, sequence_by="date_time", n_buckets=2)
    assert as_dict(ac2.read_target(spark, previous=True)) == {
        (1, 1): (datetime(2021, 1, 1), 10)
    }
    ac2.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 3), 30)]), 2)
    assert as_dict(ac2.read_target(spark, previous=True)) == {
        (1, 1): (datetime(2021, 1, 2), 20)
    }


def test_retention_validation():
    with pytest.raises(ValueError, match="retention"):
        ApplyChanges("/tmp/x", keys=KEYS, sequence_by="date_time", retention=0)


def test_unbucketed_crash_between_renames_recovers(spark, tmp_path):
    """Crash window in the unbucketed write-then-swap: live state stranded
    in .__old with no target dir. The next batch must heal it and merge
    against the pre-crash state, not an empty target."""
    import os as _os

    path = str(tmp_path / "crash")
    ac = ApplyChanges(path, keys=KEYS, sequence_by="date_time")
    ac.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 1), 10)]), 0)
    # simulate the crash: target renamed away, replacement never landed
    _os.rename(path, path + ".__old")
    ac.process_batch(df_of(spark, [(2, 2, datetime(2021, 1, 2), 5)]), 1)
    assert as_dict(ac.read_target(spark)) == {
        (1, 1): (datetime(2021, 1, 1), 10),
        (2, 2): (datetime(2021, 1, 2), 5),
    }


def test_apply_as_deletes_and_except_columns(spark, tmp_path):
    """DLT's apply_as_deletes + except_column_list: a delete tombstone
    that wins the sequence ordering removes the key; an out-of-order
    older delete loses to the newer target row; the op marker never
    reaches the stored state."""
    ac = ApplyChanges(
        str(tmp_path / "t"),
        keys=KEYS,
        sequence_by="date_time",
        apply_as_deletes="op = 'DELETE'",
        except_column_list=["op"],
    )
    opcols = COLS + ["op"]

    def dfo(rows):
        return spark.createDataFrame(rows, opcols)

    t1 = datetime(2021, 1, 1)
    t2 = datetime(2021, 1, 2)
    t3 = datetime(2021, 1, 3)
    state = ac.merge(None, dfo([
        (1, "a", t1, 10, "UPSERT"),
        (1, "b", t1, 20, "UPSERT"),
        (2, "a", t1, 30, "UPSERT"),
    ]))
    assert "op" not in state.columns
    # newer delete for (1,a); STALE delete for (2,a) must lose
    state = ac.merge(state, dfo([
        (1, "a", t2, 0, "DELETE"),
        (2, "a", datetime(2020, 1, 1), 0, "DELETE"),
        (1, "b", t2, 25, "UPSERT"),
    ]))
    got = as_dict(state)
    assert got == {(1, "b"): (t2, 25), (2, "a"): (t1, 30)}
    # the deleted key re-inserts on a genuinely NEWER update
    state = ac.merge(state, dfo([(1, "a", t3, 99, "UPSERT")]))
    assert as_dict(state)[(1, "a")] == (t3, 99)
    # intra-batch: delete then newer upsert in ONE batch -> upsert wins
    state = ac.merge(state, dfo([
        (2, "a", t2, 0, "DELETE"),
        (2, "a", t3, 55, "UPSERT"),
    ]))
    assert as_dict(state)[(2, "a")] == (t3, 55)
    # ...and delete newest in-batch -> key gone
    state = ac.merge(state, dfo([
        (1, "b", t3, 77, "UPSERT"),
        (1, "b", datetime(2021, 1, 4), 0, "DELETE"),
    ]))
    assert (1, "b") not in as_dict(state)


def test_apply_as_deletes_streaming_end_to_end(spark, tmp_path):
    """foreachBatch path with tombstones: the stored parquet state holds
    only surviving keys and no op column."""
    import os

    target = str(tmp_path / "t2")
    ac = ApplyChanges(
        target, keys=KEYS, sequence_by="date_time",
        apply_as_deletes="op = 'DELETE'", except_column_list=["op"],
    )
    t1, t2 = datetime(2021, 1, 1), datetime(2021, 1, 2)
    b0 = spark.createDataFrame(
        [(1, "a", t1, 10, "UPSERT"), (1, "b", t1, 20, "UPSERT")], COLS + ["op"]
    )
    ac.process_batch(b0, 0)
    b1 = spark.createDataFrame([(1, "a", t2, 0, "DELETE")], COLS + ["op"])
    ac.process_batch(b1, 1)
    got = spark.read.parquet(target)
    assert "op" not in got.columns
    rows = {(r.store_id, r.item_id) for r in got.collect()}
    assert rows == {(1, "b")}


# ----------------------------------------------------------------------
# SCD TYPE 2 maintained targets (VERDICT r10 #1: DLT stored_as_scd_type=2)
# ----------------------------------------------------------------------


def _hist(df):
    """(key..., seq, value, start, end) tuples, sorted."""
    return sorted(
        (r.store_id, r.item_id, r.date_time, r.quantity,
         r["__START_AT"], r["__END_AT"])
        for r in df.collect()
    )


def test_scd2_merge_versions_and_out_of_order(spark, tmp_path):
    """Every change is a version row with [__START_AT, __END_AT); an
    out-of-order row inserts into the MIDDLE of a history and re-bounds
    its neighbors — the case SCD1 drops by design."""
    ac = ApplyChanges(
        str(tmp_path / "t"), keys=KEYS, sequence_by="date_time",
        stored_as_scd_type=2,
    )
    t1, t2, t3 = datetime(2021, 1, 1), datetime(2021, 1, 2), datetime(2021, 1, 3)
    s = ac.merge(None, df_of(spark, [(1, 1, t1, 10), (1, 1, t3, 30)]))
    assert _hist(s) == [(1, 1, t1, 10, t1, t3), (1, 1, t3, 30, t3, None)]
    # late middle version: both neighbors re-bound
    s = ac.merge(s, df_of(spark, [(1, 1, t2, 20)]))
    assert _hist(s) == [
        (1, 1, t1, 10, t1, t2),
        (1, 1, t2, 20, t2, t3),
        (1, 1, t3, 30, t3, None),
    ]


def test_scd2_idempotent_rerun_and_replay(spark, tmp_path):
    """Re-running a batch (foreachBatch retry) and replaying already-seen
    rows must not duplicate versions — version identity is the full
    tuple."""
    ac = ApplyChanges(
        str(tmp_path / "t"), keys=KEYS, sequence_by="date_time",
        stored_as_scd_type=2,
    )
    t1, t2 = datetime(2021, 1, 1), datetime(2021, 1, 2)
    b1 = df_of(spark, [(1, 1, t1, 10), (2, 2, t1, 5)])
    b2 = df_of(spark, [(1, 1, t2, 20), (1, 1, t1, 10)])  # replays (1,1,t1)
    s = ac.merge(ac.merge(None, b1), b2)
    expect = [
        (1, 1, t1, 10, t1, t2),
        (1, 1, t2, 20, t2, None),
        (2, 2, t1, 5, t1, None),
    ]
    assert _hist(s) == expect
    assert _hist(ac.merge(s, b2)) == expect  # rerun: no change


def test_scd2_streaming_end_to_end_matches_batch_oracle(spark, tmp_path):
    """process_batch across epochs == scd2_history over the union of all
    batches (the batch operator is the oracle, same as the VERDICT's gate
    contract)."""
    from pos_dlt_spark.operators.cdc import scd2_history

    ac = ApplyChanges(
        str(tmp_path / "t"), keys=KEYS, sequence_by="date_time",
        stored_as_scd_type=2,
    )
    batches = [
        [(1, 1, datetime(2021, 1, 2), 20), (2, 2, datetime(2021, 1, 1), 5)],
        [(1, 1, datetime(2021, 1, 1), 10), (3, 3, datetime(2021, 1, 4), 40)],
        [(2, 2, datetime(2021, 1, 9), 9), (1, 1, datetime(2021, 1, 8), 80)],
    ]
    for i, rows in enumerate(batches):
        ac.process_batch(df_of(spark, rows), i)
    got = _hist(ac.read_target(spark))
    all_rows = df_of(spark, [r for b in batches for r in b]).distinct()
    oracle = scd2_history(all_rows, KEYS, "date_time").select(
        *COLS,
        F.col("valid_from").alias("__START_AT"),
        F.col("valid_to").alias("__END_AT"),
    )
    assert got == _hist(oracle)


def test_scd2_bucketed_matches_unbucketed(spark, tmp_path):
    """The bucketed manifest engine must converge to the identical
    history, and untouched buckets must not be rewritten."""
    import glob
    import os as _os

    batches = [
        [(k, k, datetime(2021, 1, 1), k) for k in range(1, 30)],
        [(1, 1, datetime(2021, 1, 5), 99)],
        [(1, 1, datetime(2021, 1, 3), 50), (2, 2, datetime(2021, 1, 6), 7)],
    ]
    full = ApplyChanges(
        str(tmp_path / "f"), keys=KEYS, sequence_by="date_time",
        stored_as_scd_type=2,
    )
    buck = ApplyChanges(
        str(tmp_path / "b"), keys=KEYS, sequence_by="date_time",
        stored_as_scd_type=2, n_buckets=8,
    )
    for i, rows in enumerate(batches):
        full.process_batch(df_of(spark, rows), i)
        buck.process_batch(df_of(spark, rows), i)
    assert _hist(full.read_target(spark)) == _hist(buck.read_target(spark))
    # key (1,1) has three versions, middle one out-of-order
    t = dict()
    for r in buck.read_target(spark).filter("store_id = 1").collect():
        t[r.date_time] = (r.quantity, r["__END_AT"])
    assert t == {
        datetime(2021, 1, 1): (1, datetime(2021, 1, 3)),
        datetime(2021, 1, 3): (50, datetime(2021, 1, 5)),
        datetime(2021, 1, 5): (99, None),
    }
    # partial rewrite: a batch touching one key leaves other buckets alone
    files_before = {
        f: _os.path.getmtime(f)
        for f in glob.glob(str(tmp_path / "b" / "epoch_*" / "__bucket=*" / "*.parquet"))
    }
    buck.process_batch(df_of(spark, [(1, 1, datetime(2021, 2, 1), 1)]), 3)
    manifest = buck._read_manifest()
    touched_rel = {p for p in manifest["buckets"].values() if "epoch_3" in p}
    assert len(touched_rel) == 1, "one key must touch exactly one bucket"
    for f, mt in files_before.items():
        if _os.path.exists(f):
            assert _os.path.getmtime(f) == mt, f"untouched bucket rewritten: {f}"


def test_scd2_tombstone_closes_and_later_version_reopens(spark, tmp_path):
    """apply_as_deletes under SCD2: a winning tombstone CLOSES the open
    interval (no visible version added); tombstones are retained in
    storage, so an OLDER row arriving in a later batch slots into
    history without resurrecting the key's currency — and a NEWER
    version after the delete reopens the key."""
    ac = ApplyChanges(
        str(tmp_path / "t"), keys=KEYS, sequence_by="date_time",
        apply_as_deletes="op = 'DELETE'", except_column_list=["op"],
        stored_as_scd_type=2,
    )
    t1, t2, t3, t4 = (datetime(2021, 1, d) for d in (1, 2, 3, 4))
    cols = COLS + ["op"]
    b0 = spark.createDataFrame([(1, 1, t1, 10, "U")], cols)
    b1 = spark.createDataFrame([(1, 1, t3, 0, "DELETE")], cols)
    ac.process_batch(b0, 0)
    ac.process_batch(b1, 1)
    vis = ac.read_target(spark)
    assert "__tombstone" not in vis.columns and "op" not in vis.columns
    assert _hist(vis) == [(1, 1, t1, 10, t1, t3)]  # closed, no current row
    # late OLDER version (cross-batch out-of-order): inserts BEFORE the
    # tombstone; the key stays non-current
    ac.process_batch(spark.createDataFrame([(1, 1, t2, 20, "U")], cols), 2)
    assert _hist(ac.read_target(spark)) == [
        (1, 1, t1, 10, t1, t2),
        (1, 1, t2, 20, t2, t3),
    ]
    # newer version after the delete reopens the key
    ac.process_batch(spark.createDataFrame([(1, 1, t4, 40, "U")], cols), 3)
    assert _hist(ac.read_target(spark)) == [
        (1, 1, t1, 10, t1, t2),
        (1, 1, t2, 20, t2, t3),
        (1, 1, t4, 40, t4, None),
    ]


def test_scd2_layout_mismatch_fails_fast(spark, tmp_path):
    """An SCD1 flow pointed at an SCD2 manifest target (or vice versa)
    refuses instead of silently merging incompatible schemas."""
    t = str(tmp_path / "t")
    ac2 = ApplyChanges(
        t, keys=KEYS, sequence_by="date_time", n_buckets=4,
        stored_as_scd_type=2,
    )
    ac2.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 1), 10)]), 0)
    ac1 = ApplyChanges(t, keys=KEYS, sequence_by="date_time", n_buckets=4)
    with pytest.raises(ValueError, match="SCD-type mismatch"):
        ac1.process_batch(df_of(spark, [(1, 1, datetime(2021, 1, 2), 20)]), 1)
    with pytest.raises(ValueError):
        ApplyChanges(t, keys=KEYS, sequence_by="date_time",
                     stored_as_scd_type=3)


def test_scd2_track_history_except_columns(spark, tmp_path):
    """DLT track_history_except_column_list: a change touching only
    untracked columns does not open a version — the current row updates
    in place (latest untracked values, original __START_AT); tracked
    changes still version; the collapse is idempotent under replays and
    out-of-order arrivals."""
    from pos_dlt_spark.operators.cdc import ApplyChanges

    ac = ApplyChanges(
        str(tmp_path / "t"), keys=["k"], sequence_by="seq",
        stored_as_scd_type=2, track_history_except_column_list=["note"],
    )
    cols = "k int, seq int, v string, note string"
    b1 = spark.createDataFrame(
        [(1, 10, "a", "n1"), (1, 20, "a", "n2"), (1, 30, "b", "n3")], cols
    )
    ac.process_batch(b1, 0)
    got = sorted(
        (r["k"], r["v"], r["note"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    assert got == [(1, "a", "n2", 10, 30), (1, "b", "n3", 30, None)], got
    # out-of-order untracked-only row inside the first run: absorbed —
    # no new version, same __START_AT. Its note value wins update-in-place
    # because the collapsed stored row keeps only the run START's sequence
    # (the seq-20 provenance of 'n2' is gone after collapse — the same
    # information loss DLT's update-in-place has).
    ac.process_batch(
        spark.createDataFrame([(1, 15, "a", "nX")], cols), 1
    )
    got2 = sorted(
        (r["k"], r["v"], r["note"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    assert got2 == [(1, "a", "nX", 10, 30), (1, "b", "n3", 30, None)], got2
    # replaying batch 0 re-introduces the seq-20 'n2' row, whose LATER
    # sequence reclaims the update-in-place slot from the seq-15 'nX' —
    # the replay is order-insensitive over the retained version set
    ac.process_batch(b1, 2)
    got3 = sorted(
        (r["k"], r["v"], r["note"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    assert got3 == [(1, "a", "n2", 10, 30), (1, "b", "n3", 30, None)], got3
    # and replaying the SAME state again is a fixpoint
    ac.process_batch(b1, 3)
    got4 = sorted(
        (r["k"], r["v"], r["note"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    assert got4 == got3
    # SCD1 + track history refuses; tracked set mismatch refuses
    with pytest.raises(ValueError, match="stored_as_scd_type=2"):
        ApplyChanges(str(tmp_path / "x"), keys=["k"], sequence_by="seq",
                     track_history_except_column_list=["note"])


def test_scd2_track_history_bucketed_manifest_pins_list(spark, tmp_path):
    from pos_dlt_spark.operators.cdc import ApplyChanges

    t = str(tmp_path / "t")
    cols = "k int, seq int, v string, note string"
    ac = ApplyChanges(t, keys=["k"], sequence_by="seq", n_buckets=4,
                      stored_as_scd_type=2,
                      track_history_except_column_list=["note"])
    ac.process_batch(spark.createDataFrame(
        [(1, 10, "a", "n1"), (1, 20, "a", "n2")], cols), 0)
    got = sorted(
        (r["k"], r["v"], r["note"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    assert got == [(1, "a", "n2", 10, None)], got
    bad = ApplyChanges(t, keys=["k"], sequence_by="seq", n_buckets=4,
                       stored_as_scd_type=2)
    with pytest.raises(ValueError, match="track_history_except"):
        bad.process_batch(spark.createDataFrame([(1, 30, "b", "n")], cols), 1)


def test_apply_changes_from_snapshot_scd2(spark, tmp_path):
    """DLT apply_changes_from_snapshot: diffing successive FULL snapshots
    — inserts open versions, tracked changes close+open, untracked-only
    changes refresh in place, keys absent from a snapshot close, replays
    and out-of-order versions are no-ops, and a deleted key re-appearing
    later reopens."""
    from pos_dlt_spark.operators.cdc import ApplyChangesFromSnapshot

    ac = ApplyChangesFromSnapshot(
        str(tmp_path / "t"), keys=["k"], stored_as_scd_type=2,
        track_history_except_column_list=["note"],
    )
    cols = "k int, v string, note string"
    s1 = spark.createDataFrame([(1, "a", "n1"), (2, "b", "n1"), (3, "c", "n1")], cols)
    s2 = spark.createDataFrame([(1, "a2", "n1"), (2, "b", "n2")], cols)
    assert ac.process_snapshot(s1, 1)
    assert ac.process_snapshot(s2, 2)
    got = sorted(
        (r["k"], r["v"], r["note"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    assert got == [
        (1, "a", "n1", 1, 2), (1, "a2", "n1", 2, None),
        (2, "b", "n2", 1, None),
        (3, "c", "n1", 1, 2),
    ], got
    assert not ac.process_snapshot(s2, 2)   # replay
    assert not ac.process_snapshot(s1, 1)   # out of order
    # key 3 returns in snapshot 3: a NEW version opens at 3
    s3 = spark.createDataFrame([(1, "a2", "n1"), (2, "b", "n2"), (3, "c9", "n9")], cols)
    assert ac.process_snapshot(s3, 3)
    k3 = sorted(
        (r["v"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).filter("k = 3").collect()
    )
    assert k3 == [("c", 1, 2), ("c9", 3, None)], k3


def test_apply_changes_from_snapshot_pipeline_flow(spark, tmp_path):
    """Pipeline wiring: apply_changes_from_snapshot targets refresh once
    per update with the ledger's update id as the snapshot version."""
    import json as _json
    import os

    from pos_dlt_spark.pipeline import Pipeline, PipelineRunner

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    pipe = Pipeline("snapflow", str(tmp_path / "storage"))

    @pipe.table(kind="live")
    def dim(spark_):
        return spark_.read.schema("k INT, v STRING").json(src_dir)

    pipe.apply_changes_from_snapshot(
        target="dim_history", source="dim", keys=["k"], stored_as_scd_type=2
    )
    runner = PipelineRunner(pipe)
    with open(os.path.join(src_dir, "s.json"), "w") as fh:
        fh.write("\n".join(_json.dumps(r) for r in [
            {"k": 1, "v": "a"}, {"k": 2, "v": "b"}]))
    runner.run_once(spark)
    with open(os.path.join(src_dir, "s.json"), "w") as fh:
        fh.write(_json.dumps({"k": 1, "v": "a2"}))
    runner.run_once(spark)
    got = sorted(
        (r["k"], r["v"], r["__START_AT"], r["__END_AT"])
        for r in pipe.read(spark, "dim_history").collect()
    )
    assert got == [(1, "a", 0, 1), (1, "a2", 1, None), (2, "b", 0, 1)], got
    ev = pipe.event_log(spark).filter(
        "event_type = 'flow_complete' AND table_name = 'dim_history'"
    ).collect()
    details = sorted(
        (r["update_id"], __import__("json").loads(r["details"])["snapshot_version"])
        for r in ev
    )
    assert details == [(0, 0), (1, 1)], details


def test_ignore_null_updates_scd1(spark, tmp_path):
    """DLT ignore_null_updates: NULL in a source column means 'keep the
    previous value' — partial updates chain through the sequence order,
    and the unbucketed and bucketed engines agree."""
    from pos_dlt_spark.operators.cdc import ApplyChanges

    cols = "k int, seq int, a string, b string"
    batches = [
        [(1, 1, "a1", "b1"), (2, 1, "a2", "b2")],
        [(1, 2, None, "B1"), (2, 2, "A2", None)],   # partial updates
        [(1, 3, "AA1", None), (3, 3, None, "b3")],  # chained; new key w/ null
    ]
    expect = {
        (1, 3, "AA1", "B1"),  # a from seq3, b survived from seq2
        (2, 2, "A2", "b2"),   # b survived from seq1
        (3, 3, None, "b3"),   # no prior value to inherit
    }
    for nb in (None, 4):
        ac = ApplyChanges(
            str(tmp_path / f"t{nb}"), keys=["k"], sequence_by="seq",
            n_buckets=nb, ignore_null_updates=True,
        )
        for i, rows in enumerate(batches):
            ac.process_batch(spark.createDataFrame(rows, cols), i)
        got = {
            (r["k"], r["seq"], r["a"], r["b"])
            for r in ac.read_target(spark).collect()
        }
        assert got == expect, (nb, got)
    # intra-batch chaining: two partial updates in ONE batch compose
    ac2 = ApplyChanges(
        str(tmp_path / "t1b"), keys=["k"], sequence_by="seq",
        ignore_null_updates=True,
    )
    ac2.process_batch(
        spark.createDataFrame(
            [(1, 1, "a", None), (1, 2, None, "b"), (1, 3, None, None)], cols
        ),
        0,
    )
    got = [
        (r["k"], r["seq"], r["a"], r["b"])
        for r in ac2.read_target(spark).collect()
    ]
    assert got == [(1, 3, "a", "b")], got


def test_ignore_null_updates_scd2_versions_inherit(spark, tmp_path):
    """SCD2 + ignore_null_updates: each version's NULL columns inherit
    from the previous version; replaying the raw null-bearing rows does
    not duplicate versions (version-identity dedupe)."""
    from pos_dlt_spark.operators.cdc import ApplyChanges

    ac = ApplyChanges(
        str(tmp_path / "t"), keys=["k"], sequence_by="seq",
        stored_as_scd_type=2, ignore_null_updates=True,
    )
    cols = "k int, seq int, a string, b string"
    b1 = spark.createDataFrame([(1, 1, "a1", "b1"), (1, 2, None, "b2")], cols)
    ac.process_batch(b1, 0)
    got = sorted(
        (r["seq"], r["a"], r["b"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    assert got == [(1, "a1", "b1", 1, 2), (2, "a1", "b2", 2, None)], got
    ac.process_batch(b1, 1)  # replay: no duplicate versions
    got2 = sorted(
        (r["seq"], r["a"], r["b"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    assert got2 == got, got2


def test_column_list_projection_and_validation(spark, tmp_path):
    """DLT column_list: positive projection of the stored state; keys and
    sequence_by must be listed; mutually exclusive with
    except_column_list."""
    from pos_dlt_spark.operators.cdc import ApplyChanges

    ac = ApplyChanges(
        str(tmp_path / "t"), keys=["k"], sequence_by="seq",
        column_list=["k", "seq", "v"],
        apply_as_deletes="op = 'D'",
    )
    cols = "k int, seq int, v string, junk string, op string"
    ac.process_batch(
        spark.createDataFrame(
            [(1, 1, "x", "noise", "U"), (2, 1, "y", "noise", "D")], cols
        ),
        0,
    )
    df = ac.read_target(spark)
    assert set(df.columns) == {"k", "seq", "v"}
    assert {(r["k"], r["v"]) for r in df.collect()} == {(1, "x")}
    with pytest.raises(ValueError, match="mutually exclusive"):
        ApplyChanges(str(tmp_path / "x"), keys=["k"], sequence_by="seq",
                     column_list=["k", "seq"], except_column_list=["v"])
    with pytest.raises(ValueError, match="must include keys"):
        ApplyChanges(str(tmp_path / "y"), keys=["k"], sequence_by="seq",
                     column_list=["seq", "v"])


def test_bucketed_apply_as_deletes_and_except(spark, tmp_path):
    """The bucketed manifest engine honors apply_as_deletes +
    except_column_list (r11 — previously only the unbucketed path did):
    a winning tombstone removes its key from its bucket, the op marker
    never reaches storage, and a stale tombstone loses."""
    from pos_dlt_spark.operators.cdc import ApplyChanges

    ac = ApplyChanges(
        str(tmp_path / "t"), keys=["k"], sequence_by="seq", n_buckets=4,
        apply_as_deletes="op = 'D'", except_column_list=["op"],
    )
    cols = "k int, seq int, v string, op string"
    ac.process_batch(
        spark.createDataFrame(
            [(1, 1, "a", "U"), (2, 1, "b", "U"), (3, 1, "c", "U")], cols
        ),
        0,
    )
    ac.process_batch(
        spark.createDataFrame(
            [(1, 2, "", "D"), (2, 0, "", "D"), (3, 2, "c2", "U")], cols
        ),
        1,
    )
    df = ac.read_target(spark)
    assert "op" not in df.columns
    got = {(r["k"], r["v"]) for r in df.collect()}
    # key 1 deleted (newer tombstone); key 2 survives (stale tombstone);
    # key 3 updated
    assert got == {(2, "b"), (3, "c2")}, got


# -- ADVICE r11 regressions -------------------------------------------------


def test_snapshot_swap_crash_recovery(spark, tmp_path):
    """ADVICE r11 (cdc.py _swap_in): a crash between the swap's two
    renames strands the live state in `.__old` with no target dir; the
    next process_snapshot must RESTORE it, not silently re-seed from
    the snapshot alone (which would lose all closed SCD2 history)."""
    import os
    import shutil

    from pos_dlt_spark.operators.cdc import ApplyChangesFromSnapshot

    t = str(tmp_path / "t")
    ac = ApplyChangesFromSnapshot(t, keys=["k"], stored_as_scd_type=2)
    cols = "k int, v string"
    ac.process_snapshot(spark.createDataFrame([(1, "a"), (2, "b")], cols), 1)
    ac.process_snapshot(spark.createDataFrame([(1, "a2"), (2, "b")], cols), 2)
    # simulate the crash: target renamed away, replacement never landed
    os.rename(t, t + ".__old")
    assert not os.path.exists(t)
    # read path heals
    got = sorted(
        (r["k"], r["v"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    assert got == [(1, "a", 1, 2), (1, "a2", 2, None), (2, "b", 1, None)], got
    # crash again; the write path must also heal BEFORE classifying keys
    os.rename(t, t + ".__old")
    ac.process_snapshot(spark.createDataFrame([(1, "a3"), (2, "b")], cols), 3)
    got = sorted(
        (r["k"], r["v"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    # closed history from snapshots 1-2 survived the crash
    assert got == [
        (1, "a", 1, 2), (1, "a2", 2, 3), (1, "a3", 3, None),
        (2, "b", 1, None),
    ], got
    shutil.rmtree(t, ignore_errors=True)


def test_snapshot_null_key_presence(spark, tmp_path):
    """ADVICE r11 (cdc.py process_snapshot): the diff join is eqNullSafe,
    so a snapshot row whose key column is NULL still matches its open
    version — presence must come from explicit markers, not key
    nullability (which would close the open version AND drop the row)."""
    from pos_dlt_spark.operators.cdc import ApplyChangesFromSnapshot

    ac = ApplyChangesFromSnapshot(
        str(tmp_path / "t"), keys=["k"], stored_as_scd_type=2
    )
    cols = "k int, v string"
    s1 = spark.createDataFrame([(None, "x"), (1, "a")], cols)
    ac.process_snapshot(s1, 1)
    # unchanged NULL-key row: must stay OPEN, not close-and-vanish
    ac.process_snapshot(s1, 2)
    got = sorted(
        ((r["k"], r["v"], r["__START_AT"], r["__END_AT"])
         for r in ac.read_target(spark).collect()),
        key=lambda x: (x[0] is not None, x),
    )
    assert got == [(None, "x", 1, None), (1, "a", 1, None)], got
    # changed NULL-key row: normal close+open, no row loss
    s3 = spark.createDataFrame([(None, "x2"), (1, "a")], cols)
    ac.process_snapshot(s3, 3)
    nulls = sorted(
        (r["v"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).filter("k IS NULL").collect()
    )
    assert nulls == [("x", 1, 3), ("x2", 3, None)], nulls


def test_unbucketed_scd_type_sidecar_pins_contract(spark, tmp_path):
    """ADVICE r11 (cdc.py): unbucketed targets persist scd_type /
    track_history_except in a sidecar meta file; re-declaring an
    existing SCD1 target as SCD2 (or changing the tracked-column set)
    fails fast instead of silently reinterpreting latest-state rows as
    version history."""
    t = str(tmp_path / "t")
    cols = "store_id int, item_id int, date_time int, quantity int"
    ac1 = ApplyChanges(t, keys=KEYS, sequence_by="date_time")
    ac1.process_batch(spark.createDataFrame([(1, 1, 10, 5)], cols), 0)
    # same declaration: keeps working
    ApplyChanges(t, keys=KEYS, sequence_by="date_time").process_batch(
        spark.createDataFrame([(1, 1, 20, 6)], cols), 1
    )
    bad = ApplyChanges(t, keys=KEYS, sequence_by="date_time",
                       stored_as_scd_type=2)
    with pytest.raises(ValueError, match="SCD-type mismatch"):
        bad.process_batch(spark.createDataFrame([(1, 1, 30, 7)], cols), 2)
    # SCD2 target re-declared as SCD1 also refuses
    t2 = str(tmp_path / "t2")
    ac2 = ApplyChanges(t2, keys=KEYS, sequence_by="date_time",
                       stored_as_scd_type=2)
    ac2.process_batch(spark.createDataFrame([(1, 1, 10, 5)], cols), 0)
    bad2 = ApplyChanges(t2, keys=KEYS, sequence_by="date_time")
    with pytest.raises(ValueError, match="SCD-type mismatch"):
        bad2.process_batch(spark.createDataFrame([(1, 1, 20, 6)], cols), 1)
    # changing the tracked-column set refuses too
    bad3 = ApplyChanges(t2, keys=KEYS, sequence_by="date_time",
                        stored_as_scd_type=2,
                        track_history_except_column_list=["quantity"])
    with pytest.raises(ValueError, match="track_history_except"):
        bad3.process_batch(spark.createDataFrame([(1, 1, 20, 6)], cols), 1)


def test_unbucketed_legacy_target_without_sidecar(spark, tmp_path):
    """A pre-sidecar target (meta file absent, data present) keeps
    working under the historical default declaration and refuses a
    non-default one it cannot prove."""
    import os

    t = str(tmp_path / "t")
    cols = "store_id int, item_id int, date_time int, quantity int"
    ac = ApplyChanges(t, keys=KEYS, sequence_by="date_time")
    ac.process_batch(spark.createDataFrame([(1, 1, 10, 5)], cols), 0)
    os.remove(t + "._ac_meta.json")  # simulate a legacy target
    # default declaration re-pins and continues
    ApplyChanges(t, keys=KEYS, sequence_by="date_time").process_batch(
        spark.createDataFrame([(1, 1, 20, 6)], cols), 1
    )
    assert os.path.exists(t + "._ac_meta.json")
    os.remove(t + "._ac_meta.json")
    bad = ApplyChanges(t, keys=KEYS, sequence_by="date_time",
                       stored_as_scd_type=2)
    with pytest.raises(ValueError, match="predates the scd_type sidecar"):
        bad.process_batch(spark.createDataFrame([(1, 1, 30, 7)], cols), 2)


def test_scd2_track_history_column_list_positive(spark, tmp_path):
    """DLT track_history_column_list (POSITIVE form, r12): ONLY the
    listed columns' changes open versions; every other data column
    refreshes in place. Pinned to the exact semantics of the except-form
    twin (test_scd2_track_history_except_columns) on the same traffic:
    declaring track=[v] over schema (k, seq, v, note) must behave
    byte-identically to except=[note]."""
    from pos_dlt_spark.operators.cdc import ApplyChanges

    ac = ApplyChanges(
        str(tmp_path / "t"), keys=["k"], sequence_by="seq",
        stored_as_scd_type=2, track_history_column_list=["v"],
    )
    cols = "k int, seq int, v string, note string"
    b1 = spark.createDataFrame(
        [(1, 10, "a", "n1"), (1, 20, "a", "n2"), (1, 30, "b", "n3")], cols
    )
    ac.process_batch(b1, 0)
    got = sorted(
        (r["k"], r["v"], r["note"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    assert got == [(1, "a", "n2", 10, 30), (1, "b", "n3", 30, None)], got
    # out-of-order untracked-only row absorbed in place (same as twin)
    ac.process_batch(
        spark.createDataFrame([(1, 15, "a", "nX")], cols), 1
    )
    got2 = sorted(
        (r["k"], r["v"], r["note"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    assert got2 == [(1, "a", "nX", 10, 30), (1, "b", "n3", 30, None)], got2
    # replay reclaims; second replay is a fixpoint
    ac.process_batch(b1, 2)
    got3 = sorted(
        (r["k"], r["v"], r["note"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    assert got3 == [(1, "a", "n2", 10, 30), (1, "b", "n3", 30, None)], got3
    ac.process_batch(b1, 3)
    got4 = sorted(
        (r["k"], r["v"], r["note"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    assert got4 == got3
    # sidecar pins the positive list for unbucketed targets: redeclaring
    # with a different tracked set (or the except form) fails fast
    other = ApplyChanges(
        str(tmp_path / "t"), keys=["k"], sequence_by="seq",
        stored_as_scd_type=2, track_history_column_list=["v", "note"],
    )
    with pytest.raises(ValueError, match="track_history_column_list"):
        other.process_batch(
            spark.createDataFrame([(2, 10, "c", "n")], cols), 4
        )
    asexc = ApplyChanges(
        str(tmp_path / "t"), keys=["k"], sequence_by="seq",
        stored_as_scd_type=2, track_history_except_column_list=["note"],
    )
    with pytest.raises(ValueError):
        asexc.process_batch(
            spark.createDataFrame([(2, 10, "c", "n")], cols), 4
        )


def test_scd2_track_history_column_list_validation(spark, tmp_path):
    """Positive-form contract: SCD2 only, mutually exclusive with the
    except form, and never allowed to list keys or sequence_by."""
    from pos_dlt_spark.operators.cdc import ApplyChanges, ApplyChangesFromSnapshot

    with pytest.raises(ValueError, match="stored_as_scd_type=2"):
        ApplyChanges(str(tmp_path / "a"), keys=["k"], sequence_by="seq",
                     track_history_column_list=["v"])
    with pytest.raises(ValueError, match="mutually"):
        ApplyChanges(str(tmp_path / "b"), keys=["k"], sequence_by="seq",
                     stored_as_scd_type=2,
                     track_history_column_list=["v"],
                     track_history_except_column_list=["note"])
    with pytest.raises(ValueError, match="keys or"):
        ApplyChanges(str(tmp_path / "c"), keys=["k"], sequence_by="seq",
                     stored_as_scd_type=2,
                     track_history_column_list=["k", "v"])
    with pytest.raises(ValueError, match="keys or"):
        ApplyChanges(str(tmp_path / "d"), keys=["k"], sequence_by="seq",
                     stored_as_scd_type=2,
                     track_history_column_list=["seq"])
    with pytest.raises(ValueError, match="stored_as_scd_type=2"):
        ApplyChangesFromSnapshot(str(tmp_path / "e"), keys=["k"],
                                 stored_as_scd_type=1,
                                 track_history_column_list=["v"])
    with pytest.raises(ValueError, match="mutually"):
        ApplyChangesFromSnapshot(str(tmp_path / "f"), keys=["k"],
                                 track_history_column_list=["v"],
                                 track_history_except_column_list=["note"])
    with pytest.raises(ValueError, match="keys"):
        ApplyChangesFromSnapshot(str(tmp_path / "g"), keys=["k"],
                                 track_history_column_list=["k"])


def test_scd2_track_history_positive_bucketed_manifest(spark, tmp_path):
    """Bucketed targets pin the positive list in the manifest — a flow
    redeclared without it (or with a different list) refuses."""
    from pos_dlt_spark.operators.cdc import ApplyChanges

    t = str(tmp_path / "t")
    cols = "k int, seq int, v string, note string"
    ac = ApplyChanges(t, keys=["k"], sequence_by="seq", n_buckets=4,
                      stored_as_scd_type=2,
                      track_history_column_list=["v"])
    ac.process_batch(spark.createDataFrame(
        [(1, 10, "a", "n1"), (1, 20, "a", "n2")], cols), 0)
    got = sorted(
        (r["k"], r["v"], r["note"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    assert got == [(1, "a", "n2", 10, None)], got
    bad = ApplyChanges(t, keys=["k"], sequence_by="seq", n_buckets=4,
                       stored_as_scd_type=2)
    with pytest.raises(ValueError, match="track_history_column_list"):
        bad.process_batch(spark.createDataFrame([(1, 30, "b", "n")], cols), 1)


def test_apply_changes_from_snapshot_track_history_positive(spark, tmp_path):
    """Snapshot diffing with the positive form: only changes to the
    listed columns open versions; others refresh in place — pinned to
    the except-form snapshot test's traffic and expectations."""
    from pos_dlt_spark.operators.cdc import ApplyChangesFromSnapshot

    ac = ApplyChangesFromSnapshot(
        str(tmp_path / "t"), keys=["k"], stored_as_scd_type=2,
        track_history_column_list=["v"],
    )
    cols = "k int, v string, note string"
    s1 = spark.createDataFrame(
        [(1, "a", "n1"), (2, "b", "n1"), (3, "c", "n1")], cols)
    s2 = spark.createDataFrame([(1, "a2", "n1"), (2, "b", "n2")], cols)
    assert ac.process_snapshot(s1, 1)
    assert ac.process_snapshot(s2, 2)
    got = sorted(
        (r["k"], r["v"], r["note"], r["__START_AT"], r["__END_AT"])
        for r in ac.read_target(spark).collect()
    )
    assert got == [
        (1, "a", "n1", 1, 2), (1, "a2", "n1", 2, None),
        (2, "b", "n2", 1, None),
        (3, "c", "n1", 1, 2),
    ], got
