"""Delta writer (sources/delta_writer.py) round-trips through the
protocol reader: append/overwrite commits, footer-derived stats feeding
the skipping reader, optimistic-concurrency races, schema-drift
fail-fast, checkpoint cadence."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pos_dlt_spark.sources.delta import delta_snapshot, read_delta, skip_files
from pos_dlt_spark.sources.delta_writer import (
    DeltaCommitConflict,
    write_delta,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )


def test_append_roundtrip(spark, tmp_path):
    table = str(tmp_path / "t")
    assert write_delta(_df(spark, 0, 50), table) == 0
    assert write_delta(_df(spark, 50, 100), table) == 1
    got = read_delta(spark, table)
    assert sorted(r.id for r in got.collect()) == list(range(100))
    assert [f.name for f in got.schema.fields] == ["id", "name"]


def test_overwrite_replaces_live_set_and_time_travel(spark, tmp_path):
    table = str(tmp_path / "ow")
    write_delta(_df(spark, 0, 50), table)
    write_delta(_df(spark, 1000, 1010), table, mode="overwrite")
    assert sorted(r.id for r in read_delta(spark, table).collect()) == list(
        range(1000, 1010)
    )
    # previous version still time-travels
    assert sorted(r.id for r in read_delta(spark, table, version=0).collect()) == list(
        range(50)
    )


def test_footer_stats_enable_skipping(spark, tmp_path):
    table = str(tmp_path / "st")
    write_delta(_df(spark, 0, 100).coalesce(1), table)
    write_delta(_df(spark, 1000, 1100).coalesce(1), table)
    snap = delta_snapshot(spark, table)
    assert len(snap.files) == 2
    pruned, skipped = skip_files(snap, [("id", ">=", 500)])
    assert skipped == 1 and len(pruned.files) == 1
    got = read_delta(spark, table, prune=[("id", ">=", 500)]).filter(
        F.col("id") >= 500
    )
    assert sorted(r.id for r in got.collect()) == list(range(1000, 1100))


def test_concurrent_version_already_taken_is_skipped_by_fold(spark, tmp_path):
    """A commit that lands BEFORE the writer folds is simply the new
    latest — the writer commits at the next free version."""
    table = str(tmp_path / "race")
    write_delta(_df(spark, 0, 10), table)
    blocker = os.path.join(table, "_delta_log", f"{1:020d}.json")
    with open(blocker, "w", encoding="utf-8") as fh:
        fh.write("")  # concurrent empty commit
    v = write_delta(_df(spark, 10, 20), table)
    assert v == 2
    assert sorted(r.id for r in read_delta(spark, table).collect()) == list(range(20))


def test_append_race_retries_overwrite_race_aborts(spark, tmp_path, monkeypatch):
    """A race lost AT COMMIT TIME (put-if-absent fails after the fold):
    appends retry at the next version; overwrites abort."""
    import pos_dlt_spark.sources.delta_writer as W

    table = str(tmp_path / "race2")
    write_delta(_df(spark, 0, 10), table)

    real = W._try_commit
    calls = {"n": 0}

    def lose_once(log_dir, version, actions, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            return False  # concurrent writer won this version
        return real(log_dir, version, actions)

    monkeypatch.setattr(W, "_try_commit", lose_once)
    v = write_delta(_df(spark, 10, 20), table)
    assert v == 1 and calls["n"] == 2  # re-folded, retried, succeeded
    assert sorted(r.id for r in read_delta(spark, table).collect()) == list(range(20))

    monkeypatch.setattr(W, "_try_commit", lambda *a, **kw: False)
    with pytest.raises(DeltaCommitConflict, match="overwrite"):
        write_delta(_df(spark, 0, 5), table, mode="overwrite")


@pytest.mark.parametrize(
    "case",
    ["append_drift", "overwrite_race", "optimize_race", "reorg_race", "cdf_replace_where_race"],
)
def test_refused_or_raced_write_leaves_no_staged_files(spark, tmp_path, monkeypatch, case):
    """Every data-staging write commits through one core: a write that is
    refused or loses its commit race removes what it staged, so every
    on-disk data, change and DV sidecar file stays referenced by the log.
    REORG and replaceWhere absorb the race; REORG's retry reads like an
    uninterrupted twin."""
    import pos_dlt_spark.sources.delta_writer as W
    from pos_dlt_spark.sources.delta_check import delta_fsck
    from pos_dlt_spark.sources.delta_writer import (
        delta_delete,
        delta_optimize,
        delta_reorg_purge,
    )
    from tests.test_delta_update import _log_references, _on_disk

    cdf = {"delta.enableChangeDataFeed": "true"}
    table, twin = str(tmp_path / "t"), str(tmp_path / "twin")
    for t in (table, twin):
        write_delta(
            _df(spark, 0, 20).repartition(4), t,
            configuration=cdf if case == "cdf_replace_where_race" else None,
        )
        if case == "reorg_race":
            delta_delete(spark, t, "id % 3 = 0", inline_threshold=0)
    real, lost = W._try_commit, []

    def lose_once(log_dir, version, actions, **kw):
        if not lost:
            lost.append(version)
            return False  # a concurrent writer won this version
        return real(log_dir, version, actions, **kw)

    monkeypatch.setattr(W, "_try_commit", lose_once)
    if case == "append_drift":
        bad = spark.range(5).select(F.col("id"), F.col("id").alias("other"))
        with pytest.raises(ValueError, match="schema drift"):
            write_delta(bad, table)
    elif case == "overwrite_race":
        with pytest.raises(DeltaCommitConflict, match="overwrite"):
            write_delta(_df(spark, 0, 5), table, mode="overwrite")
    elif case == "optimize_race":
        with pytest.raises(DeltaCommitConflict, match="optimize"):
            delta_optimize(spark, table)
    elif case == "reorg_race":
        got = delta_reorg_purge(spark, table)
        monkeypatch.undo()
        assert lost and got == delta_reorg_purge(spark, twin)
        assert sorted(read_delta(spark, table).collect()) == sorted(
            read_delta(spark, twin).collect()
        )
    else:
        v = write_delta(
            _df(spark, 0, 10).withColumn("name", F.lit("r")), table,
            mode="overwrite", replace_where="id < 10",
        )
        assert lost and v == 1
    on_disk = _on_disk(table, ".parquet") | _on_disk(table, ".bin")
    assert on_disk <= _log_references(table)
    assert delta_fsck(spark, table) == []


def test_schema_drift_fails_fast(spark, tmp_path):
    table = str(tmp_path / "drift")
    write_delta(_df(spark, 0, 10), table)
    bad = spark.range(5).select(F.col("id"), F.col("id").alias("other"))
    with pytest.raises(ValueError, match="schema drift"):
        write_delta(bad, table)


def test_checkpoint_cadence_and_fold_from_checkpoint(spark, tmp_path):
    table = str(tmp_path / "ck")
    for i in range(6):
        write_delta(_df(spark, i * 10, i * 10 + 10), table, checkpoint_interval=5)
    log = os.path.join(table, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{5:020d}.checkpoint.parquet"))
    assert os.path.exists(os.path.join(log, "_last_checkpoint"))
    # vacuum the pre-checkpoint JSON commits: fold must still succeed
    for v in range(5):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    got = read_delta(spark, table)
    assert sorted(r.id for r in got.collect()) == list(range(60))


def test_merge_upsert_insert_update_out_of_order(spark, tmp_path):
    from pos_dlt_spark.sources.delta_writer import delta_merge

    table = str(tmp_path / "mg")
    base = spark.createDataFrame(
        __import__("pandas").DataFrame(
            {"k": [1, 2, 3], "seq": [10, 10, 10], "v": ["a", "b", "c"]}
        )
    )
    write_delta(base, table)
    upd = spark.createDataFrame(
        __import__("pandas").DataFrame(
            {
                "k": [2, 3, 4],
                "seq": [20, 5, 10],   # 2: newer -> update; 3: OLDER -> must lose; 4: insert
                "v": ["b2", "c_stale", "d"],
            }
        )
    )
    v = delta_merge(spark, table, upd, keys=["k"], sequence_by="seq")
    assert v == 1
    got = {r.k: (r.seq, r.v) for r in read_delta(spark, table).collect()}
    assert got == {1: (10, "a"), 2: (20, "b2"), 3: (10, "c"), 4: (10, "d")}


def test_merge_prunes_disjoint_files(spark, tmp_path):
    """Files provably outside the update key range are neither read nor
    rewritten — byte-identical (mtime+size pinned), and the commit only
    removes the touched files."""
    import pandas as pd

    from pos_dlt_spark.sources.delta_writer import delta_merge

    table = str(tmp_path / "mgp")
    lowf = spark.createDataFrame(pd.DataFrame({"k": range(0, 100), "seq": [1] * 100,
                                               "v": ["x"] * 100})).coalesce(1)
    highf = spark.createDataFrame(pd.DataFrame({"k": range(1000, 1100), "seq": [1] * 100,
                                                "v": ["y"] * 100})).coalesce(1)
    write_delta(lowf, table)
    write_delta(highf, table)
    snap0 = delta_snapshot(spark, table)
    assert len(snap0.files) == 2
    low_rel = next(
        rel for rel, _ in snap0.files
        if __import__("json").loads(snap0.adds[rel]["stats"])["maxValues"]["k"] < 500
    )
    low_path = os.path.join(table, low_rel)
    before = (os.path.getmtime(low_path), os.path.getsize(low_path))

    upd = spark.createDataFrame(pd.DataFrame({"k": [1005, 2000], "seq": [9, 9],
                                              "v": ["y2", "z"]}))
    delta_merge(spark, table, upd, keys=["k"], sequence_by="seq")

    snap1 = delta_snapshot(spark, table)
    live = {rel for rel, _ in snap1.files}
    assert low_rel in live  # disjoint file survived in the live set
    assert (os.path.getmtime(low_path), os.path.getsize(low_path)) == before
    got = {r.k: r.v for r in read_delta(spark, table).collect()}
    assert got[1005] == "y2" and got[2000] == "z" and got[50] == "x"
    assert len(got) == 201


def test_merge_empty_updates_noop(spark, tmp_path):
    import pandas as pd

    from pos_dlt_spark.sources.delta_writer import delta_merge

    table = str(tmp_path / "mge")
    write_delta(spark.createDataFrame(pd.DataFrame({"k": [1], "seq": [1], "v": ["a"]})), table)
    upd = spark.createDataFrame(pd.DataFrame({"k": [], "seq": [], "v": []}),
                                schema="k long, seq long, v string")
    assert delta_merge(spark, table, upd, keys=["k"], sequence_by="seq") == 0
    assert read_delta(spark, table).count() == 1


def test_optimize_compacts_replay_skips_vacuum_gc(spark, tmp_path):
    from pos_dlt_spark.sources.delta import replay_adds
    from pos_dlt_spark.sources.delta_writer import delta_optimize, delta_vacuum

    table = str(tmp_path / "opt")
    for i in range(4):
        write_delta(_df(spark, i * 10, i * 10 + 10).coalesce(1), table)
    assert len(delta_snapshot(spark, table).files) == 4

    v = delta_optimize(spark, table, target_files=1)
    snap = delta_snapshot(spark, table)
    assert v == 4 and len(snap.files) == 1
    assert sorted(r.id for r in read_delta(spark, table).collect()) == list(range(40))
    # replay skips the dataChange=false compaction rewrite
    plan = replay_adds(spark, table)
    assert [vv for vv, _ in plan] == [0, 1, 2, 3]
    # pre-optimize version still time-travels (files not yet vacuumed)
    assert read_delta(spark, table, version=3).count() == 40

    deleted = delta_vacuum(spark, table, retain_versions=0)
    assert len(deleted) == 4  # the four pre-compaction files
    assert sorted(r.id for r in read_delta(spark, table).collect()) == list(range(40))
    # vacuumed version now fails loudly on read (delta retention semantics)
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_delta(spark, table, version=3).collect()


def test_partitioned_write_roundtrip_and_pruning(spark, tmp_path):
    table = str(tmp_path / "pw")
    df = spark.range(40).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("bucket")
    )
    write_delta(df, table, partition_by=["bucket"])
    snap = delta_snapshot(spark, table)
    assert snap.partition_columns == ["bucket"]
    assert all(pv.get("bucket") is not None for _, pv in snap.files)
    got = read_delta(spark, table)
    assert {(r.id, r.bucket) for r in got.collect()} == {
        (i, i % 4) for i in range(40)
    }
    # Hive layout => partition pruning at the scan
    pruned = read_delta(spark, table).filter(F.col("bucket") == 2)
    assert sorted(r.id for r in pruned.collect()) == [i for i in range(40) if i % 4 == 2]
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    # append keeps working; partitioning drift fails fast
    write_delta(
        spark.range(40, 50).select(
            F.col("id"), (F.col("id") % 4).cast("int").alias("bucket")
        ),
        table,
        partition_by=["bucket"],
    )
    assert read_delta(spark, table).count() == 50
    with pytest.raises(ValueError, match="partitioning drift"):
        write_delta(
            spark.range(3).select(F.col("id"), F.lit(1).cast("int").alias("bucket")),
            table,
        )


# -- property test: random op sequences vs an in-memory model ----------------


def test_delta_writer_random_op_sequences_match_model(spark, tmp_path):
    """Hypothesis drives random append/overwrite/merge/DV-delete
    sequences; the table must always equal a trivial in-memory model.
    Appends use fresh disjoint key ranges (keeping the
    unique-keys-per-table invariant the merge docstring states); merges
    mix updates of known keys, stale out-of-order rows, and inserts;
    deletes run in deletion-vector mode (no file rewritten) against a
    modulus predicate, composing DVs with later merges/overwrites."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    import pandas as pd

    from pos_dlt_spark.sources.delta_writer import delta_delete, delta_merge

    op = st.one_of(
        st.tuples(st.just("append"), st.integers(1, 20)),
        st.tuples(st.just("overwrite"), st.integers(1, 20)),
        st.tuples(
            st.just("merge"),
            st.lists(
                st.tuples(
                    st.integers(0, 49),  # key (may or may not exist)
                    st.integers(0, 100),  # sequence
                ),
                min_size=1,
                max_size=10,
                unique_by=lambda t: t[0],
            ),
        ),
        st.tuples(st.just("delete"), st.tuples(st.integers(2, 7), st.integers(0, 6))),
    )

    counter = {"n": 0}

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(op, min_size=1, max_size=4))
    def run(ops):
        counter["n"] += 1
        table = str(tmp_path / f"prop{counter['n']}")
        model: dict[int, tuple[int, str]] = {}  # k -> (seq, v)
        fresh = [1000]  # fresh-key cursor for appends

        def mk(rows):
            return spark.createDataFrame(
                pd.DataFrame(
                    {"k": [r[0] for r in rows], "seq": [r[1] for r in rows],
                     "v": [r[2] for r in rows]}
                ),
                schema="k long, seq long, v string",
            )

        for op_i, (kind, arg) in enumerate(ops):
            if kind in ("append", "overwrite"):
                lo = fresh[0]
                rows = [(lo + i, 0, f"a{lo + i}") for i in range(arg)]
                fresh[0] += arg
                exists = os.path.isdir(os.path.join(table, "_delta_log"))
                if kind == "overwrite" and exists:
                    write_delta(mk(rows), table, mode="overwrite")
                    model.clear()
                else:
                    write_delta(mk(rows), table)
                model.update({k: (s, v) for k, s, v in rows})
            elif kind == "merge":
                # NO explicit tiebreakers: equal-sequence ties
                # must resolve update-wins deterministically. The payload
                # carries the op index so a tie that resolves the wrong
                # way is visible in v, not hashed away.
                if not os.path.isdir(os.path.join(table, "_delta_log")):
                    continue
                rows = [(k, s, f"m{k}_{s}_{op_i}") for k, s in arg]
                delta_merge(
                    spark, table, mk(rows), keys=["k"], sequence_by="seq",
                )
                for k, s, v in rows:
                    cur = model.get(k)
                    if cur is None or s >= cur[0]:
                        model[k] = (s, v)
            else:  # DV-mode delete on a modulus predicate
                if not os.path.isdir(os.path.join(table, "_delta_log")):
                    continue
                mod, rem = arg
                delta_delete(spark, table, f"k % {mod} = {rem}", mode="dv")
                for k in [k for k in model if k % mod == rem]:
                    del model[k]
        if not os.path.isdir(os.path.join(table, "_delta_log")):
            return
        got = {r.k: (r.seq, r.v) for r in read_delta(spark, table).collect()}
        assert got == model

    run()


def test_merge_on_partitioned_table(spark, tmp_path):
    """Partitioned merge: partition columns are re-attached from the log
    before the merge window, the rewrite is routed back per partition,
    and a partition-KEYED merge touches only that partition's files
    (others byte-identical)."""
    import pandas as pd

    from pos_dlt_spark.sources.delta_writer import delta_merge, delta_optimize

    table = str(tmp_path / "pmerge")
    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).alias("seq"),
        (F.col("id") % 2).cast("int").alias("b"),
    )
    write_delta(df, table, partition_by=["b"])

    # non-partition-keyed merge: update k=3 (newer), k=4 (stale), insert k=100
    upd = spark.createDataFrame(
        pd.DataFrame({"k": [3, 4, 100], "seq": [5, 0, 5], "b": [1, 0, 0]})
    )
    delta_merge(spark, table, upd, keys=["k"], sequence_by="seq")
    got = {r.k: (r.seq, r.b) for r in read_delta(spark, table).collect()}
    assert got[3] == (5, 1) and got[4] == (1, 0) and got[100] == (5, 0)
    assert len(got) == 11
    # every row kept its (or got a typed) partition value
    assert all(b in (0, 1) for _, b in got.values())

    # partition-KEYED merge: only partition b=0's files are touched
    snap0 = delta_snapshot(spark, table)
    b1_files = [rel for rel, pv in snap0.files if pv.get("b") == "1"]
    mtimes = {rel: os.path.getmtime(os.path.join(table, rel)) for rel in b1_files}
    upd2 = spark.createDataFrame(pd.DataFrame({"k": [999], "seq": [99], "b": [0]}))
    delta_merge(spark, table, upd2, keys=["b"], sequence_by="seq")
    snap1 = delta_snapshot(spark, table)
    live = {rel for rel, _ in snap1.files}
    assert all(rel in live for rel in b1_files)
    assert all(os.path.getmtime(os.path.join(table, rel)) == mtimes[rel] for rel in b1_files)
    got2 = {r.b: (r.k, r.seq) for r in read_delta(spark, table).filter(F.col("b") == 0).collect()}
    assert got2 == {0: (999, 99)}  # partition 0 collapsed to its latest row

    # per-partition OPTIMIZE: partition 1 has multiple small files from
    # the merges; compact to 1 file per partition. Content identical,
    # replay still skips the dataChange=false rewrite.
    before_rows = {(r.k, r.seq, r.b) for r in read_delta(spark, table).collect()}
    delta_optimize(spark, table, target_files=1)
    snapo = delta_snapshot(spark, table)
    per_part = {}
    for rel, pv in snapo.files:
        per_part.setdefault(pv.get("b"), []).append(rel)
    assert all(len(v) == 1 for v in per_part.values())
    assert {(r.k, r.seq, r.b) for r in read_delta(spark, table).collect()} == before_rows


def test_merge_equal_sequence_update_wins_without_tiebreakers(spark, tmp_path):
    """DLT apply_changes sequencing: on an equal sequence_by (and no
    explicit tiebreakers) the UPDATE must win deterministically."""
    import pandas as pd

    from pos_dlt_spark.sources.delta_writer import delta_merge

    table = str(tmp_path / "tie")
    write_delta(
        spark.createDataFrame(pd.DataFrame({"k": [1, 2], "seq": [5, 5], "v": ["old1", "old2"]})),
        table,
    )
    delta_merge(
        spark,
        table,
        spark.createDataFrame(pd.DataFrame({"k": [1], "seq": [5], "v": ["new1"]})),
        keys=["k"],
        sequence_by="seq",
    )
    got = {r.k: r.v for r in read_delta(spark, table).collect()}
    assert got == {1: "new1", 2: "old2"}
    # ...and a STALE (strictly older) update still loses
    delta_merge(
        spark,
        table,
        spark.createDataFrame(pd.DataFrame({"k": [1], "seq": [4], "v": ["stale"]})),
        keys=["k"],
        sequence_by="seq",
    )
    assert {r.k: r.v for r in read_delta(spark, table).collect()} == {1: "new1", 2: "old2"}


def test_checkpoint_preserves_partition_metadata_and_stats(spark, tmp_path):
    """ADVICE r04 (high): a partitioned table crossing checkpoint_interval
    must keep partitionColumns/table id/configuration in the checkpoint's
    metaData — and per-file stats must survive the checkpoint — or every
    post-checkpoint snapshot reads the partition column as null, appends
    die with spurious drift, and skipping silently degrades to full scans."""
    table = str(tmp_path / "ckpart")
    snap_ids = set()
    for i in range(3):
        df = spark.range(i * 10, i * 10 + 10).select(
            F.col("id"), (F.col("id") % 2).cast("int").alias("b")
        )
        write_delta(df, table, partition_by=["b"], checkpoint_interval=2)
        snap_ids.add(delta_snapshot(spark, table).table_id)
    log = os.path.join(table, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{2:020d}.checkpoint.parquet"))
    # drop the pre-checkpoint JSON chain: the fold now rides the checkpoint
    for v in range(2):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    snap = delta_snapshot(spark, table)
    assert snap.partition_columns == ["b"]
    assert len(snap_ids) == 1 and snap.table_id == next(iter(snap_ids))
    got = read_delta(spark, table)
    assert {(r.id, r.b) for r in got.collect()} == {(i, i % 2) for i in range(30)}
    # appends keep working after the checkpoint crossing
    write_delta(
        spark.range(30, 35).select(F.col("id"), (F.col("id") % 2).cast("int").alias("b")),
        table,
        partition_by=["b"],
        checkpoint_interval=2,
    )
    assert read_delta(spark, table).count() == 35
    # per-file stats survived the checkpoint -> skipping still prunes
    snap2 = delta_snapshot(spark, table)
    assert any(a.get("stats") for a in snap2.adds.values())
    _, skipped = skip_files(snap2, [("id", ">=", 30)])
    assert skipped > 0


def test_merge_partition_key_unsafe_type_touches_all_correctly(spark, tmp_path):
    """ADVICE r04 (low): a partition KEY whose string cast may not match
    the directory rendering (double) must fall back to touching all files —
    merge result stays duplicate-free and correct."""
    import pandas as pd

    from pos_dlt_spark.sources.delta_writer import delta_merge

    table = str(tmp_path / "pdouble")
    df = spark.createDataFrame(
        pd.DataFrame({"k": [0.5, 1.5, 0.5, 1.5], "seq": [1, 1, 1, 1], "v": ["a", "b", "c", "d"]})
    ).withColumn("k", F.col("k").cast("double"))
    write_delta(df, table, partition_by=["k"])
    delta_merge(
        spark,
        table,
        spark.createDataFrame(pd.DataFrame({"k": [0.5], "seq": [9], "v": ["new"]})).withColumn(
            "k", F.col("k").cast("double")
        ),
        keys=["k"],
        sequence_by="seq",
    )
    rows = read_delta(spark, table).collect()
    ks = [r.k for r in rows]
    assert sorted(ks) == [0.5, 1.5], f"duplicate/missing keys after merge: {ks}"
    assert {r.k: r.v for r in rows}[0.5] == "new"


def test_vacuum_spares_files_newer_than_last_commit(spark, tmp_path):
    """ADVICE r04 (medium): files staged into the table root by an
    in-flight writer (mtime after the newest log entry) must survive
    vacuum; genuinely unreferenced old files are still deleted."""
    table = str(tmp_path / "vacrace")
    write_delta(_df(spark, 0, 10).coalesce(1), table)
    write_delta(_df(spark, 10, 20).coalesce(1), table, mode="overwrite")

    from pos_dlt_spark.sources.delta_writer import delta_vacuum

    # simulate an in-flight writer: a staged data file moved into the
    # table root AFTER the last commit, not yet referenced by any version
    inflight = os.path.join(table, "part-inflight.parquet")
    import shutil as _sh

    src = [
        os.path.join(table, n) for n in os.listdir(table) if n.endswith(".parquet")
    ][0]
    _sh.copy(src, inflight)
    os.utime(inflight)  # now > last commit mtime

    deleted = delta_vacuum(spark, table, retain_versions=0)
    assert "part-inflight.parquet" not in deleted
    assert os.path.exists(inflight)
    assert len(deleted) >= 1  # v0's replaced file IS collected
    # ...and with a grace window nothing at all is deleted
    write_delta(_df(spark, 20, 30).coalesce(1), table, mode="overwrite")
    assert delta_vacuum(spark, table, retain_versions=0, grace_seconds=3600.0) == []


def test_write_delta_precommit_abort_leaves_table_untouched(spark, tmp_path):
    table = str(tmp_path / "pre")
    write_delta(_df(spark, 0, 10), table)
    before_files = sorted(
        os.path.join(r, n)
        for r, _, fs in os.walk(table)
        for n in fs
        if n.endswith(".parquet") and "_delta_log" not in r
    )
    with pytest.raises(RuntimeError, match="expectations"):
        write_delta(
            _df(spark, 10, 20),
            table,
            mode="overwrite",
            precommit=lambda: (_ for _ in ()).throw(RuntimeError("expectations failed")),
        )
    after_files = sorted(
        os.path.join(r, n)
        for r, _, fs in os.walk(table)
        for n in fs
        if n.endswith(".parquet") and "_delta_log" not in r
    )
    assert after_files == before_files
    assert delta_snapshot(spark, table).version == 0
    assert sorted(r.id for r in read_delta(spark, table).collect()) == list(range(10))


def test_txn_idempotent_append_and_merge(spark, tmp_path):
    """SetTransaction (protocol txn action): re-committing the same
    (appId, version) is a no-op — the foreachBatch-replay exactly-once
    contract — and the watermark survives checkpoints."""
    import pandas as pd

    from pos_dlt_spark.sources.delta_writer import delta_merge

    table = str(tmp_path / "txn")
    write_delta(_df(spark, 0, 10), table, txn=("app", 0))
    assert read_delta(spark, table).count() == 10
    # replay of batch 0: skipped, no new version, no duplicate rows
    v = write_delta(_df(spark, 0, 10), table, txn=("app", 0))
    assert v == 0 and read_delta(spark, table).count() == 10
    # next batch commits; an OLDER batch id is also skipped
    write_delta(_df(spark, 10, 20), table, txn=("app", 3))
    assert write_delta(_df(spark, 90, 95), table, txn=("app", 1)) == 1
    assert read_delta(spark, table).count() == 20
    # a DIFFERENT appId is independent
    write_delta(_df(spark, 20, 25), table, txn=("other", 0))
    assert read_delta(spark, table).count() == 25
    assert delta_snapshot(spark, table).txns == {"app": 3, "other": 0}

    # merge: replayed batch is skipped too
    mt = str(tmp_path / "txnm")
    write_delta(
        spark.createDataFrame(pd.DataFrame({"k": [1], "seq": [1], "v": ["a"]})), mt
    )
    upd = spark.createDataFrame(pd.DataFrame({"k": [1], "seq": [2], "v": ["b"]}))
    delta_merge(spark, mt, upd, keys=["k"], sequence_by="seq", txn=("cdc", 7))
    v1 = delta_snapshot(spark, mt).version
    assert (
        delta_merge(spark, mt, upd, keys=["k"], sequence_by="seq", txn=("cdc", 7))
        == v1
    )
    assert delta_snapshot(spark, mt).version == v1
    assert {r.v for r in read_delta(spark, mt).collect()} == {"b"}


def test_txn_watermark_survives_checkpoint(spark, tmp_path):
    table = str(tmp_path / "txnck")
    for i in range(3):
        write_delta(_df(spark, i * 10, i * 10 + 10), table,
                    checkpoint_interval=2, txn=("app", i))
    log = os.path.join(table, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{2:020d}.checkpoint.parquet"))
    for v in range(2):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    assert delta_snapshot(spark, table).txns == {"app": 2}
    # replay of an already-checkpointed batch is still skipped
    assert write_delta(_df(spark, 0, 10), table, txn=("app", 1)) == 2
    assert read_delta(spark, table).count() == 30


def test_merge_bucketized_range_join_pruning_same_touched_set(spark, tmp_path):
    """The 1M-file scale path: past range_join_threshold stat-ful files,
    exact pruning rides a bucketized interval EQUI-join instead of the
    broadcast BETWEEN join. Forced here with threshold=1: same touched
    set (disjoint file untouched byte-for-byte), same merge result."""
    import pandas as pd

    from pos_dlt_spark.sources.delta_writer import delta_merge

    table = str(tmp_path / "mgbucket")
    for lo in (0, 1000, 2000, 3000):
        write_delta(
            spark.createDataFrame(
                pd.DataFrame(
                    {"k": range(lo, lo + 100), "seq": [1] * 100, "v": ["x"] * 100}
                )
            ).coalesce(1),
            table,
        )
    snap0 = delta_snapshot(spark, table)
    assert len(snap0.files) == 4
    # negative-capable shift path is exercised too: keys start at 0
    untouched = [
        rel
        for rel in snap0.adds
        if __import__("json").loads(snap0.adds[rel]["stats"])["minValues"]["k"] >= 1000
    ]
    before = {
        rel: os.path.getmtime(os.path.join(table, rel)) for rel in untouched
    }

    upd = spark.createDataFrame(
        pd.DataFrame({"k": [5, 42, 9999], "seq": [9, 9, 9], "v": ["a", "b", "ins"]})
    )
    delta_merge(
        spark, table, upd, keys=["k"], sequence_by="seq", range_join_threshold=1
    )
    snap1 = delta_snapshot(spark, table)
    live = {rel for rel, _ in snap1.files}
    # the three files outside [0,100) survived untouched
    assert all(rel in live for rel in untouched)
    assert all(
        os.path.getmtime(os.path.join(table, rel)) == before[rel] for rel in untouched
    )
    got = {r.k: r.v for r in read_delta(spark, table).collect()}
    assert got[5] == "a" and got[42] == "b" and got[9999] == "ins" and got[7] == "x"
    assert len(got) == 401


def test_append_only_table_refuses_data_changing_ops(spark, tmp_path):
    """Protocol writer obligation: delta.appendOnly tables accept appends
    (and pure-insert merges) but refuse overwrite / rewriting merge /
    delete."""
    import pandas as pd

    from pos_dlt_spark.sources.delta import DeltaProtocolError
    from pos_dlt_spark.sources.delta_writer import delta_delete, delta_merge

    table = str(tmp_path / "ao")
    write_delta(
        spark.createDataFrame(pd.DataFrame({"k": [1, 2], "seq": [1, 1], "v": ["a", "b"]})),
        table,
        configuration={"delta.appendOnly": "true"},
    )
    write_delta(
        spark.createDataFrame(pd.DataFrame({"k": [3], "seq": [1], "v": ["c"]})), table
    )  # plain append: fine
    # pure-insert merge on disjoint keys: no file touched -> allowed
    delta_merge(
        spark,
        table,
        spark.createDataFrame(pd.DataFrame({"k": [100], "seq": [1], "v": ["z"]})),
        keys=["k"],
        sequence_by="seq",
    )
    assert read_delta(spark, table).count() == 4
    with pytest.raises(DeltaProtocolError, match="appendOnly"):
        write_delta(
            spark.createDataFrame(pd.DataFrame({"k": [9], "seq": [1], "v": ["x"]})),
            table,
            mode="overwrite",
        )
    with pytest.raises(DeltaProtocolError, match="appendOnly"):
        delta_merge(
            spark,
            table,
            spark.createDataFrame(pd.DataFrame({"k": [1], "seq": [9], "v": ["upd"]})),
            keys=["k"],
            sequence_by="seq",
        )
    with pytest.raises(DeltaProtocolError, match="appendOnly"):
        delta_delete(spark, table, "k = 1")
    assert read_delta(spark, table).count() == 4  # nothing changed


def test_check_constraints_enforced_on_write_and_merge(spark, tmp_path):
    """delta.constraints.* CHECK constraints: violating writes abort
    BEFORE any commit (staged files removed), valid writes pass; the
    counters ride the write job itself (observe), no extra scan."""
    import pandas as pd

    from pos_dlt_spark.sources.delta_writer import (
        DeltaConstraintViolation,
        delta_merge,
    )

    table = str(tmp_path / "chk")
    write_delta(
        spark.createDataFrame(pd.DataFrame({"k": [1], "seq": [1], "qty": [5]})),
        table,
        configuration={"delta.constraints.positive_qty": "qty >= 0"},
    )
    v0_files = sorted(
        n for n in os.listdir(table) if n.endswith(".parquet")
    )
    with pytest.raises(DeltaConstraintViolation, match="positive_qty"):
        write_delta(
            spark.createDataFrame(pd.DataFrame({"k": [2], "seq": [1], "qty": [-3]})),
            table,
        )
    # a NULL also violates (CHECK semantics: false OR null)
    with pytest.raises(DeltaConstraintViolation, match="positive_qty"):
        write_delta(
            spark.createDataFrame(
                pd.DataFrame({"k": [2], "seq": [1], "qty": [pd.NA]})
            ).withColumn("qty", F.col("qty").cast("long")),
            table,
        )
    assert delta_snapshot(spark, table).version == 0
    assert sorted(n for n in os.listdir(table) if n.endswith(".parquet")) == v0_files
    write_delta(
        spark.createDataFrame(pd.DataFrame({"k": [2], "seq": [1], "qty": [7]})), table
    )
    with pytest.raises(DeltaConstraintViolation, match="positive_qty"):
        delta_merge(
            spark,
            table,
            spark.createDataFrame(pd.DataFrame({"k": [1], "seq": [9], "qty": [-1]})),
            keys=["k"],
            sequence_by="seq",
        )
    got = {r.k: r.qty for r in read_delta(spark, table).collect()}
    assert got == {1: 5, 2: 7}
    # configuration survives checkpoints (metaData carries it)
    assert delta_snapshot(spark, table).configuration[
        "delta.constraints.positive_qty"
    ] == "qty >= 0"


def test_timestamp_time_travel(spark, tmp_path):
    import time as _time

    from pos_dlt_spark.sources.delta import version_at_timestamp

    table = str(tmp_path / "ts")
    write_delta(_df(spark, 0, 10), table)
    t_after_v0 = _time.time()
    _time.sleep(0.05)
    write_delta(_df(spark, 10, 20), table)
    assert version_at_timestamp(table, t_after_v0) == 0
    assert read_delta(spark, table, timestamp=t_after_v0).count() == 10
    assert read_delta(spark, table, timestamp=_time.time()).count() == 20
    with pytest.raises(ValueError, match="no commit"):
        version_at_timestamp(table, 1.0)  # 1970: before every commit
    with pytest.raises(ValueError, match="not both"):
        read_delta(spark, table, version=0, timestamp=t_after_v0).count()


def test_log_cleanup_deletes_only_checkpointed_commits(spark, tmp_path):
    from pos_dlt_spark.sources.delta_writer import delta_log_cleanup

    table = str(tmp_path / "logclean")
    for i in range(7):
        write_delta(_df(spark, i * 10, i * 10 + 10), table, checkpoint_interval=5)
    deleted = delta_log_cleanup(spark, table)
    # v0..v5 commits <= ckpt@5, plus their version checksums below the
    # horizon (the horizon's own .crc stays so the chain continues)
    assert [n for n in deleted if n.endswith(".json")] == [
        f"{v:020d}.json" for v in range(6)
    ]
    assert [n for n in deleted if n.endswith(".crc")] == [
        f"{v:020d}.crc" for v in range(5)
    ]
    # post-checkpoint commit v6 survives; table still reads completely
    assert sorted(r.id for r in read_delta(spark, table).collect()) == list(range(70))
    # no checkpoint -> no-op
    t2 = str(tmp_path / "logclean2")
    write_delta(_df(spark, 0, 5), t2)
    assert delta_log_cleanup(spark, t2) == []


def test_optimize_zorder_clusters_for_multi_column_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER BY (a, b): after the rewrite, log-stats skipping
    prunes files for predicates on EITHER column; a plain bin-pack of the
    same data cannot (each file spans the full range of both)."""
    from pos_dlt_spark.sources.delta_writer import delta_optimize

    table = str(tmp_path / "zopt")
    # 100x100 grid scattered across 8 files in insertion order: every
    # file spans the full a- and b-range
    grid = spark.range(100 * 100).select(
        (F.col("id") % 100).alias("a"),
        (F.col("id") / 100).cast("long").alias("b"),
        F.col("id").alias("payload"),
    )
    write_delta(grid.repartition(8), table)
    snap0 = delta_snapshot(spark, table)
    _, skipped_before = skip_files(snap0, [("a", "<", 10)])
    assert skipped_before == 0  # scattered: nothing provably excludable

    delta_optimize(spark, table, target_files=16, zorder_by=["a", "b"])
    snap1 = delta_snapshot(spark, table)
    assert len(snap1.files) == 16
    _, skip_a = skip_files(snap1, [("a", "<", 10)])
    _, skip_b = skip_files(snap1, [("b", "<", 10)])
    # z-clustering bounds both columns per file: most files prune on either
    assert skip_a >= 8 and skip_b >= 8, (skip_a, skip_b)
    # content identical
    assert read_delta(spark, table).count() == 10_000
    got = read_delta(spark, table, prune=[("a", "<", 10)]).filter(F.col("a") < 10)
    assert got.count() == 1000


def test_restore_to_version_and_timestamp(spark, tmp_path):
    import time as _time

    from pos_dlt_spark.sources.delta_writer import delta_delete, delta_restore

    table = str(tmp_path / "restore")
    write_delta(_df(spark, 0, 10), table)            # v0
    t_after_v0 = _time.time()
    _time.sleep(0.05)
    write_delta(_df(spark, 10, 20), table)           # v1
    delta_delete(spark, table, "id < 5")             # v2 (DV)
    assert read_delta(spark, table).count() == 15

    v = delta_restore(spark, table, version=1)       # undo the delete
    assert v == 3
    assert sorted(r.id for r in read_delta(spark, table).collect()) == list(range(20))
    # history preserved: the deleted state still time-travels
    assert read_delta(spark, table, version=2).count() == 15

    v2 = delta_restore(spark, table, timestamp=t_after_v0)  # back to v0
    assert sorted(r.id for r in read_delta(spark, table).collect()) == list(range(10))
    # restoring to the current state is a no-op (no new version)
    assert delta_restore(spark, table, version=v2) == v2
    # restore TO the DV'd version re-applies its deletion vector
    delta_restore(spark, table, version=2)
    assert sorted(r.id for r in read_delta(spark, table).collect()) == list(range(5, 20))


def test_convert_to_delta_flat_and_partitioned(spark, tmp_path):
    from pos_dlt_spark.sources.delta_writer import convert_to_delta

    # flat parquet dir
    flat = str(tmp_path / "flat")
    spark.range(100).select(
        F.col("id"), F.concat(F.lit("n"), F.col("id")).alias("name")
    ).repartition(3).write.parquet(flat)
    assert convert_to_delta(spark, flat) == 0
    snap = delta_snapshot(spark, flat)
    assert snap.partition_columns == [] and len(snap.files) == 3
    assert all(a.get("stats") for a in snap.adds.values())
    assert sorted(r.id for r in read_delta(spark, flat).collect()) == list(range(100))
    # the converted table is writable: append + merge work on it
    write_delta(
        spark.range(100, 110).select(
            F.col("id"), F.concat(F.lit("n"), F.col("id")).alias("name")
        ),
        flat,
    )
    assert read_delta(spark, flat).count() == 110
    with pytest.raises(ValueError, match="already a Delta table"):
        convert_to_delta(spark, flat)

    # Hive-partitioned dir: partition columns inferred + typed
    part = str(tmp_path / "parted")
    spark.range(40).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("b")
    ).write.partitionBy("b").parquet(part)
    convert_to_delta(spark, part)
    snapp = delta_snapshot(spark, part)
    assert snapp.partition_columns == ["b"]
    got = {(r.id, r.b) for r in read_delta(spark, part).collect()}
    assert got == {(i, i % 4) for i in range(40)}
    # log-recovered partition values enable stats/partition pruning
    pruned = read_delta(spark, part).filter(F.col("b") == 2)
    assert sorted(r.id for r in pruned.collect()) == [i for i in range(40) if i % 4 == 2]


def test_commit_info_and_describe_history(spark, tmp_path):
    """Every writer commit records a commitInfo action; delta_history
    (DESCRIBE HISTORY) surfaces version/operation/action counts, and
    timestamp travel prefers the in-commit timestamp over file mtime."""
    import json as _json
    import time as _time

    from pos_dlt_spark.sources.delta import delta_history, version_at_timestamp
    from pos_dlt_spark.sources.delta_writer import (
        delta_delete,
        delta_merge,
        delta_optimize,
    )

    table = str(tmp_path / "hist")
    write_delta(_df(spark, 0, 10).coalesce(2), table)
    write_delta(_df(spark, 10, 20).coalesce(1), table)
    delta_merge(
        spark, table,
        spark.createDataFrame([(5, "nn")], "id long, name string"),
        keys=["id"], sequence_by="id",
    )
    delta_delete(spark, table, "id = 7")
    delta_optimize(spark, table, target_files=1)

    h = {r.version: r for r in delta_history(spark, table).collect()}
    assert [h[v].operation for v in sorted(h)] == [
        "WRITE", "WRITE", "MERGE", "DELETE", "OPTIMIZE"
    ]
    assert h[0].num_added_files == 2 and h[1].num_added_files == 1
    assert h[2].num_removed_files >= 1  # merge rewrote the touched file
    assert _json.loads(h[3].operationParameters)["predicate"] == "id = 7"
    assert h[4].num_change_files == 0
    # timestamps are the in-commit ones: monotone across versions
    ts = [h[v].timestamp for v in sorted(h)]
    assert ts == sorted(ts)
    # timestamp travel resolves against the in-commit timestamp even if
    # the FILE mtime lies (e.g. a copied table): backdate v4's mtime
    log4 = os.path.join(table, "_delta_log", f"{4:020d}.json")
    os.utime(log4, (0, 0))  # 1970 mtime; commitInfo still carries real time
    assert version_at_timestamp(table, _time.time()) == 4


def test_writer_v2_checkpoints_roundtrip(spark, tmp_path):
    """checkpoint_format='v2': the writer's own checkpoints are v2
    manifests + sidecars, folded by the same reader after log cleanup."""
    from pos_dlt_spark.sources.delta_writer import delta_log_cleanup

    table = str(tmp_path / "wv2")
    for i in range(6):
        write_delta(_df(spark, i * 10, i * 10 + 10), table,
                    checkpoint_interval=5, checkpoint_format="v2")
    log = os.path.join(table, "_delta_log")
    manifests = [n for n in os.listdir(log) if ".checkpoint." in n and n.endswith(".parquet")]
    assert len(manifests) == 1 and len(manifests[0].split(".")) == 4  # uuid name
    assert os.path.isdir(os.path.join(log, "_sidecars"))
    deleted = delta_log_cleanup(spark, table)
    # v0..v5 json <= the v2 checkpoint at 5 (+ the below-horizon .crc files)
    assert len([n for n in deleted if n.endswith(".json")]) == 6
    got = read_delta(spark, table)
    assert sorted(r.id for r in got.collect()) == list(range(60))
    snap = delta_snapshot(spark, table)
    assert any(a.get("stats") for a in snap.adds.values())  # stats survive


def _process_committer(args):
    """Run in a CHILD OS PROCESS: append n_commits via the O_EXCL
    commit primitive with the writer's own retry discipline. Pure
    metadata — no SparkSession needed to exercise the race."""
    log_dir, wid, n_commits = args
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pos_dlt_spark.sources import delta_fixture as fx
    from pos_dlt_spark.sources.delta import _list_log
    from pos_dlt_spark.sources.delta_writer import _try_commit

    landed = []
    for b in range(n_commits):
        actions = [
            fx.commit_info_action("WRITE", {"writer": wid, "batch": b}),
            fx.txn_action(f"p{wid}", b),
            fx.add_action(f"w{wid}-b{b}.parquet", size=1),
        ]
        for _ in range(500):
            commits, _cp = _list_log(log_dir)
            version = (commits[-1][0] + 1) if commits else 0
            if _try_commit(log_dir, version, actions):
                landed.append(version)
                break
        else:
            return (wid, landed, "gave up")
    return (wid, landed, None)


def test_multi_process_writers_racing_appends(tmp_path):
    """FOUR OS PROCESSES race appends into one table: covers the
    CPython-level file-creation race the in-JVM thread test cannot (each
    process has its own interpreter and file-descriptor table; O_EXCL
    arbitration happens purely in the kernel). Every batch must land
    exactly once and the version chain must be gap-free."""
    import multiprocessing as mp

    table = str(tmp_path / "race_procs")
    log_dir = os.path.join(table, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    n_writers, n_commits = 4, 8

    ctx = mp.get_context("fork")
    with ctx.Pool(n_writers) as pool:
        results = pool.map(
            _process_committer,
            [(log_dir, w, n_commits) for w in range(n_writers)],
        )
    for wid, landed, err in results:
        assert err is None, f"writer {wid}: {err}"
        assert len(landed) == n_commits

    from pos_dlt_spark.sources.delta import _commit_actions, _list_log

    commits, _ = _list_log(log_dir)
    versions = [v for v, _ in commits]
    assert versions == list(range(n_writers * n_commits))  # gap-free chain
    # every (writer, batch) payload appears exactly once across the log
    seen = []
    for _v, p in commits:
        for a in _commit_actions(p):
            if "add" in a:
                seen.append(a["add"]["path"])
    assert sorted(seen) == sorted(
        f"w{w}-b{b}.parquet" for w in range(n_writers) for b in range(n_commits)
    )
    # each version file was written by exactly one claimed slot
    claimed = sorted(v for _w, landed, _e in results for v in landed)
    assert claimed == versions


def test_two_real_writers_racing_appends(spark, tmp_path):
    """Two REAL threads each append 6 batches concurrently (no
    monkeypatching): the O_EXCL commit race must serialize them — every
    batch lands exactly once, versions are a gap-free chain, and both
    writers' SetTransaction watermarks are correct."""
    import threading

    table = str(tmp_path / "race_real")
    write_delta(_df(spark, 0, 10), table)  # v0 seeds schema

    errors = []

    def writer(wid: int):
        try:
            for b in range(6):
                lo = 1000 * (wid + 1) + b * 10
                write_delta(
                    _df(spark, lo, lo + 10), table, txn=(f"w{wid}", b)
                )
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    snap = delta_snapshot(spark, table)
    assert snap.version == 12  # 1 seed + 12 racing appends, gap-free
    assert snap.txns == {"w0": 5, "w1": 5}
    got = sorted(r.id for r in read_delta(spark, table).collect())
    expected = list(range(10))
    for wid in (0, 1):
        for b in range(6):
            lo = 1000 * (wid + 1) + b * 10
            expected += list(range(lo, lo + 10))
    assert got == sorted(expected)


def test_shallow_clone_zero_copy(spark, tmp_path):
    """CLONE references the source's files absolutely (no data copied),
    evolves independently, and its vacuum never reaches outside its own
    root. DV sidecars convert to absolute storage so they resolve from
    the clone."""
    from pos_dlt_spark.sources.delta import read_delta
    from pos_dlt_spark.sources.delta_writer import (
        delta_clone,
        delta_delete,
        delta_vacuum,
    )
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    df = spark.range(40).select(F.col("id"), (F.col("id") % 2).cast("int").alias("b"))
    write_delta(df, src, partition_by=["b"])
    delta_delete(spark, src, "id < 4", inline_threshold=8)  # sidecar DV

    dst = str(tmp_path / "dst")
    assert delta_clone(spark, src, dst) == 0
    got = {(r.id, r.b) for r in read_delta(spark, dst).collect()}
    want = {(i, i % 2) for i in range(4, 40)}
    assert got == want
    # no data file was copied into the clone
    local = [
        n for root, _d, fs in os.walk(dst) for n in fs
        if n.endswith(".parquet") and "_delta_log" not in root
    ]
    assert local == []

    # the clone evolves independently of the source...
    write_delta(
        spark.range(100, 105).select(
            F.col("id"), (F.col("id") % 2).cast("int").alias("b")
        ),
        dst,
        partition_by=["b"],
    )
    delta_delete(spark, dst, "id >= 30 AND id < 40", mode="rewrite")
    got = sorted(r.id for r in read_delta(spark, dst).collect())
    assert got == list(range(4, 30)) + list(range(100, 105))
    assert sorted(r.id for r in read_delta(spark, src).collect()) == list(range(4, 40))

    # ...and vacuuming the clone deletes nothing under the source root
    before = {
        os.path.join(r, n) for r, _d, fs in os.walk(src) for n in fs
    }
    delta_vacuum(spark, dst, retain_versions=0, grace_seconds=0.0)
    after = {os.path.join(r, n) for r, _d, fs in os.walk(src) for n in fs}
    assert before == after
    assert sorted(r.id for r in read_delta(spark, src).collect()) == list(range(4, 40))

    # time-travel clone: snapshot BEFORE the source's delete
    dst0 = str(tmp_path / "dst0")
    delta_clone(spark, src, dst0, version=0)
    assert read_delta(spark, dst0).count() == 40


def test_replay_adds_skip_change_commits(spark, tmp_path):
    from pos_dlt_spark.sources.delta import DeltaProtocolError, replay_adds
    from pos_dlt_spark.sources.delta_writer import delta_delete

    import pytest as _pytest

    table = str(tmp_path / "rasc")
    write_delta(_df(spark, 0, 10).coalesce(1), table)      # v0
    delta_delete(spark, table, "id = 3")                    # v1: DV commit
    write_delta(_df(spark, 10, 20).coalesce(1), table)      # v2
    with _pytest.raises(DeltaProtocolError, match="deletion vector"):
        replay_adds(spark, table)
    plan = replay_adds(spark, table, skip_change_commits=True)
    assert [v for v, _ in plan] == [0, 2]  # the DV commit is skipped


def test_merge_only_table_checkpoints_on_cadence(spark, tmp_path):
    """A CDC-style table maintained ONLY by merges must still cross the
    checkpoint cadence (previously only write_delta checkpointed, so a
    merge-per-batch table replayed an ever-growing JSON chain)."""
    import pandas as pd

    from pos_dlt_spark.sources.delta_writer import delta_log_cleanup, delta_merge

    table = str(tmp_path / "mgc")
    write_delta(
        spark.createDataFrame(pd.DataFrame({"k": [0], "seq": [0], "v": ["0"]})),
        table,
    )
    for b in range(1, 5):
        delta_merge(
            spark, table,
            spark.createDataFrame(
                pd.DataFrame({"k": [b % 3], "seq": [b], "v": [f"v{b}"]})
            ),
            keys=["k"], sequence_by="seq", checkpoint_interval=4,
        )
    log = os.path.join(table, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{4:020d}.checkpoint.parquet"))
    assert delta_log_cleanup(spark, table)  # JSON chain now redundant
    got = {r.k: (r.seq, r.v) for r in read_delta(spark, table).collect()}
    assert got == {0: (3, "v3"), 1: (4, "v4"), 2: (2, "v2")}


def test_merge_lost_race_reruns_against_fresh_snapshot(spark, tmp_path, monkeypatch):
    """A merge that loses the commit race re-runs automatically on the
    NEW snapshot (staged files cleaned up) — a row appended by the
    concurrent winner is absorbed into the re-run's window, never
    resurrected or lost. Exhausted retries still raise."""
    import pandas as pd

    import pos_dlt_spark.sources.delta_writer as W
    from pos_dlt_spark.sources.delta_writer import delta_merge

    table = str(tmp_path / "mgr")
    write_delta(
        spark.createDataFrame(pd.DataFrame({"k": [1, 2], "seq": [1, 1],
                                            "v": ["a", "b"]})),
        table,
    )

    real = W._try_commit
    state = {"raced": False}

    def lose_once(log_dir, version, actions, **kw):
        if not state["raced"]:
            state["raced"] = True
            # the concurrent winner lands an append at THIS version:
            # k=9 inserted by another writer while we were staging
            import json as _json

            p = os.path.join(log_dir, f"{version:020d}.json")
            # steal the slot with a realistic blind append (reuse an
            # existing live file's add is not valid — commit an empty
            # data-change marker plus a txn so the fold stays sane)
            with open(p, "w", encoding="utf-8") as fh:
                fh.write(_json.dumps({"commitInfo": {"timestamp": 0, "operation": "WRITE",
                                                     "operationParameters": {}}}) + "\n")
            return False
        return real(log_dir, version, actions)

    monkeypatch.setattr(W, "_try_commit", lose_once)
    v = delta_merge(
        spark, table,
        spark.createDataFrame(pd.DataFrame({"k": [2, 3], "seq": [9, 9],
                                            "v": ["b2", "c"]})),
        keys=["k"], sequence_by="seq",
    )
    assert state["raced"] and v == 2  # v1 stolen, re-run landed at v2
    got = {r.k: r.v for r in read_delta(spark, table).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}
    # no orphaned staged parquet: every data file on disk is referenced
    # by SOME version's live set (the lost attempt's staged files were
    # removed at race time; tombstoned old files are legitimately
    # present until vacuum)
    snap = delta_snapshot(spark, table)
    referenced = set()
    for ver in range(snap.version + 1):
        referenced.update(rel for rel, _ in delta_snapshot(spark, table, ver).files)
    on_disk = {
        os.path.relpath(os.path.join(r, n), table).replace(os.sep, "/")
        for r, _d, fs in os.walk(table)
        for n in fs
        if n.endswith(".parquet") and "_delta_log" not in r
    }
    assert on_disk == referenced

    # retries exhausted -> loud conflict
    monkeypatch.setattr(W, "_try_commit", lambda *a, **kw: False)
    with pytest.raises(DeltaCommitConflict, match="retries"):
        delta_merge(
            spark, table,
            spark.createDataFrame(pd.DataFrame({"k": [5], "seq": [1], "v": ["x"]})),
            keys=["k"], sequence_by="seq", max_retries=2,
        )


def test_multipart_classic_checkpoint_write_roundtrip(spark, tmp_path):
    """parts>1 writes the <v>.checkpoint.<i>.<n>.parquet layout; the
    fold reads the COMPLETE set (and falls back when a part is
    missing)."""
    from pos_dlt_spark.sources import delta_fixture as fx
    from pos_dlt_spark.sources.delta_writer import delta_log_cleanup

    table = str(tmp_path / "mpck")
    for i in range(4):
        write_delta(_df(spark, i * 10, i * 10 + 10).coalesce(1), table)
    snap = delta_snapshot(spark, table)
    fx.write_checkpoint(
        table, snap.version,
        [fx.protocol_action(), fx.metadata_action(snap.schema)]
        + [{"add": dict(a)} for a in snap.adds.values()],
        parts=3,
    )
    log = os.path.join(table, "_delta_log")
    names = sorted(n for n in os.listdir(log) if ".checkpoint." in n)
    assert names == [
        f"{3:020d}.checkpoint.{i:010d}.{3:010d}.parquet" for i in (1, 2, 3)
    ]
    import json as _json

    lc = _json.load(open(os.path.join(log, "_last_checkpoint")))
    assert lc["parts"] == 3 and lc["version"] == 3
    assert delta_log_cleanup(spark, table)  # fold must ride the parts
    got = sorted(r.id for r in read_delta(spark, table).collect())
    assert got == list(range(40))
    # an INCOMPLETE part set (interrupted copy) must not fold silently:
    # remove one part -> the fold has no complete checkpoint and no JSON
    # chain left, so it fails loudly instead of dropping files
    os.remove(os.path.join(log, names[1]))
    with pytest.raises(FileNotFoundError):
        delta_snapshot(spark, table)


def test_generated_columns_computed_validated_and_enforced(spark, tmp_path):
    """delta.generationExpression: appends missing the column get it
    COMPUTED; provided-but-wrong values ABORT before any commit; merge
    updates without the column are computed too — the generation
    invariant readers rely on for pruning never breaks."""
    from pyspark.sql.types import (
        DateType, LongType, IntegerType, StructField, StructType,
    )

    from pos_dlt_spark.sources.delta_writer import (
        DeltaConstraintViolation,
        delta_merge,
    )

    table = str(tmp_path / "gen")
    schema = StructType(
        [
            StructField("k", LongType(), True),
            StructField("d", DateType(), True),
            StructField("yr", IntegerType(), True,
                        {"delta.generationExpression": "CAST(year(d) AS INT)"}),
        ]
    )
    base = spark.createDataFrame(
        [(1, __import__("datetime").date(2024, 3, 1), 2024)], schema
    )
    write_delta(base, table)
    snap = delta_snapshot(spark, table)
    assert snap.protocol.get("minWriterVersion") == 4
    # append WITHOUT the generated column: computed
    app = spark.createDataFrame(
        [(2, __import__("datetime").date(2025, 7, 9))], "k long, d date"
    )
    write_delta(app, table)
    got = {r.k: r.yr for r in read_delta(spark, table).collect()}
    assert got == {1: 2024, 2: 2025}
    # append with a WRONG provided value: aborts, nothing committed
    bad = spark.createDataFrame(
        [(3, __import__("datetime").date(2026, 1, 1), 1999)], schema
    )
    v_before = delta_snapshot(spark, table).version
    with pytest.raises(DeltaConstraintViolation, match="generated"):
        write_delta(bad, table)
    assert delta_snapshot(spark, table).version == v_before
    assert read_delta(spark, table).count() == 2
    # merge updates omitting the column: computed through the merge
    upd = spark.createDataFrame(
        [(1, __import__("datetime").date(2030, 5, 5))], "k long, d date"
    )
    delta_merge(spark, table, upd, keys=["k"], sequence_by="d")
    got = {r.k: r.yr for r in read_delta(spark, table).collect()}
    assert got == {1: 2030, 2: 2025}


def test_merge_delete_predicate_tombstones(spark, tmp_path):
    """whenMatchedDelete / apply_as_deletes through the protocol MERGE:
    a tombstone that wins the ordering removes its key; a stale one
    loses; op-marker columns never reach the files; CDF emits delete
    changes for the removed keys."""
    import pandas as pd

    from pos_dlt_spark.sources.delta_cdf import read_change_feed
    from pos_dlt_spark.sources.delta_writer import delta_merge

    table = str(tmp_path / "mgdel")
    write_delta(
        spark.createDataFrame(
            pd.DataFrame({"k": [1, 2, 3], "seq": [5, 5, 5],
                          "v": ["a", "b", "c"]})
        ),
        table,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [2, 3, 4],
                "seq": [9, 1, 9],       # delete k=2 (newer), delete k=3 (STALE), insert k=4
                "v": [None, None, "d"],
                "op": ["DELETE", "DELETE", "UPSERT"],
            }
        )
    )
    v = delta_merge(
        spark, table, batch, keys=["k"], sequence_by="seq",
        delete_predicate="op = 'DELETE'",
    )
    got = {r.k: r.v for r in read_delta(spark, table).collect()}
    assert got == {1: "a", 3: "c", 4: "d"}  # k=2 gone, stale delete ignored
    assert "op" not in read_delta(spark, table).columns
    ch = read_change_feed(spark, table, start_version=v, end_version=v)
    types = {(r.k, r._change_type) for r in ch.collect()}
    assert types == {(2, "delete"), (4, "insert")}
    # the delete change carries the REMOVED content (preimage)
    assert [r.v for r in ch.collect() if r.k == 2] == ["b"]
    # a tombstone for an absent key is a no-op (no change, no row)
    v2 = delta_merge(
        spark, table,
        spark.createDataFrame(
            pd.DataFrame({"k": [99], "seq": [9], "v": [None], "op": ["DELETE"]})
        ),
        keys=["k"], sequence_by="seq", delete_predicate="op = 'DELETE'",
    )
    assert read_delta(spark, table).count() == 3
    ch2 = read_change_feed(spark, table, start_version=v2, end_version=v2)
    assert ch2.count() == 0


def test_deep_clone_self_contained(spark, tmp_path):
    """DEEP CLONE copies data files and DV sidecars under the clone root
    (relative refs): deleting the ENTIRE source afterwards leaves the
    clone fully readable, DVs included."""
    import shutil

    from pos_dlt_spark.sources.delta import read_delta
    from pos_dlt_spark.sources.delta_writer import delta_clone, delta_delete
    from pyspark.sql import functions as F

    src = str(tmp_path / "dsrc")
    df = spark.range(40).select(F.col("id"), (F.col("id") % 2).cast("int").alias("b"))
    write_delta(df, src, partition_by=["b"])
    delta_delete(spark, src, "id < 4", inline_threshold=8)  # sidecar DV
    delta_delete(spark, src, "id = 10", inline_threshold=10**9)  # inline DV

    dst = str(tmp_path / "ddst")
    assert delta_clone(spark, src, dst, deep=True) == 0
    # every data file exists under the clone root
    local = [
        n for root, _d, fs in os.walk(dst) for n in fs
        if n.endswith(".parquet") and "_delta_log" not in root
    ]
    assert len(local) >= 2
    want = {(i, i % 2) for i in range(4, 40) if i != 10}
    shutil.rmtree(src)  # the source vanishes entirely
    got = {(r.id, r.b) for r in read_delta(spark, dst).collect()}
    assert got == want
    # and the clone keeps evolving on its own
    delta_delete(spark, dst, "id >= 30", mode="rewrite")
    assert sorted(r.id for r in read_delta(spark, dst).collect()) == [
        i for i in range(4, 30) if i != 10
    ]


def test_vacuum_protects_deep_clone_dv_sidecars(spark, tmp_path):
    """A deep clone's DV sidecars are 'p'-storage INSIDE the clone root;
    vacuum must treat them as referenced (deleting one would resurrect
    the deleted rows) while still collecting truly orphaned bins."""
    from pos_dlt_spark.sources.delta import read_delta
    from pos_dlt_spark.sources.delta_writer import (
        delta_clone,
        delta_delete,
        delta_vacuum,
    )
    from pyspark.sql import functions as F

    src = str(tmp_path / "vsrc")
    write_delta(spark.range(30).select(F.col("id")), src)
    delta_delete(spark, src, "id < 5", inline_threshold=8)  # sidecar DV
    dst = str(tmp_path / "vdst")
    delta_clone(spark, src, dst, deep=True)
    # age data files (NOT the log — it sets the cutoff) so mtime-based
    # in-flight protection doesn't mask the walk
    for root, _d, fs in os.walk(dst):
        if "_delta_log" in root:
            continue
        for n in fs:
            p = os.path.join(root, n)
            os.utime(p, (os.path.getmtime(p) - 3600, os.path.getmtime(p) - 3600))
    orphan = os.path.join(dst, "deletion_vector_orphan.bin")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    os.utime(orphan, (os.path.getmtime(orphan) - 3600,) * 2)
    deleted = delta_vacuum(spark, dst, retain_versions=0)
    assert "deletion_vector_orphan.bin" in deleted
    live_bins = [
        n for n in os.listdir(dst)
        if n.startswith("deletion_vector_") and n.endswith(".bin")
    ]
    assert live_bins  # the clone's real sidecar survived
    assert sorted(r.id for r in read_delta(spark, dst).collect()) == list(range(5, 30))


def test_describe_detail(spark, tmp_path):
    from pos_dlt_spark.sources.delta import describe_detail
    from pos_dlt_spark.sources.delta_writer import delta_delete
    from pyspark.sql import functions as F

    table = str(tmp_path / "dd")
    write_delta(
        spark.range(20).select(F.col("id"), (F.col("id") % 2).alias("b"))
        .repartition(1),
        table, partition_by=["b"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delta_delete(spark, table, "id = 3", mode="dv")
    r = describe_detail(spark, table).collect()[0]
    assert r.format == "delta" and r.version == 1
    assert r.numFiles == 2 and r.sizeInBytes > 0
    assert '"b"' in r.partitionColumns
    assert '"delta.enableChangeDataFeed": "true"' in r.properties
    assert "deletionVectors" in r.readerFeatures
    assert r.columnMapping == "none" and r.id


def test_delta_stream_sink_exactly_once(spark, tmp_path):
    """The public foreachBatch sink: batches land as SetTransaction
    appends; replaying a batch id is a no-op (exactly-once under
    foreachBatch replay)."""
    from pos_dlt_spark.sources.delta import read_delta
    from pos_dlt_spark.sources.delta_writer import delta_stream_sink
    from pyspark.sql import functions as F

    land = str(tmp_path / "land")
    spark.range(20).select(F.col("id")).repartition(2).write.parquet(land)
    table = str(tmp_path / "sink")
    sink = delta_stream_sink(table, "app1")
    q = (
        spark.readStream.schema("id bigint").option("maxFilesPerTrigger", "1")
        .parquet(land)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(r.id for r in read_delta(spark, table).collect()) == list(range(20))
    # manual replay of batch 0: skipped by the SetTransaction watermark
    batch0 = spark.read.parquet(land).limit(5)
    v_before = delta_snapshot(spark, table).version
    sink(batch0, 0)
    assert delta_snapshot(spark, table).version == v_before
    assert read_delta(spark, table).count() == 20


@pytest.mark.parametrize("part", [None, ["b"]], ids=["flat", "partitioned"])
def test_delta_stream_sink_empty_batch_and_single_compute(spark, tmp_path, part):
    """The sink's contract: an empty micro-batch commits no version,
    records no SetTransaction and leaves no staged file or ``_staging_*``
    directory behind, on a new table and on an existing one; a
    non-empty batch is computed once, so a stream-level ``observe``
    count equals the rows the table received."""
    from pos_dlt_spark.sources.delta import _abs_file
    from pos_dlt_spark.sources.delta_writer import delta_stream_sink

    def frame(n):
        return spark.range(n).select("id", (F.col("id") % 2).alias("b"))

    def leftovers():
        live = {
            os.path.abspath(_abs_file(table, rel))
            for rel, _ in delta_snapshot(spark, table).files
        }
        return [
            os.path.join(r, n)
            for r, ds, fs in os.walk(table)
            for n in ds + fs
            if n.startswith("_staging_")
            or (n.endswith(".parquet") and "_delta_log" not in r
                and os.path.abspath(os.path.join(r, n)) not in live)
        ]

    table = str(tmp_path / "sink")
    sink = delta_stream_sink(table, "app1", partition_by=part)
    sink(frame(0), 0)
    assert not os.path.isdir(os.path.join(table, "_delta_log"))
    sink(frame(6), 1)
    sink(frame(0), 2)
    snap = delta_snapshot(spark, table)
    assert (snap.version, snap.txns) == (0, {"app1": 1})
    assert leftovers() == []

    land = str(tmp_path / "land")
    spark.range(40).repartition(4).write.parquet(land)
    q = (
        spark.readStream.schema("id bigint").option("maxFilesPerTrigger", "1")
        .parquet(land)
        .select("id", (F.col("id") % 2).alias("b"))
        .observe("rows", F.count(F.lit(1)).alias("n"))
        .writeStream.foreachBatch(delta_stream_sink(table, "app2", partition_by=part))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    observed = sum(
        int(p.observedMetrics["rows"]["n"])
        for p in q.recentProgress if "rows" in (p.observedMetrics or {})
    )
    assert observed == 40
    assert read_delta(spark, table).count() == 46
    assert leftovers() == []


def test_optimize_where_compacts_only_matching_partitions(spark, tmp_path):
    from pos_dlt_spark.sources.delta_writer import delta_optimize
    from pyspark.sql import functions as F

    table = str(tmp_path / "optw")
    df = spark.range(40).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("b")
    ).repartition(4)
    write_delta(df, table, partition_by=["b"])
    write_delta(df, table, partition_by=["b"])  # second files per partition
    before = {rel for rel, _ in delta_snapshot(spark, table).files}
    v = delta_optimize(spark, table, target_files=1, where="b >= 2")
    snap = delta_snapshot(spark, table)
    after = {rel for rel, _ in snap.files}
    # partitions b=0,1 untouched; b=2,3 compacted to one file each
    untouched = {r for r in before if r.startswith(("b=0/", "b=1/"))}
    assert untouched <= after
    for b in (2, 3):
        assert len([r for r in after if r.startswith(f"b={b}/")]) == 1
    got = sorted((r.id, r.b) for r in read_delta(spark, table).collect())
    assert len(got) == 80  # two appends, rows unchanged
    # refusal matrix
    with pytest.raises(ValueError, match="partition columns"):
        delta_optimize(spark, table, where="id > 3")
    t2 = str(tmp_path / "optw2")
    write_delta(spark.range(5).select("id"), t2)
    with pytest.raises(ValueError, match="partitioned"):
        delta_optimize(spark, t2, where="b = 1")


def test_vacuum_dry_run_deletes_nothing(spark, tmp_path):
    from pos_dlt_spark.sources.delta_writer import delta_vacuum
    from pyspark.sql import functions as F

    table = str(tmp_path / "vdr")
    write_delta(spark.range(10).select("id"), table)
    write_delta(spark.range(10, 20).select("id"), table, mode="overwrite")
    # age the overwritten files past the cutoff
    for root, _d, fs in os.walk(table):
        if "_delta_log" in root:
            continue
        for n in fs:
            p = os.path.join(root, n)
            os.utime(p, (os.path.getmtime(p) - 3600,) * 2)
    would = delta_vacuum(spark, table, retain_versions=0, dry_run=True)
    assert would  # the v0 files are deletable
    # nothing actually deleted: time travel to v0 still reads
    from pos_dlt_spark.sources.delta import read_delta as rd

    assert sorted(r.id for r in rd(spark, table, version=0).collect()) == list(range(10))
    done = delta_vacuum(spark, table, retain_versions=0)
    assert sorted(done) == sorted(would)


def test_merge_retry_preserves_tombstones_and_raw_batch(spark, tmp_path, monkeypatch):
    """Regression: a lost commit race must re-run the merge with the
    ORIGINAL update batch and delete_predicate — recursing with the
    transformed frame (op columns dropped, __del demoted) upserted
    tombstone rows as regular rows and lost their CDF delete changes."""
    import pandas as pd

    import pos_dlt_spark.sources.delta_writer as dw
    from pos_dlt_spark.sources.delta_cdf import read_change_feed
    from pos_dlt_spark.sources.delta_writer import delta_merge

    table = str(tmp_path / "mgrace")
    write_delta(
        spark.createDataFrame(
            pd.DataFrame({"k": [1, 2, 3], "seq": [5, 5, 5], "v": ["a", "b", "c"]})
        ),
        table,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [2, 4],
                "seq": [9, 9],
                "v": [None, "d"],
                "op": ["DELETE", "UPSERT"],
            }
        )
    )
    real = dw._try_commit
    fails = {"n": 1}

    def flaky(log_dir, version, actions, **kw):
        if fails["n"]:
            fails["n"] -= 1
            return False  # simulate losing the O_EXCL race once
        return real(log_dir, version, actions)

    monkeypatch.setattr(dw, "_try_commit", flaky)
    v = delta_merge(
        spark, table, batch, keys=["k"], sequence_by="seq",
        delete_predicate="op = 'DELETE'",
    )
    got = {r.k: r.v for r in read_delta(spark, table).collect()}
    assert got == {1: "a", 3: "c", 4: "d"}  # k=2 DELETED, not resurrected
    assert "op" not in read_delta(spark, table).columns
    ch = read_change_feed(spark, table, start_version=v, end_version=v)
    assert {(r.k, r._change_type) for r in ch.collect()} == {
        (2, "delete"), (4, "insert"),
    }
    # no orphaned staged files from the aborted attempt
    snap = delta_snapshot(spark, table)
    live = {rel for rel, _ in snap.files}
    on_disk = {
        os.path.relpath(os.path.join(r, f), table).replace(os.sep, "/")
        for r, _d, fs in os.walk(table)
        for f in fs
        if f.endswith(".parquet") and "_delta_log" not in r and "_change_data" not in r
    }
    # every parquet on disk is either live or a tombstoned (removed)
    # pre-merge file awaiting VACUUM — never an unreferenced staged file
    import json as _json

    log_refs: set[str] = set()
    log_dir = os.path.join(table, "_delta_log")
    for f in os.listdir(log_dir):
        if not f.endswith(".json"):
            continue
        for line in open(os.path.join(log_dir, f)):
            a = _json.loads(line)
            for k in ("add", "remove"):
                if k in a:
                    log_refs.add(a[k]["path"])
    assert on_disk <= log_refs


def test_merge_partition_prune_bails_on_high_cardinality(spark, tmp_path, monkeypatch):
    """VERDICT r06 #3: partition-keyed merge's distinct-value collect is
    an optimization bounded by PRUNE_MAX_DISTINCT_KEYS — past it the
    merge touches all files (no driver value collection) and still
    commits correctly."""
    import pandas as pd

    import pos_dlt_spark.sources.delta_writer as dw
    from pos_dlt_spark.sources.delta_writer import delta_merge

    table = str(tmp_path / "phc")
    df = spark.createDataFrame(
        pd.DataFrame(
            {"k": [0, 1, 2, 3], "seq": [1] * 4, "v": ["a", "b", "c", "d"]}
        )
    )
    write_delta(df, table, partition_by=["k"])
    monkeypatch.setattr(dw, "PRUNE_MAX_DISTINCT_KEYS", 1)  # force bail-out
    delta_merge(
        spark, table,
        spark.createDataFrame(
            pd.DataFrame({"k": [1, 2, 5], "seq": [9] * 3, "v": ["B", "C", "E"]})
        ),
        keys=["k"], sequence_by="seq",
    )
    got = {r.k: r.v for r in read_delta(spark, table).collect()}
    assert got == {0: "a", 1: "B", 2: "C", 3: "d", 5: "E"}


# --- MERGE-ON-READ MERGE (mode='dv') ---------------------------------------


def _merge_batch(spark, specs):
    from pyspark.sql import functions as F

    return spark.createDataFrame(specs, "id long, seq long, name string")


def test_dv_merge_equals_rewrite_merge(spark, tmp_path):
    """dv-mode merge and rewrite-mode merge produce row-identical
    tables across updates, stale updates, inserts and tombstones —
    and dv-mode never rewrites an original data file."""
    from pos_dlt_spark.sources.delta_writer import delta_merge

    def seed(t):
        write_delta(
            spark.range(40).selectExpr(
                "id", "CAST(5 AS LONG) seq", "concat('n', id) name"
            ).repartition(2),
            t,
        )

    batch = (
        # fresh updates
        [(1, 9, "upd1"), (2, 9, "upd2")]
        # stale update (seq 3 < 5): old row must survive untouched
        + [(3, 3, "stale3")]
        # insert
        + [(100, 9, "new100")]
        # tombstone (name marks it; delete_predicate keys on it)
        + [(4, 9, "DEL")]
    )
    ta, tb = str(tmp_path / "a"), str(tmp_path / "b")
    rows = lambda t: sorted(
        (r.id, r.seq, r.name) for r in read_delta(spark, t).collect()
    )
    for t, mode in ((ta, "dv"), (tb, "rewrite")):
        seed(t)
        before = {rel for rel, _ in delta_snapshot(spark, t).files}
        sizes = {
            rel: os.path.getsize(os.path.join(t, rel)) for rel in before
        }
        delta_merge(
            spark, t, _merge_batch(spark, batch), keys=["id"],
            sequence_by="seq", delete_predicate="name = 'DEL'", mode=mode,
        )
        if mode == "dv":
            snap = delta_snapshot(spark, t)
            live = {rel for rel, _ in snap.files}
            assert before <= live  # originals live behind DVs
            for rel in before:
                assert os.path.getsize(os.path.join(t, rel)) == sizes[rel]
            dvd = [r for r in before if snap.adds[r].get("deletionVector")]
            assert dvd  # updated/deleted keys' files carry DVs
    assert rows(ta) == rows(tb)
    got = dict((i, n) for i, _s, n in rows(ta))
    assert got[1] == "upd1" and got[2] == "upd2"
    assert got[3] == "n3"            # stale update lost
    assert got[100] == "new100"      # insert landed
    assert 4 not in got              # tombstone deleted
    assert len(got) == 40            # 40 - 1 deleted + 1 inserted


def test_dv_merge_cdf_and_row_ids(spark, tmp_path):
    """dv-mode merge: CDF change files equal rewrite-mode's, and on a
    row-tracking table updated keys keep their ids."""
    from pos_dlt_spark.sources.delta_cdf import read_change_feed
    from pos_dlt_spark.sources.delta_rowtracking import read_delta_with_row_ids
    from pos_dlt_spark.sources.delta_writer import delta_merge

    conf = {
        "delta.enableChangeDataFeed": "true",
        "delta.enableRowTracking": "true",
    }
    ta, tb = str(tmp_path / "a"), str(tmp_path / "b")
    for t in (ta, tb):
        write_delta(
            spark.range(20).selectExpr(
                "id", "CAST(1 AS LONG) seq", "concat('n', id) name"
            ).coalesce(1),
            t, configuration=conf,
        )
    ids_before = {
        r.id: r._row_id for r in read_delta_with_row_ids(spark, ta).collect()
    }
    batch = [(5, 9, "five"), (777, 9, "new")]
    delta_merge(spark, ta, _merge_batch(spark, batch), ["id"], "seq", mode="dv")
    delta_merge(spark, tb, _merge_batch(spark, batch), ["id"], "seq", mode="rewrite")
    feed = lambda t: sorted(
        (r._change_type, r.id, r.name)
        for r in read_change_feed(spark, t, start_version=1).collect()
    )
    assert feed(ta) == feed(tb)
    assert feed(ta) == [
        ("insert", 777, "new"),
        ("update_postimage", 5, "five"),
        ("update_preimage", 5, "n5"),
    ]
    ids_after = {
        r.id: r._row_id for r in read_delta_with_row_ids(spark, ta).collect()
    }
    for i in range(20):
        assert ids_after[i] == ids_before[i]  # incl. updated key 5
    assert ids_after[777] not in set(ids_before.values())


def test_dv_merge_txn_idempotent_and_validation(spark, tmp_path):
    from pos_dlt_spark.sources.delta_writer import delta_merge

    t = str(tmp_path / "t")
    write_delta(
        spark.range(10).selectExpr(
            "id", "CAST(1 AS LONG) seq", "concat('n', id) name"
        ).coalesce(1),
        t,
    )
    batch = _merge_batch(spark, [(1, 9, "one")])
    v1 = delta_merge(spark, t, batch, ["id"], "seq", txn=("app", 1), mode="dv")
    v2 = delta_merge(spark, t, batch, ["id"], "seq", txn=("app", 1), mode="dv")
    assert v2 == v1  # replay skipped
    assert read_delta(spark, t).filter("name = 'one'").count() == 1
    with pytest.raises(ValueError, match="mode must be"):
        delta_merge(spark, t, batch, ["id"], "seq", mode="zzz")


def test_vacuum_parallel_walk_matches_sequential(spark, tmp_path, monkeypatch):
    """The executor-side candidate walk (big tables) must produce exactly
    the sequential walk's deletable set — partitioned layout, orphans in
    subdirs and at the root, sidecar naming filter included."""
    from pyspark.sql import functions as F

    from pos_dlt_spark.sources import delta_writer as W
    from pos_dlt_spark.sources.delta import read_delta
    from pos_dlt_spark.sources.delta_writer import (
        delta_optimize,
        delta_vacuum,
        write_delta,
    )

    t = str(tmp_path / "vpar")
    df = spark.range(0, 2000).withColumn("p", (F.col("id") % 4).cast("string"))
    write_delta(df.repartition(8), t, partition_by=["p"])
    delta_optimize(spark, t, target_files=1)  # old files become deletable
    for orphan in ("orphan-a.parquet", "p=0/orphan-b.parquet", "junk.txt"):
        fp = os.path.join(t, orphan)
        os.makedirs(os.path.dirname(fp), exist_ok=True)
        with open(fp, "wb") as fh:
            fh.write(b"x")
    seq = sorted(
        delta_vacuum(spark, t, retain_versions=0, grace_seconds=-3600, dry_run=True)
    )
    monkeypatch.setattr(W, "VACUUM_PARALLEL_WALK_MIN", 0)
    par = sorted(
        delta_vacuum(spark, t, retain_versions=0, grace_seconds=-3600, dry_run=True)
    )
    assert par == seq and len(seq) >= 10
    assert "orphan-a.parquet" in seq and os.path.join("p=0", "orphan-b.parquet") in seq
    assert "junk.txt" not in seq  # only data/sidecar shapes are collected
    gone = delta_vacuum(spark, t, retain_versions=0, grace_seconds=-3600)
    assert sorted(gone) == seq
    assert read_delta(spark, t).count() == 2000


def _v2_manifest_sidecars(table: str) -> tuple[str, set[str]]:
    """(manifest path, sidecar names) of the NEWEST v2 manifest."""
    import pyarrow.parquet as pq

    from pos_dlt_spark.sources.delta import _CKPT_V2_RE, _list_log

    log = os.path.join(table, "_delta_log")
    _, ckpts = _list_log(log)
    v = max(ckpts)
    manifest = next(
        p for p in ckpts[v] if _CKPT_V2_RE.match(os.path.basename(p))
    )
    rows = pq.read_table(manifest, columns=["sidecar"]).to_pylist()
    names = {
        r["sidecar"]["path"] for r in rows if r.get("sidecar") and r["sidecar"].get("path")
    }
    return manifest, names


def test_v2_incremental_checkpoint_reuses_sidecars_on_append(
    spark, tmp_path, monkeypatch
):
    """A pure-append window reuses EVERY prior sidecar verbatim and adds
    exactly one new sidecar with the window's adds. The folded state
    after log cleanup is exact."""
    from pos_dlt_spark.sources import delta_writer as dw
    from pos_dlt_spark.sources.delta_writer import delta_log_cleanup

    monkeypatch.setattr(dw, "V2_SIDECAR_TARGET_ADDS", 2)
    table = str(tmp_path / "v2inc")
    for i in range(5):  # v0..v4, checkpoint at v4: 5 files over 3 sidecars
        write_delta(_df(spark, i * 10, i * 10 + 10).coalesce(1), table,
                    checkpoint_interval=4, checkpoint_format="v2")
    _, names1 = _v2_manifest_sidecars(table)
    assert len(names1) == 3  # ceil(5/2)
    for i in range(5, 9):  # v5..v8, checkpoint at v8
        write_delta(_df(spark, i * 10, i * 10 + 10).coalesce(1), table,
                    checkpoint_interval=4, checkpoint_format="v2")
    _, names2 = _v2_manifest_sidecars(table)
    assert names1 < names2, "append window must reuse every prior sidecar"
    assert len(names2) == len(names1) + 1  # one new sidecar for the window
    delta_log_cleanup(spark, table)
    got = sorted(r.id for r in read_delta(spark, table).collect())
    assert got == list(range(90))


def test_v2_incremental_checkpoint_rewrites_touched_sidecar(
    spark, tmp_path, monkeypatch
):
    """A DV DELETE inside the window re-adds its file: the ONE sidecar
    holding that path is rewritten, the others are reused, and the fold
    carries the deletion after log cleanup."""
    from pos_dlt_spark.sources import delta_writer as dw
    from pos_dlt_spark.sources.delta_writer import delta_delete, delta_log_cleanup

    monkeypatch.setattr(dw, "V2_SIDECAR_TARGET_ADDS", 1)
    table = str(tmp_path / "v2del")
    for i in range(5):  # checkpoint at v4: 5 files, one sidecar each
        write_delta(_df(spark, i * 10, i * 10 + 10).coalesce(1), table,
                    checkpoint_interval=4, checkpoint_format="v2")
    _, names1 = _v2_manifest_sidecars(table)
    assert len(names1) == 5
    delta_delete(spark, table, "id < 5", checkpoint_interval=0)  # v5: one file DV'd
    write_delta(_df(spark, 50, 60).coalesce(1), table,
                checkpoint_interval=3, checkpoint_format="v2")  # v6: checkpoint
    _, names2 = _v2_manifest_sidecars(table)
    # 4 of the 5 prior sidecars reused; the DV'd file's sidecar dropped
    # its only row (now empty -> no rewrite emitted); one new sidecar
    # carries the re-added (DV) file and the appended file
    assert len(names1 & names2) == 4
    assert len(names2 - names1) == 1
    delta_log_cleanup(spark, table)
    got = sorted(r.id for r in read_delta(spark, table).collect())
    assert got == list(range(5, 60))
    snap = delta_snapshot(spark, table)
    assert any(a.get("deletionVector") for a in snap.adds.values())


def test_v2_incremental_respreads_when_sidecars_accumulate(
    spark, tmp_path, monkeypatch
):
    """Append-only checkpoints grow one sidecar each; once the plan
    would exceed max(4, 2x need) the layout respreads into need-sized
    slices and incremental reuse resumes on top of it."""
    from pos_dlt_spark.sources import delta_writer as dw

    monkeypatch.setattr(dw, "V2_SIDECAR_TARGET_ADDS", 100)
    table = str(tmp_path / "v2grow")
    sizes = []
    for i in range(7):
        write_delta(_df(spark, i * 10, i * 10 + 10).coalesce(1), table,
                    checkpoint_interval=1, checkpoint_format="v2")
        if i > 0:  # v0 never checkpoints (version <= 0 guard)
            sizes.append(len(_v2_manifest_sidecars(table)[1]))
    assert sizes[:4] == [1, 2, 3, 4]  # full spread, then +1 per window
    assert sizes[4] == 1  # plan of 5 refs > max(4, 2*need=2): respread
    assert sizes[5] == 2  # reuse resumes on the respread layout
    got = sorted(r.id for r in read_delta(spark, table).collect())
    assert got == list(range(70))


def test_log_cleanup_gcs_superseded_checkpoints_and_sidecars(
    spark, tmp_path, monkeypatch
):
    """Incremental v2 reuse leaves rewritten sidecars and superseded
    manifests behind; log cleanup retires below-horizon checkpoints and
    every sidecar no SURVIVING manifest references, while the horizon
    checkpoint still folds the exact state."""
    from pos_dlt_spark.sources import delta_writer as dw
    from pos_dlt_spark.sources.delta_writer import delta_delete, delta_log_cleanup

    monkeypatch.setattr(dw, "V2_SIDECAR_TARGET_ADDS", 1)
    table = str(tmp_path / "scgc")
    for i in range(5):  # checkpoints at v2 and v4
        write_delta(_df(spark, i * 10, i * 10 + 10).coalesce(1), table,
                    checkpoint_interval=2, checkpoint_format="v2")
    delta_delete(spark, table, "id < 5", checkpoint_interval=0)  # v5
    write_delta(_df(spark, 50, 60).coalesce(1), table,
                checkpoint_interval=3, checkpoint_format="v2")  # v6 ckpt
    log = os.path.join(table, "_delta_log")
    sc_dir = os.path.join(log, "_sidecars")
    on_disk_before = set(os.listdir(sc_dir))
    _, live = _v2_manifest_sidecars(table)
    assert live < on_disk_before  # rewrites left orphans behind
    # age everything so the in-flight grace (mtime >= newest log entry)
    # cannot mask the GC
    import time as _time

    old = _time.time() - 3600
    for n in on_disk_before:
        os.utime(os.path.join(sc_dir, n), (old, old))
    for n in os.listdir(log):
        p = os.path.join(log, n)
        if os.path.isfile(p):
            os.utime(p, (old + 1, old + 1))
    deleted = delta_log_cleanup(spark, table)
    assert any(n.startswith("_sidecars") for n in deleted)
    manifests_left = [n for n in os.listdir(log) if ".checkpoint." in n]
    assert len(manifests_left) == 1  # only the horizon checkpoint
    assert set(os.listdir(sc_dir)) == live  # exactly the referenced set
    got = sorted(r.id for r in read_delta(spark, table).collect())
    assert got == list(range(5, 60))


def test_merge_schema_append_evolution(spark, tmp_path):
    """merge_schema=True: new columns append to the table schema in the
    same commit (nullable; old files null-fill at scan), omitted
    existing columns null-fill the new files, type conflicts refuse,
    and without the flag drift still refuses."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "ms")
    write_delta(spark.range(0, 10).select("id", (F.col("id") * 2).alias("v")), t)
    write_delta(
        spark.range(10, 15).select(
            "id", (F.col("id") * 2).alias("v"), F.lit("x").alias("tag")
        ),
        t,
        merge_schema=True,
    )
    d = read_delta(spark, t)
    assert d.columns == ["id", "v", "tag"]
    assert d.count() == 15 and d.filter("tag is null").count() == 10
    # omit an existing column: staged files lack it, scan null-fills
    write_delta(
        spark.range(15, 18).select("id", F.lit("y").alias("tag")),
        t,
        merge_schema=True,
    )
    d2 = read_delta(spark, t)
    assert d2.count() == 18 and d2.filter("v is null").count() == 3
    with pytest.raises(ValueError, match="type conflict"):
        write_delta(
            spark.range(0, 1).select(F.col("id").cast("int").alias("id")),
            t,
            merge_schema=True,
        )
    with pytest.raises(ValueError, match="schema drift"):
        write_delta(
            spark.range(0, 1).select("id", F.lit("z").alias("other")), t
        )
    # idempotent when the schema already matches: no metadata action
    import json as _json

    v = write_delta(
        spark.range(18, 20).select(
            "id", (F.col("id") * 2).alias("v"), F.lit("w").alias("tag")
        ),
        t,
        merge_schema=True,
    )
    commit = os.path.join(t, "_delta_log", f"{v:020d}.json")
    acts = [
        _json.loads(line) for line in open(commit, encoding="utf-8")
    ]
    assert not any("metaData" in a for a in acts)
