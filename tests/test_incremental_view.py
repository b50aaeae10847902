"""Incremental keyed-view maintenance (operators/incremental.py): the
view must always equal a full recompute, while refresh touches only the
buckets whose source pointer changed."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from pos_dlt_spark.operators.cdc import ApplyChanges
from pos_dlt_spark.operators.incremental import IncrementalKeyedView, keyed_count_sum

KEYS = ["store_id", "item_id"]


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "store_id long, item_id long, date_time timestamp, quantity long"
    )


@pytest.fixture()
def pair(spark, tmp_path):
    ac = ApplyChanges(
        str(tmp_path / "silver"), keys=KEYS, sequence_by="date_time", n_buckets=8
    )
    view = IncrementalKeyedView(
        ac, str(tmp_path / "gold"), keyed_count_sum(KEYS, "quantity")
    )
    return ac, view


def _full(spark, ac, view):
    src = ac.read_target(spark)
    return {tuple(r) for r in view.transform(src).collect()}


def test_refresh_matches_full_recompute(spark, pair):
    ac, view = pair
    ac.process_batch(_df(spark, [(1, 1, datetime(2021, 1, 1), 10),
                                 (2, 2, datetime(2021, 1, 1), 5),
                                 (3, 3, datetime(2021, 1, 1), 7)]), 0)
    assert view.refresh(spark)  # first refresh: everything stale
    assert {tuple(r) for r in view.read(spark).collect()} == _full(spark, ac, view)
    # no change -> nothing stale, no-op refresh
    assert view.refresh(spark) == []



def test_gc_leaves_no_marker_only_epoch_dir(spark, tmp_path):
    """A refresh that retires the last bucket of an epoch directory
    removes the directory too — Hadoop's hidden ``._SUCCESS.crc`` beside
    ``_SUCCESS`` is a job marker like it."""
    import json
    import os

    ac = ApplyChanges(
        str(tmp_path / "silver"), keys=KEYS, sequence_by="date_time", n_buckets=4
    )
    root = tmp_path / "gold"
    view = IncrementalKeyedView(ac, str(root), keyed_count_sum(KEYS, "quantity"))
    for i in range(5):  # same key every time -> same bucket rewritten
        ac.process_batch(_df(spark, [(1, 1, datetime(2021, 1, 1 + i), i)]), i)
        assert view.refresh(spark)
    manifest = json.load(open(root / "_manifest.json"))
    referenced = {
        p.split("/")[0] for p in [*manifest["buckets"].values(), *manifest["retired"]]
    }
    on_disk = {e for e in os.listdir(root) if e.startswith("epoch_")}
    assert on_disk == referenced
    assert {tuple(r) for r in view.read(spark).collect()} == _full(spark, ac, view)

def test_refresh_touches_only_changed_buckets(spark, pair):
    ac, view = pair
    ac.process_batch(_df(spark, [(k, k, datetime(2021, 1, 1), k) for k in range(1, 20)]), 0)
    view.refresh(spark)
    before = dict(view._t._read_manifest()["buckets"])
    # update ONE key -> one silver bucket rewritten
    ac.process_batch(_df(spark, [(1, 1, datetime(2021, 1, 2), 99)]), 1)
    stale = view.stale_buckets()
    assert len(stale) == 1
    refreshed = view.refresh(spark)
    assert refreshed == stale
    after = dict(view._t._read_manifest()["buckets"])
    changed = {b for b in after if after[b] != before.get(b)}
    assert changed == {str(b) for b in refreshed}  # untouched pointers stable
    assert {tuple(r) for r in view.read(spark).collect()} == _full(spark, ac, view)


def test_transform_must_keep_keys(spark, pair):
    ac, _ = pair
    ac.process_batch(_df(spark, [(1, 1, datetime(2021, 1, 1), 10)]), 0)
    bad = IncrementalKeyedView(
        ac, ac.target_path + "_bad", lambda df: df.select("quantity")
    )
    with pytest.raises(ValueError, match="key columns"):
        bad.refresh(spark)


def test_prefix_bucketing_enables_rollup_view(spark, tmp_path):
    """Silver keyed (store, item) but bucketed by store alone: a
    store-level rollup aggregates MANY silver rows per output row, stays
    bucket-local, and refreshing after one item's change touches only
    that store's bucket."""
    ac = ApplyChanges(
        str(tmp_path / "silver2"), keys=KEYS, sequence_by="date_time",
        n_buckets=8, bucket_keys=["store_id"],
    )
    rows = [(s, i, datetime(2021, 1, 1), s * 10 + i) for s in range(1, 5) for i in range(1, 6)]
    ac.process_batch(_df(spark, rows), 0)
    view = IncrementalKeyedView(
        ac, str(tmp_path / "gold2"), keyed_count_sum(["store_id"], "quantity"),
        keys=["store_id"],
    )
    view.refresh(spark)
    got = {tuple(r) for r in view.read(spark).collect()}
    assert got == {
        (s, 5, float(sum(s * 10 + i for i in range(1, 6)))) for s in range(1, 5)
    }
    before = dict(view._t._read_manifest()["buckets"])
    ac.process_batch(_df(spark, [(2, 3, datetime(2021, 1, 2), 999)]), 1)
    refreshed = view.refresh(spark)
    assert len(refreshed) == 1
    after = dict(view._t._read_manifest()["buckets"])
    assert {b for b in after if after[b] != before.get(b)} == {str(refreshed[0])}
    got2 = {tuple(r) for r in view.read(spark).collect()}
    want2 = {
        (s, 5, float(sum((999 if (s, i) == (2, 3) else s * 10 + i) for i in range(1, 6))))
        for s in range(1, 5)
    }
    assert got2 == want2


def test_rollup_view_rejects_non_bucket_local_keys(spark, tmp_path):
    ac = ApplyChanges(
        str(tmp_path / "silver3"), keys=KEYS, sequence_by="date_time", n_buckets=4
    )
    with pytest.raises(ValueError, match="bucket_keys"):
        IncrementalKeyedView(
            ac, str(tmp_path / "gold3"), keyed_count_sum(["store_id"], "quantity"),
            keys=["store_id"],
        )


def test_bucket_keys_must_be_key_subset(tmp_path):
    with pytest.raises(ValueError, match="subset"):
        ApplyChanges(
            str(tmp_path / "x"), keys=KEYS, sequence_by="date_time",
            n_buckets=4, bucket_keys=["somewhere_else"],
        )


# -- joined view (CDC target + append-only fact input; VERDICT r11 #1) ------


def _gold_transform(snap, chg):
    """The flagship shape: snapshot LEFT JOIN changes grouped by key."""
    a, b = snap.alias("a"), chg.alias("b")
    cond = (
        (F.col("a.store_id") == F.col("b.store_id"))
        & (F.col("a.item_id") == F.col("b.item_id"))
        & (F.col("a.date_time") <= F.col("b.date_time"))
    )
    return (
        a.join(b, cond, "left_outer")
        .groupBy(
            F.col("a.store_id").alias("store_id"),
            F.col("a.item_id").alias("item_id"),
        )
        .agg(
            F.max("a.quantity").alias("snapshot_quantity"),
            F.coalesce(F.sum(F.col("b.quantity").cast("bigint")),
                       F.lit(0).cast("bigint")).alias("change_quantity"),
        )
    )


@pytest.fixture()
def joined(spark, tmp_path):
    import os

    from pos_dlt_spark.operators.incremental import IncrementalJoinedView

    ac = ApplyChanges(
        str(tmp_path / "silver"), keys=KEYS, sequence_by="date_time",
        n_buckets=8, bucket_keys=["store_id"],
    )
    fact = str(tmp_path / "changes")
    os.makedirs(fact, exist_ok=True)
    view = IncrementalJoinedView(
        ac, str(tmp_path / "gold"), _gold_transform,
        aux_path=fact, aux_partition_col="store_id",
    )
    return ac, fact, view


def _append_fact(spark, fact, rows):
    _df(spark, rows).write.mode("append").partitionBy("store_id").parquet(fact)


def _joined_full(spark, ac, fact, view):
    snap = ac.read_target(spark)
    chg = spark.read.parquet(fact)
    return {tuple(r) for r in view.transform2(snap, chg).collect()}


def test_joined_view_matches_full_recompute(spark, joined):
    ac, fact, view = joined
    ac.process_batch(_df(spark, [(1, 1, datetime(2021, 1, 2), 10),
                                 (2, 2, datetime(2021, 1, 2), 5)]), 0)
    _append_fact(spark, fact, [(1, 1, datetime(2021, 1, 3), 3),
                               (1, 1, datetime(2021, 1, 1), 99),   # pre-snapshot: excluded
                               (2, 2, datetime(2021, 1, 4), -2)])
    assert view.refresh(spark)
    assert {tuple(r) for r in view.read(spark).collect()} == \
        _joined_full(spark, ac, fact, view)
    assert view.refresh(spark) == []  # nothing changed


def test_joined_view_fact_append_refreshes_only_its_bucket(spark, joined):
    ac, fact, view = joined
    ac.process_batch(_df(spark, [(1, 1, datetime(2021, 1, 1), 10),
                                 (2, 2, datetime(2021, 1, 1), 5),
                                 (3, 3, datetime(2021, 1, 1), 7)]), 0)
    _append_fact(spark, fact, [(1, 1, datetime(2021, 1, 2), 1)])
    view.refresh(spark)
    # append facts for store 2 only -> exactly store 2's bucket refreshes
    _append_fact(spark, fact, [(2, 2, datetime(2021, 1, 3), 4)])
    refreshed = view.refresh(spark)
    b2 = ac._with_bucket(
        _df(spark, [(2, 2, datetime(2021, 1, 1), 0)])
    ).collect()[0]["__bucket"]
    assert refreshed == [b2], (refreshed, b2)
    assert {tuple(r) for r in view.read(spark).collect()} == \
        _joined_full(spark, ac, fact, view)


def test_joined_view_cdc_merge_refreshes_only_its_bucket(spark, joined):
    ac, fact, view = joined
    ac.process_batch(_df(spark, [(1, 1, datetime(2021, 1, 1), 10),
                                 (2, 2, datetime(2021, 1, 1), 5)]), 0)
    _append_fact(spark, fact, [(1, 1, datetime(2021, 1, 2), 1),
                               (2, 2, datetime(2021, 1, 2), 2)])
    view.refresh(spark)
    # a NEWER snapshot for store 1 moves its cutoff; only its bucket refreshes
    ac.process_batch(_df(spark, [(1, 1, datetime(2021, 1, 3), 20)]), 1)
    refreshed = view.refresh(spark)
    b1 = ac._with_bucket(
        _df(spark, [(1, 1, datetime(2021, 1, 1), 0)])
    ).collect()[0]["__bucket"]
    assert refreshed == [b1], (refreshed, b1)
    got = {tuple(r) for r in view.read(spark).collect()}
    assert got == _joined_full(spark, ac, fact, view)
    # store 1's change at Jan 2 now predates its Jan 3 snapshot: excluded
    assert (1, 1, 20, 0) in got, got


def test_joined_view_out_of_order_and_empty_bucket(spark, joined):
    """Out-of-order CDC traffic (older snapshot loses) and a fact
    partition with NO snapshot rows (left-join: contributes nothing,
    but must not break the refresh)."""
    ac, fact, view = joined
    ac.process_batch(_df(spark, [(1, 1, datetime(2021, 1, 5), 10)]), 0)
    _append_fact(spark, fact, [(9, 9, datetime(2021, 1, 2), 7)])  # no snapshot for 9
    view.refresh(spark)
    # out-of-order older snapshot: CDC rejects it; pointer may still move
    ac.process_batch(_df(spark, [(1, 1, datetime(2021, 1, 1), 999)]), 1)
    view.refresh(spark)
    got = {tuple(r) for r in view.read(spark).collect()}
    assert got == {(1, 1, 10, 0)}, got
    assert got == _joined_full(spark, ac, fact, view)


def test_joined_view_requires_matching_partition_col(spark, tmp_path):
    from pos_dlt_spark.operators.incremental import IncrementalJoinedView

    ac = ApplyChanges(
        str(tmp_path / "s"), keys=KEYS, sequence_by="date_time",
        n_buckets=4, bucket_keys=["store_id"],
    )
    with pytest.raises(ValueError, match="bucket-routing column"):
        IncrementalJoinedView(
            ac, str(tmp_path / "g"), _gold_transform,
            aux_path=str(tmp_path / "f"), aux_partition_col="item_id",
        )
