"""ApplyChanges.delete_keys — transactional key deletion through the
bucketed manifest target (right-to-be-forgotten): only touched buckets
rewrite, untouched bucket files stay byte-identical, emptied buckets lose
their pointer, the prior snapshot stays time-travelable for one
generation, and unbucketed targets refuse."""

import os
from datetime import datetime

import pytest

from pos_dlt_spark.operators.cdc import ApplyChanges

KEYS = ["store_id", "item_id"]
COLS = ["store_id", "item_id", "date_time", "quantity"]


def seed_rows():
    # store_id routes the bucket (bucket_keys=KEYS default uses both keys);
    # enough spread to land in several of the 4 buckets
    return [
        (s, i, datetime(2021, 1, 1), 10 * s + i) for s in range(4) for i in range(3)
    ]


@pytest.fixture
def ac(tmp_path, spark):
    ac = ApplyChanges(
        str(tmp_path / "target"), keys=KEYS, sequence_by="date_time", n_buckets=4
    )
    ac.process_batch(spark.createDataFrame(seed_rows(), COLS), epoch_id=0)
    return ac


def keyset(df):
    return {(r.store_id, r.item_id) for r in df.collect()}


def bucket_files(ac):
    m = ac._read_manifest()
    out = {}
    for b, rel in m["buckets"].items():
        d = os.path.join(ac.target_path, rel)
        out[b] = {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }
    return out

def test_deletes_exactly_the_doomed_keys(spark, ac):
    doomed = spark.createDataFrame([(1, 0), (2, 2)], KEYS)
    n = ac.delete_keys(spark, doomed)
    assert n == 2
    got = keyset(ac.read_target(spark))
    assert got == {(s, i) for s in range(4) for i in range(3)} - {(1, 0), (2, 2)}


def test_untouched_buckets_not_rewritten(spark, ac):
    before = bucket_files(ac)
    doomed = spark.createDataFrame([(1, 0)], KEYS)
    ac.delete_keys(spark, doomed)
    after = bucket_files(ac)
    changed = {b for b in before if after.get(b) != before[b]}
    untouched = set(before) - changed
    assert untouched, "expected some bucket to stay in place"
    for b in untouched:
        assert after[b] == before[b]  # same files, same mtimes


def test_previous_snapshot_survives_one_generation(spark, ac):
    doomed = spark.createDataFrame([(0, 0)], KEYS)
    ac.delete_keys(spark, doomed)
    prev = ac.read_target(spark, previous=True)
    assert (0, 0) in keyset(prev)
    assert (0, 0) not in keyset(ac.read_target(spark))


def test_emptied_bucket_loses_pointer(spark, ac):
    # doom EVERY key: all buckets empty, manifest ends with no pointers
    doomed = spark.createDataFrame(seed_rows(), COLS).select(*KEYS)
    n = ac.delete_keys(spark, doomed)
    assert n == 12
    assert ac._read_manifest()["buckets"] == {}
    # the state is empty, not absent: downstream readers keep working
    empty = ac.read_target(spark)
    assert empty.count() == 0 and empty.columns == COLS


def test_missing_keys_are_noops(spark, ac):
    assert ac.delete_keys(spark, spark.createDataFrame([(9, 9)], KEYS)) == 0
    assert len(keyset(ac.read_target(spark))) == 12


def test_merge_after_delete_reinserts(spark, ac):
    ac.delete_keys(spark, spark.createDataFrame([(1, 1)], KEYS))
    ac.process_batch(
        spark.createDataFrame([(1, 1, datetime(2021, 2, 1), 77)], COLS), epoch_id=1
    )
    rows = {
        (r.store_id, r.item_id): r.quantity for r in ac.read_target(spark).collect()
    }
    assert rows[(1, 1)] == 77


def test_unbucketed_target_refuses(spark, tmp_path):
    ac = ApplyChanges(str(tmp_path / "t2"), keys=KEYS, sequence_by="date_time")
    ac.process_batch(spark.createDataFrame(seed_rows(), COLS), epoch_id=0)
    with pytest.raises(ValueError, match="bucketed"):
        ac.delete_keys(spark, spark.createDataFrame([(1, 0)], KEYS))
