"""The file-identity contract of every positional Delta read: deletion
vectors, row-tracking ids and the DML match scans key on the one
``__fid`` the scan resolves, and the result is the same whichever
resolver branch runs (literal map, or broadcast join past
``DV_FID_MAP_MAX``) and whatever the partition directories look like.

Each case runs DV DELETE, dv-mode UPDATE, dv-mode MERGE and a
replaceWhere that straddles files on a row-tracking table, then checks
the Spark reads against a Python model and against an independent
pyarrow read of the committed log (baseRowId + row index or the
materialized id, minus the decoded deletion vectors)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from pos_dlt_spark.sources import delta as D
from pos_dlt_spark.sources.delta import _abs_file, delta_snapshot, read_delta
from pos_dlt_spark.sources.delta_rowtracking import (
    MAT_ROW_ID_PROP,
    MAT_ROW_VER_PROP,
    read_delta_with_row_ids,
)
from pos_dlt_spark.sources.delta_writer import (
    delta_delete,
    delta_merge,
    delta_update,
    write_delta,
)
from pos_dlt_spark.sources.dv import decode_dv_numpy, read_dv_bytes

RT_CONF = {"delta.enableRowTracking": "true"}
SCHEMA = "id long, p string, seq long, v string"
LAYOUTS = {
    # name: (partition_by, the three values of p)
    "flat": (None, ["a", "b", "c"]),
    # directory names with a space, ',' and '(' (kept verbatim on disk)
    "partitioned": (["p"], ["a b,c", "(x) y", "z,(w)"]),
    # '%' and '=' are Hive-escaped on disk (p=k%3Dv); the add path
    # URI-encodes that name once more (p=k%253Dv)
    "partitioned_escaped": (["p"], ["50% (off)", "k=v", "a b"]),
}


def _rows(spark, pvals, ids, seq, v):
    return spark.createDataFrame(
        [(i, pvals[i % 3], seq, v(i)) for i in ids], SCHEMA
    ).coalesce(1)


def _dv_cardinalities(spark, t):
    """Each live file's committed DV cardinality, checked against the
    decoded bitmap."""
    snap = delta_snapshot(spark, t)
    out = []
    for rel, _ in snap.files:
        dv = snap.adds[rel].get("deletionVector")
        if dv:
            assert dv["cardinality"] == len(decode_dv_numpy(read_dv_bytes(t, dv)))
            out.append(dv["cardinality"])
    return out


def _log_oracle(spark, t):
    """(id, p, seq, v, row id, row commit version) of every live row,
    read with pyarrow file by file — no Spark scan, no file-id lookup."""
    snap = delta_snapshot(spark, t)
    mat_id = snap.configuration[MAT_ROW_ID_PROP]
    mat_ver = snap.configuration[MAT_ROW_VER_PROP]
    out = []
    for rel, pv in snap.files:
        add = snap.adds[rel]
        dv = add.get("deletionVector")
        dead = set(decode_dv_numpy(read_dv_bytes(t, dv)).tolist()) if dv else set()
        tbl = pq.read_table(_abs_file(t, rel)).to_pylist()
        for i, r in enumerate(tbl):
            if i in dead:
                continue
            rid = r.get(mat_id)
            ver = r.get(mat_ver)
            out.append((
                r["id"], r.get("p", pv.get("p")), r["seq"], r["v"],
                add["baseRowId"] + i if rid is None else rid,
                add["defaultRowCommitVersion"] if ver is None else ver,
            ))
    return sorted(out)


def _spark_rows(spark, t):
    return sorted(
        (r.id, r.p, r.seq, r.v, r._row_id, r._row_commit_version)
        for r in read_delta_with_row_ids(spark, t).collect()
    )


@pytest.mark.parametrize(
    "layout",
    [
        "flat",
        "partitioned",
        "partitioned_escaped",
    ],
)
@pytest.mark.parametrize("fid_map_max", [None, 0], ids=["literal_map", "broadcast_join"])
def test_positional_reads_agree_across_resolver_branches(
    spark, tmp_path, monkeypatch, fid_map_max, layout
):
    if fid_map_max is not None:
        monkeypatch.setattr(D, "DV_FID_MAP_MAX", fid_map_max)
    t = str(tmp_path / "t")
    part, pvals = LAYOUTS[layout]
    write_delta(_rows(spark, pvals, range(30), 0, "n{}".format), t,
                partition_by=part, configuration=RT_CONF)
    write_delta(_rows(spark, pvals, range(30, 60), 0, "n{}".format), t, partition_by=part)
    ids0 = {r[0]: r[4] for r in _spark_rows(spark, t)}
    assert sorted(ids0.values()) == list(range(60))
    model = {i: (pvals[i % 3], 0, f"n{i}") for i in range(60)}

    # DV DELETE
    _, n = delta_delete(spark, t, "id % 7 = 0")
    dead = [i for i in model if i % 7 == 0]
    for i in dead:
        del model[i]
    assert n == len(dead) == 9
    assert sum(_dv_cardinalities(spark, t)) == 9

    # dv-mode UPDATE: the old copies go behind a DV, ids are kept
    v_upd, n = delta_update(spark, t, "id % 5 = 1", {"v": "'upd'"}, mode="dv")
    updated = [i for i in model if i % 5 == 1]
    for i in updated:
        model[i] = (model[i][0], 0, "upd")
    assert n == len(updated) == 10
    assert sum(_dv_cardinalities(spark, t)) == 19

    # dv-mode MERGE: keys 2 and 3 win over their old rows, 100 is new
    v_merge = delta_merge(
        spark, t, _rows(spark, pvals, [2, 3, 100], 1, "m{}".format), ["id"], "seq",
        mode="dv",
    )
    for i in (2, 3, 100):
        model[i] = (pvals[i % 3], 1, f"m{i}")
    assert sum(_dv_cardinalities(spark, t)) == 21

    # replaceWhere straddling files: the original and the UPDATE's files
    # each keep rows outside the range, so every hit goes behind a DV
    replaced = [i for i in model if 10 <= i < 20]
    write_delta(
        _rows(spark, pvals, range(10, 20), 2, "r{}".format), t, mode="overwrite",
        partition_by=part, replace_where="id >= 10 AND id < 20",
    )
    for i in range(10, 20):
        model[i] = (pvals[i % 3], 2, f"r{i}")
    assert sum(_dv_cardinalities(spark, t)) == 21 + len(replaced) == 30

    got = _spark_rows(spark, t)
    assert got == _log_oracle(spark, t)
    assert sorted(r[:4] for r in got) == sorted((i, *m) for i, m in model.items())
    assert sorted(r.id for r in read_delta(spark, t).collect()) == sorted(model)
    rid = {r[0]: r[4] for r in got}
    ver = {r[0]: r[5] for r in got}
    assert len(set(rid.values())) == len(rid)
    fresh = set(range(10, 20)) | {100}
    for i in model:
        if i in fresh:
            assert rid[i] >= 60, i
        else:
            assert rid[i] == ids0[i], i
    for i in (2, 3):
        assert ver[i] == v_merge
    for i in updated:
        if i not in fresh:
            assert ver[i] == v_upd, i


def test_escaped_partition_paths_survive_maintenance(spark, tmp_path):
    """The on-disk consumers of ``add.path`` / ``cdc.path`` decode it: on
    a table whose partition values are Hive-escaped on disk, the change
    feed reads its change files, VACUUM collects only the overwritten
    files, RESTORE finds its target's files, a deep CLONE copies them
    to the same directories, and CONVERT TO DELTA records paths the
    reader resolves."""
    from pos_dlt_spark.sources.delta_cdf import read_change_feed
    from pos_dlt_spark.sources.delta_writer import (
        convert_to_delta,
        delta_clone,
        delta_restore,
        delta_vacuum,
    )

    part, pvals = LAYOUTS["partitioned_escaped"]
    t = str(tmp_path / "t")
    write_delta(_rows(spark, pvals, range(9), 0, "a{}".format), t, partition_by=part,
                configuration={"delta.enableChangeDataFeed": "true"})
    live0 = {_abs_file(t, rel) for rel, _ in delta_snapshot(spark, t).files}
    write_delta(_rows(spark, pvals, range(9), 1, "b{}".format), t, mode="overwrite",
                partition_by=part)
    delta_delete(spark, t, "id = 4")
    assert sorted(
        (r.id, r._change_type) for r in read_change_feed(spark, t, 2).collect()
    ) == [(4, "delete")]

    def rows(path):
        return sorted((r.id, r.p, r.v) for r in read_delta(spark, path).collect())

    gone = delta_vacuum(spark, t, retain_versions=1, dry_run=True)
    assert {os.path.join(t, g) for g in gone} == live0
    delta_restore(spark, t, version=0)
    assert rows(t) == [(i, pvals[i % 3], f"a{i}") for i in range(9)]
    delta_clone(spark, t, str(tmp_path / "deep"), deep=True)
    assert rows(str(tmp_path / "deep")) == rows(t)

    flat = str(tmp_path / "conv")
    spark.createDataFrame(
        [(i, pvals[i % 3]) for i in range(6)], "id long, p string"
    ).write.partitionBy("p").parquet(flat)
    convert_to_delta(spark, flat)
    assert sorted((r.id, r.p) for r in read_delta(spark, flat).collect()) == [
        (i, pvals[i % 3]) for i in range(6)
    ]


def test_optimize_rewrites_into_the_writers_partition_directories(spark, tmp_path):
    """OPTIMIZE compacts each partition into the directory Spark's writer
    chose for it: Hive-escaped, so ``k=v`` stays ``p=k%3Dv/`` and a ``/``
    in a value does not nest a directory. Rows are unchanged and the
    table checks clean."""
    from pos_dlt_spark.sources.delta_check import delta_fsck
    from pos_dlt_spark.sources.delta_writer import delta_optimize

    pvals = ["50% (off)", "k=v", "a/b"]
    t = str(tmp_path / "t")
    for ids in (range(9), range(9, 18)):
        write_delta(_rows(spark, pvals, ids, 0, "n{}".format), t, partition_by=["p"])

    def dirs():
        out: dict[str, set[str]] = {}
        for rel, pv in delta_snapshot(spark, t).files:
            out.setdefault(pv["p"], set()).add(os.path.dirname(_abs_file(t, rel)))
        return out

    def rows():
        return sorted((r.id, r.p, r.v) for r in read_delta(spark, t).collect())

    written, before = dirs(), rows()
    assert sorted(written) == sorted(pvals)
    assert all(len(d) == 1 for d in written.values())
    delta_optimize(spark, t)
    assert len(delta_snapshot(spark, t).files) == 3
    assert dirs() == written
    assert rows() == before
    assert delta_fsck(spark, t) == []
