"""UniForm (Iceberg) metadata emission: hand-rolled Avro object
container round-trips, commit-time sync on append-only tables, the
boundary refusals, and the optimize->resync->vacuum ordering that keeps
Iceberg readers from ever holding a stale manifest."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pos_dlt_spark.sources import iceberg_uniform as uf
from pos_dlt_spark.sources.delta import delta_snapshot, read_delta
from pos_dlt_spark.sources.delta_writer import (
    delta_optimize,
    delta_vacuum,
    write_delta,
)

UNIFORM_CONF = {
    "delta.appendOnly": "true",
    "delta.universalFormat.enabledFormats": "iceberg",
}


def test_avro_container_roundtrip(tmp_path):
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"], "default": None},
            {"name": "c", "type": {"type": "map", "values": "int"}},
            {"name": "d", "type": {"type": "array", "items": "double"}},
            {
                "name": "e",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "x", "type": "boolean"}],
                },
            },
        ],
    }
    rows = [
        {"a": -1, "b": None, "c": {}, "d": [], "e": {"x": True}},
        {"a": 2**40, "b": "héllo", "c": {"k": -7}, "d": [1.5, -2.25], "e": {"x": False}},
    ]
    p = str(tmp_path / "t.avro")
    uf.write_avro(p, schema, rows, meta={"custom": "yes"})
    got_schema, got = uf.read_avro(p)
    assert got_schema == schema
    assert got == rows


def test_avro_long_zigzag_edges(tmp_path):
    schema = {
        "type": "record",
        "name": "z",
        "fields": [{"name": "v", "type": "long"}],
    }
    vals = [0, -1, 1, 63, -64, 64, 2**31, -(2**31), 2**62, -(2**62)]
    p = str(tmp_path / "z.avro")
    uf.write_avro(p, schema, [{"v": v} for v in vals])
    _, got = uf.read_avro(p)
    assert [r["v"] for r in got] == vals


def test_uniform_sync_on_commit_and_reader_resolution(spark, tmp_path):
    t = str(tmp_path / "uni")
    df = spark.range(0, 100).withColumn("p", (F.col("id") % 2).cast("string"))
    write_delta(df.repartition(2), t, partition_by=["p"], configuration=UNIFORM_CONF)
    write_delta(
        spark.range(100, 150).withColumn("p", F.lit("0")), t, partition_by=["p"]
    )
    files = uf.read_uniform_files(t)
    snap = delta_snapshot(spark, t)
    assert len(files) == len(snap.files)
    assert sum(f["record_count"] for f in files) == 150
    assert {f["partition"]["p"] for f in files} == {"0", "1"}
    assert all(f["file_format"] == "PARQUET" for f in files)
    # the data itself is reachable through the Iceberg metadata alone
    got = spark.read.parquet(*[f["file_path"] for f in files]).count()
    assert got == 150
    # snapshot history grew: one Iceberg snapshot per synced commit
    meta = json.load(
        open(
            os.path.join(
                t,
                "metadata",
                f"v{int(open(os.path.join(t, 'metadata', 'version-hint.text')).read())}.metadata.json",
            )
        )
    )
    assert meta["format-version"] == 2
    assert len(meta["snapshots"]) == 2
    assert meta["current-snapshot-id"] == meta["snapshots"][-1]["snapshot-id"]
    for k in ("schemas", "partition-specs", "last-column-id", "table-uuid"):
        assert k in meta


def test_uniform_optimize_resync_before_vacuum(spark, tmp_path):
    """OPTIMIZE (legal on appendOnly: dataChange=false) re-emits the
    Iceberg snapshot in the same call, so the following VACUUM never
    collects a file the last manifest still references."""
    t = str(tmp_path / "uo")
    write_delta(spark.range(0, 200).repartition(4), t, configuration=UNIFORM_CONF)
    delta_optimize(spark, t, target_files=1)
    delta_vacuum(spark, t, retain_versions=0, grace_seconds=-3600)
    files = uf.read_uniform_files(t)
    assert all(os.path.exists(f["file_path"]) for f in files)
    assert spark.read.parquet(*[f["file_path"] for f in files]).count() == 200
    assert read_delta(spark, t).count() == 200


def test_uniform_refusals(spark, tmp_path):
    df = spark.range(0, 10).withColumn("v", F.col("id"))
    # DML-capable (non-appendOnly) tables are ACCEPTED: removes trigger
    # a full resync and DVs render as Iceberg position deletes
    write_delta(
        df,
        str(tmp_path / "u1"),
        configuration={"delta.universalFormat.enabledFormats": "iceberg"},
    )
    assert uf.read_iceberg(spark, str(tmp_path / "u1")).count() == 10
    with pytest.raises(ValueError, match="column mapping"):
        write_delta(
            df,
            str(tmp_path / "u2"),
            configuration={
                **UNIFORM_CONF,
                "delta.columnMapping.mode": "name",
            },
        )
    nested = spark.range(0, 5).select(
        F.col("id"), F.struct(F.col("id").alias("x")).alias("s")
    )
    with pytest.raises(ValueError, match="Iceberg rendering"):
        write_delta(nested, str(tmp_path / "u3"), configuration=UNIFORM_CONF)


def test_uniform_manifest_field_ids_follow_spec(spark, tmp_path):
    """The emitted Avro schemas carry the spec's REQUIRED field-ids —
    what a real Iceberg reader keys on."""
    t = str(tmp_path / "ui")
    write_delta(spark.range(0, 20), t, configuration=UNIFORM_CONF)
    meta_dir = os.path.join(t, "metadata")
    snaps = [n for n in os.listdir(meta_dir) if n.startswith("snap-")]
    schema, manifests = uf.read_avro(os.path.join(meta_dir, snaps[0]))
    ids = {f["name"]: f.get("field-id") for f in schema["fields"]}
    assert ids["manifest_path"] == 500 and ids["added_snapshot_id"] == 503
    eschema, entries = uf.read_avro(manifests[0]["manifest_path"])
    eids = {f["name"]: f.get("field-id") for f in eschema["fields"]}
    assert eids["status"] == 0 and eids["data_file"] == 2
    dfields = next(f for f in eschema["fields"] if f["name"] == "data_file")
    dids = {f["name"]: f.get("field-id") for f in dfields["type"]["fields"]}
    assert dids["file_path"] == 100 and dids["record_count"] == 103
    assert entries and all(e["status"] == 1 for e in entries)


def test_uniform_incremental_manifests(spark, tmp_path):
    """Appends reuse the prior manifests and add one manifest holding
    only the NEW files (per-commit metadata rides the commit, not the
    table); OPTIMIZE's compaction falls back to one full rewrite."""
    t = str(tmp_path / "uinc")
    write_delta(spark.range(0, 50).coalesce(1), t, configuration=UNIFORM_CONF)
    write_delta(spark.range(50, 100).coalesce(1), t)
    write_delta(spark.range(100, 150).coalesce(1), t)

    def mlist():
        md = os.path.join(t, "metadata")
        v = int(open(os.path.join(md, "version-hint.text")).read())
        meta = json.load(open(os.path.join(md, f"v{v}.metadata.json")))
        cur = next(
            s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        return uf.read_avro(cur["manifest-list"])[1], meta

    manifests, meta = mlist()
    assert len(manifests) == 3  # one manifest per commit, earlier ones reused
    assert [m["added_files_count"] for m in manifests] == [1, 1, 1]
    assert meta["snapshots"][-1]["summary"]["total-records"] == "150"
    files = uf.read_uniform_files(t)
    assert len(files) == 3
    assert spark.read.parquet(*[f["file_path"] for f in files]).count() == 150

    delta_optimize(spark, t, target_files=1)  # removes -> full rewrite
    manifests2, _ = mlist()
    assert len(manifests2) == 1
    files2 = uf.read_uniform_files(t)
    assert spark.read.parquet(*[f["file_path"] for f in files2]).count() == 150


def test_read_iceberg_dataframe_scan(spark, tmp_path):
    """read_iceberg is a metadata-pure DataFrame scan: same rows as the
    Delta read, partition columns re-attached from the hive layout and
    cast to the metadata's declared types."""
    t = str(tmp_path / "ri")
    df = spark.range(0, 120).select(
        F.col("id"),
        (F.col("id") % 3).cast("int").alias("bucket"),
        (F.col("id") * 1.5).alias("v"),
    )
    write_delta(
        df.repartition(2), t, partition_by=["bucket"], configuration=UNIFORM_CONF
    )
    got = uf.read_iceberg(spark, t)
    assert set(got.columns) == {"id", "bucket", "v"}
    assert dict(got.dtypes)["bucket"] == "int"
    delta_rows = {
        (r["id"], r["bucket"], r["v"]) for r in read_delta(spark, t).collect()
    }
    ice_rows = {(r["id"], r["bucket"], r["v"]) for r in got.collect()}
    assert ice_rows == delta_rows


def test_read_iceberg_snapshot_time_travel(spark, tmp_path):
    t = str(tmp_path / "rtt")
    write_delta(spark.range(0, 40).coalesce(1), t, configuration=UNIFORM_CONF)
    write_delta(spark.range(40, 100).coalesce(1), t)
    assert uf.read_iceberg(spark, t).count() == 100
    assert uf.read_iceberg(spark, t, snapshot_id=1).count() == 40
    # timestamp travel: the first snapshot's own timestamp selects it
    md = os.path.join(t, "metadata")
    v = int(open(os.path.join(md, "version-hint.text")).read())
    meta = json.load(open(os.path.join(md, f"v{v}.metadata.json")))
    ts0 = meta["snapshots"][0]["timestamp-ms"]
    assert uf.read_iceberg(spark, t, as_of_timestamp_ms=ts0).count() == 40
    with pytest.raises(ValueError, match="not in table metadata"):
        uf.read_iceberg(spark, t, snapshot_id=99)
    with pytest.raises(ValueError, match="at or before"):
        uf.read_iceberg(spark, t, as_of_timestamp_ms=ts0 - 10_000_000)


def test_read_iceberg_manifest_partition_pruning(spark, tmp_path):
    """Equality partition_filter prunes at the manifest level: only the
    matching partition's files reach the parquet scan."""
    t = str(tmp_path / "rp")
    df = spark.range(0, 90).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("bucket")
    )
    write_delta(
        df.repartition(3, "bucket"),
        t,
        partition_by=["bucket"],
        configuration=UNIFORM_CONF,
    )
    pruned = uf.read_iceberg(spark, t, partition_filter={"bucket": 1})
    all_files = {f["file_path"] for f in uf.read_uniform_files(t)}
    used = {"/" + p.split("://", 1)[-1].lstrip("/") for p in pruned.inputFiles()}
    assert used < all_files  # strictly fewer files than the full scan
    assert all(f"bucket=1" in p for p in used)
    rows = pruned.collect()
    assert len(rows) == 30 and all(r["bucket"] == 1 for r in rows)
    with pytest.raises(ValueError, match="not partition source columns"):
        uf.read_iceberg(spark, t, partition_filter={"id": 1})


def test_read_iceberg_refuses_unknown_file_content(spark, tmp_path):
    """A data_file whose ``content`` is neither data (0), position
    delete (1) nor equality delete (2) refuses loudly — silently
    skipping an unknown row-level format could resurrect deleted rows.
    An equality delete missing its equality_ids refuses too."""
    t = str(tmp_path / "rd")
    write_delta(spark.range(0, 10).coalesce(1), t, configuration=UNIFORM_CONF)
    md = os.path.join(t, "metadata")
    v = int(open(os.path.join(md, "version-hint.text")).read())
    meta = json.load(open(os.path.join(md, f"v{v}.metadata.json")))
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, manifests = uf.read_avro(cur["manifest-list"])
    mp = manifests[0]["manifest_path"]
    schema, entries = uf.read_avro(mp)
    entries[0]["data_file"]["content"] = 7
    uf.write_avro(mp, schema, entries, meta={"content": "data"})
    with pytest.raises(ValueError, match="content"):
        uf.read_iceberg(spark, t)
    entries[0]["data_file"]["content"] = 2  # equality delete, no ids
    uf.write_avro(mp, schema, entries, meta={"content": "data"})
    with pytest.raises(ValueError, match="equality_ids"):
        uf.read_iceberg(spark, t)


def test_avro_deflate_codec_roundtrip(tmp_path):
    """Deflate-codec containers (real Iceberg writers' default) read
    back identically — the foreign-table half of the reader boundary."""
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"], "default": None},
        ],
    }
    rows = [{"a": i, "b": None if i % 3 == 0 else f"s{i}" * 20} for i in range(500)]
    p = str(tmp_path / "d.avro")
    uf.write_avro(p, schema, rows, codec="deflate")
    got_schema, got = uf.read_avro(p)
    assert got_schema == schema and got == rows
    pn = str(tmp_path / "n.avro")
    uf.write_avro(pn, schema, rows, codec="null")
    assert os.path.getsize(p) < os.path.getsize(pn)  # actually compressed


def test_read_iceberg_deflate_manifests(spark, tmp_path):
    """A table whose manifest list + manifests were rewritten with the
    deflate codec (a foreign writer's shape) scans identically."""
    t = str(tmp_path / "rdz")
    df = spark.range(0, 60).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("bucket")
    )
    write_delta(
        df.repartition(2), t, partition_by=["bucket"], configuration=UNIFORM_CONF
    )
    before = {(r["id"], r["bucket"]) for r in uf.read_iceberg(spark, t).collect()}
    md = os.path.join(t, "metadata")
    v = int(open(os.path.join(md, "version-hint.text")).read())
    meta = json.load(open(os.path.join(md, f"v{v}.metadata.json")))
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    ls, entries = uf.read_avro(cur["manifest-list"])
    for m in entries:
        ms, es = uf.read_avro(m["manifest_path"])
        uf.write_avro(m["manifest_path"], ms, es, codec="deflate")
    uf.write_avro(cur["manifest-list"], ls, entries, codec="deflate")
    after = {(r["id"], r["bucket"]) for r in uf.read_iceberg(spark, t).collect()}
    assert after == before


def test_convert_iceberg_to_delta_roundtrip(spark, tmp_path):
    """An Iceberg-only table (UniForm twin with its Delta log removed)
    converts to Delta from the MANIFESTS alone: schema, partition
    values, and footer stats carried over; an on-disk orphan parquet the
    snapshot never referenced stays excluded (a directory-walk converter
    would have swallowed it)."""
    import shutil

    from pos_dlt_spark.sources.delta_writer import convert_iceberg_to_delta

    t = str(tmp_path / "ci")
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("bucket")
    )
    write_delta(
        df.repartition(2), t, partition_by=["bucket"], configuration=UNIFORM_CONF
    )
    expected = {(r["id"], r["bucket"]) for r in read_delta(spark, t).collect()}
    shutil.rmtree(os.path.join(t, "_delta_log"))
    # an orphan file the Iceberg snapshot does not reference
    orphan_dir = os.path.join(t, "bucket=0")
    orphan = os.path.join(orphan_dir, "part-orphan.parquet")
    src = next(
        os.path.join(orphan_dir, n)
        for n in os.listdir(orphan_dir)
        if n.endswith(".parquet")
    )
    shutil.copy(src, orphan)

    assert convert_iceberg_to_delta(spark, t) == 0
    snap = delta_snapshot(spark, t)
    assert snap.partition_columns == ["bucket"]
    assert not any("orphan" in rel for rel, _ in snap.files)
    got = {(r["id"], r["bucket"]) for r in read_delta(spark, t).collect()}
    assert got == expected
    # footer stats rode the conversion: every add carries numRecords
    assert all(
        json.loads(a["stats"])["numRecords"] > 0 for a in snap.adds.values()
    )


def test_convert_iceberg_snapshot_and_refusals(spark, tmp_path):
    import shutil

    from pos_dlt_spark.sources.delta_writer import convert_iceberg_to_delta

    t = str(tmp_path / "cs")
    write_delta(spark.range(0, 30).coalesce(1), t, configuration=UNIFORM_CONF)
    write_delta(spark.range(30, 80).coalesce(1), t)
    with pytest.raises(ValueError, match="already a Delta table"):
        convert_iceberg_to_delta(spark, t)
    shutil.rmtree(os.path.join(t, "_delta_log"))
    assert convert_iceberg_to_delta(spark, t, snapshot_id=1) == 0
    assert read_delta(spark, t).count() == 30


def test_uniform_manifest_column_bounds(spark, tmp_path):
    """Manifest entries carry spec field-id 125/128 column bounds
    serialized from the Delta adds' stats (LE single-value encoding)."""
    import struct as _struct

    t = str(tmp_path / "ub")
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("doc-"), F.format_string("%03d", F.col("id"))).alias("s"),
    )
    write_delta(df.coalesce(1), t, configuration=UNIFORM_CONF)
    files = uf.read_uniform_files(t)
    assert len(files) == 1
    lb = {e["key"]: e["value"] for e in files[0]["lower_bounds"]}
    ub_ = {e["key"]: e["value"] for e in files[0]["upper_bounds"]}
    # field ids follow schema order: id=1, v=2, s=3
    assert _struct.unpack("<q", lb[1])[0] == 0
    assert _struct.unpack("<q", ub_[1])[0] == 99
    assert _struct.unpack("<d", ub_[2])[0] == 99 * 1.5
    assert lb[3] == b"doc-000" and ub_[3] == b"doc-099"


def test_read_iceberg_bounds_pruning(spark, tmp_path):
    """read_iceberg(prune=...) skips files whose manifest bounds prove
    exclusion — fewer input files, identical qualifying rows."""
    t = str(tmp_path / "up")
    df = spark.range(0, 400).select(F.col("id"))
    # 4 files with disjoint id ranges
    write_delta(df.repartitionByRange(4, "id"), t, configuration=UNIFORM_CONF)
    all_files = {f["file_path"] for f in uf.read_uniform_files(t)}
    assert len(all_files) == 4
    pruned = uf.read_iceberg(spark, t, prune=[("id", ">=", 300)])
    assert len(pruned.inputFiles()) < len(all_files)
    rows = sorted(r["id"] for r in pruned.filter("id >= 300").collect())
    assert rows == list(range(300, 400))
    # string bounds prune too
    t2 = str(tmp_path / "up2")
    sdf = spark.range(0, 200).select(
        F.concat(F.lit("k"), F.format_string("%04d", F.col("id"))).alias("s")
    )
    write_delta(sdf.repartitionByRange(2, "s"), t2, configuration=UNIFORM_CONF)
    p2 = uf.read_iceberg(spark, t2, prune=[("s", "<", "k0050")])
    assert len(p2.inputFiles()) == 1
    with pytest.raises(ValueError, match="not in table schema"):
        uf.read_iceberg(spark, t, prune=[("nope", "=", 1)])


def test_read_iceberg_without_version_hint(spark, tmp_path):
    """Foreign tables may lack version-hint.text: discovery falls back
    to the highest v<N>.metadata.json, per the spec's hint-less rule."""
    t = str(tmp_path / "nh")
    write_delta(spark.range(0, 30).coalesce(1), t, configuration=UNIFORM_CONF)
    write_delta(spark.range(30, 50).coalesce(1), t)
    os.remove(os.path.join(t, "metadata", "version-hint.text"))
    assert uf.read_iceberg(spark, t).count() == 50  # newest snapshot wins
    assert uf.read_iceberg(spark, t, snapshot_id=1).count() == 30


def test_uniform_expire_snapshots(spark, tmp_path):
    """expireSnapshots keeps the newest K snapshots, deletes expired
    metadata JSONs / manifest lists / manifests referenced by NO
    surviving list (incremental reuse means shared manifests must
    survive), never touches data files, and leaves the current read and
    retained time travel exact."""
    t = str(tmp_path / "exp")
    for i in range(6):  # snapshots 1..6, manifests reused incrementally
        write_delta(spark.range(i * 10, i * 10 + 10).coalesce(1), t,
                    configuration=UNIFORM_CONF if i == 0 else None)
    md = os.path.join(t, "metadata")
    before_manifests = {n for n in os.listdir(md) if n.startswith("manifest-")}
    assert len(before_manifests) == 6
    deleted = uf.uniform_expire_snapshots(t, keep=2)
    assert deleted
    meta = uf._read_prior_metadata(md)
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [5, 6]
    # shared manifests: snapshot 5's list references manifests 1..5 —
    # ALL must survive even though snapshots 1..4 expired
    assert uf.read_iceberg(spark, t).count() == 60
    assert uf.read_iceberg(spark, t, snapshot_id=5).count() == 50
    with pytest.raises(ValueError, match="not in table metadata"):
        uf.read_iceberg(spark, t, snapshot_id=2)
    # expired metadata JSONs and manifest lists are gone
    left = set(os.listdir(md))
    assert not any(n == f"v{i}.metadata.json" for i in (1, 2, 3, 4) for n in left)
    assert sum(1 for n in left if n.startswith("snap-")) == 2
    # data files untouched: the Delta read still sees every row
    assert read_delta(spark, t).count() == 60
    with pytest.raises(ValueError, match="keep must be"):
        uf.uniform_expire_snapshots(t, keep=0)


# ----------------------------------------------------------------------
# Row-level deletes: DV -> position-delete emission and the v2
# merge-on-read read path (position + equality deletes, sequence rules)
# ----------------------------------------------------------------------


def _ice_rows(spark, t):
    return sorted(tuple(r) for r in uf.read_iceberg(spark, t).collect())


def _delta_rows(spark, t, cols):
    return sorted(tuple(r) for r in read_delta(spark, t).select(*cols).collect())


def test_uniform_dv_position_delete_roundtrip(spark, tmp_path):
    """dv-mode DELETE and UPDATE on a UniForm table: every live DV is
    rendered as an Iceberg position-delete parquet (spec field-ids
    2147483546/2147483545) under a content=1 delete manifest, and
    read_iceberg — Delta log never consulted — returns exactly the
    Delta rows."""
    from pos_dlt_spark.sources.delta_writer import delta_delete, delta_update

    t = str(tmp_path / "dvp")
    df = spark.range(0, 600).select(
        "id",
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    write_delta(
        df.repartition(4),
        t,
        partition_by=["p"],
        configuration={"delta.universalFormat.enabledFormats": "iceberg"},
    )
    delta_delete(spark, t, "id % 7 = 0", mode="dv")
    assert _ice_rows(spark, t) == _delta_rows(spark, t, ["id", "p", "v"])
    # the delete parquet carries the spec's reserved field-ids
    import glob

    import pyarrow.parquet as pq

    dfiles = glob.glob(os.path.join(t, "metadata", "delete-*.parquet"))
    assert dfiles
    sch = pq.read_schema(dfiles[0])
    assert sch.field("file_path").metadata[b"PARQUET:field_id"] == b"2147483546"
    assert sch.field("pos").metadata[b"PARQUET:field_id"] == b"2147483545"
    # the manifest list carries a content=1 delete manifest
    md = os.path.join(t, "metadata")
    v = int(open(os.path.join(md, "version-hint.text")).read())
    meta = json.load(open(os.path.join(md, f"v{v}.metadata.json")))
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, manifests = uf.read_avro(cur["manifest-list"])
    assert {m["content"] for m in manifests} == {0, 1}
    assert cur["summary"]["operation"] == "overwrite"
    # dv-mode UPDATE stacks a second DV generation; rows still exact
    delta_update(spark, t, "id % 11 = 0", {"v": "v + 1"}, mode="dv")
    assert _ice_rows(spark, t) == _delta_rows(spark, t, ["id", "p", "v"])


def test_uniform_dv_then_append_reuses_delete_manifest(spark, tmp_path):
    """A clean append AFTER a DV sync takes the incremental path: the
    prior manifests — including the delete manifest — are reused, one
    new data manifest is appended, and the new file's higher sequence
    number keeps old position deletes from ever applying to it."""
    from pos_dlt_spark.sources.delta_writer import delta_delete

    t = str(tmp_path / "dvi")
    write_delta(
        spark.range(0, 100).coalesce(1),
        t,
        configuration={"delta.universalFormat.enabledFormats": "iceberg"},
    )
    delta_delete(spark, t, "id < 10", mode="dv")
    md = os.path.join(t, "metadata")

    def cur_manifests():
        v = int(open(os.path.join(md, "version-hint.text")).read())
        meta = json.load(open(os.path.join(md, f"v{v}.metadata.json")))
        cur = next(
            s
            for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        return uf.read_avro(cur["manifest-list"])[1]

    before = cur_manifests()
    write_delta(spark.range(100, 150).coalesce(1), t)
    after = cur_manifests()
    # prior manifests (data + delete) reused byte-identical, one appended
    assert [m["manifest_path"] for m in after[: len(before)]] == [
        m["manifest_path"] for m in before
    ]
    assert len(after) == len(before) + 1
    assert after[-1]["content"] == 0
    assert uf.read_iceberg(spark, t).count() == 140
    assert _ice_rows(spark, t) == _delta_rows(spark, t, ["id"])


def test_uniform_dv_vacuum_expire_gc(spark, tmp_path):
    """OPTIMIZE purges the DVs and re-syncs; VACUUM's walk never touches
    metadata/ (position-delete parquets are Iceberg-owned); expire
    reference-counts delete parquets like manifests and collects the
    ones only expired snapshots used."""
    from pos_dlt_spark.sources.delta_writer import delta_delete, delta_vacuum

    t = str(tmp_path / "dvg")
    write_delta(
        spark.range(0, 200).repartition(2),
        t,
        configuration={"delta.universalFormat.enabledFormats": "iceberg"},
    )
    delta_delete(spark, t, "id % 5 = 0", mode="dv")
    import glob

    dels_before = set(glob.glob(os.path.join(t, "metadata", "delete-*.parquet")))
    assert dels_before
    # vacuum must not collect the delete parquets (they are referenced
    # by Iceberg manifests, not the Delta log)
    delta_vacuum(spark, t, retain_versions=0, grace_seconds=-3600)
    assert all(os.path.exists(p) for p in dels_before)
    assert _ice_rows(spark, t) == _delta_rows(spark, t, ["id"])
    delta_optimize(spark, t, target_files=1)  # purges DVs, full resync
    assert _ice_rows(spark, t) == _delta_rows(spark, t, ["id"])
    # expire to the current snapshot only: the DV snapshot's delete
    # parquets are referenced by no surviving manifest -> collected
    uf.uniform_expire_snapshots(t, keep=1)
    assert not glob.glob(os.path.join(t, "metadata", "delete-*.parquet"))
    assert uf.read_iceberg(spark, t).count() == 160


def _mini_iceberg_table(
    root: str,
    data_files: list,
    delete_manifests: list,
    spec_fields: list | None = None,
) -> None:
    """Hand-build a from-scratch Iceberg v2 table (schema: id long,
    grp string) with explicit per-manifest sequence numbers — the shapes
    foreign engines write, which the emitter never produces itself.
    ``data_files``: [(parquet_path, n_rows, seq)] or
    [(parquet_path, n_rows, seq, partition_dict)];
    ``delete_manifests``: [(content, entries, seq)];
    ``spec_fields``: Iceberg partition-spec fields (default
    unpartitioned), transforms included."""
    md = os.path.join(root, "metadata")
    os.makedirs(md, exist_ok=True)
    schema = {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "grp", "required": False, "type": "string"},
        ],
    }
    spec = {"spec-id": 0, "fields": spec_fields or []}
    pav = uf._partition_avro_schema(spec, schema["fields"])
    eschema = uf._manifest_entry_schema(pav)
    mlist_entries = []
    seq = 0
    for i, entry in enumerate(data_files):
        fp, n, fseq = entry[0], entry[1], entry[2]
        pv = entry[3] if len(entry) > 3 else {}
        man = os.path.join(md, f"manifest-data-{i}.avro")
        uf.write_avro(
            man,
            eschema,
            [
                {
                    "status": 1,
                    "snapshot_id": 1,
                    "sequence_number": None,  # inherited from the list
                    "file_sequence_number": None,
                    "data_file": {
                        "content": 0,
                        "file_path": fp,
                        "file_format": "PARQUET",
                        "partition": pv,
                        "record_count": n,
                        "file_size_in_bytes": os.path.getsize(fp),
                    },
                }
            ],
            meta={"content": "data"},
        )
        mlist_entries.append(
            {
                "manifest_path": man,
                "manifest_length": os.path.getsize(man),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": fseq,
                "min_sequence_number": fseq,
                "added_snapshot_id": 1,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": n,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        )
        seq = max(seq, fseq)
    for i, (content, entries, dseq) in enumerate(delete_manifests):
        man = os.path.join(md, f"manifest-del-{i}.avro")
        uf.write_avro(man, eschema, entries, meta={"content": "deletes"})
        mlist_entries.append(
            {
                "manifest_path": man,
                "manifest_length": os.path.getsize(man),
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": dseq,
                "min_sequence_number": dseq,
                "added_snapshot_id": 1,
                "added_files_count": len(entries),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": sum(
                    e["data_file"]["record_count"] for e in entries
                ),
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        )
        seq = max(seq, dseq)
    mlist = os.path.join(md, "snap-1.avro")
    uf.write_avro(mlist, uf._MANIFEST_LIST_SCHEMA, mlist_entries)
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000001",
        "location": root,
        "last-sequence-number": seq,
        "last-updated-ms": 0,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [schema],
        "default-spec-id": 0,
        "partition-specs": [spec],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": 1,
        "snapshots": [
            {
                "snapshot-id": 1,
                "sequence-number": seq,
                "timestamp-ms": 0,
                "manifest-list": mlist,
                "summary": {"operation": "append"},
                "schema-id": 0,
            }
        ],
        "snapshot-log": [],
        "metadata-log": [],
    }
    with open(os.path.join(md, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(md, "version-hint.text"), "w") as fh:
        fh.write("1")


def _write_parquet(path: str, ids: list[int], grps: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()), "grp": pa.array(grps)}), path
    )


def test_position_delete_sequence_applicability(spark, tmp_path):
    """The spec's rule: a position delete applies to data files with
    EQUAL-OR-LOWER data sequence number. A delete at seq 1 referencing
    the same row position in a seq-1 file (applies) and a seq-2 file
    (must NOT apply) — the seq-2 row survives. Also exercises
    sequence-number INHERITANCE: every entry carries null and inherits
    from its manifest-list entry."""
    root = str(tmp_path / "seqp")
    os.makedirs(root)
    a = os.path.join(root, "a.parquet")
    b = os.path.join(root, "b.parquet")
    _write_parquet(a, list(range(0, 10)), ["x"] * 10)
    _write_parquet(b, list(range(10, 20)), ["y"] * 10)
    dpath = os.path.join(root, "pd.parquet")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([a, b]),
                "pos": pa.array([0, 0], pa.int64()),
            }
        ),
        dpath,
    )
    del_entry = {
        "status": 1,
        "snapshot_id": 1,
        "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": 1,
            "file_path": dpath,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": 2,
            "file_size_in_bytes": os.path.getsize(dpath),
        },
    }
    _mini_iceberg_table(
        root, [(a, 10, 1), (b, 10, 2)], [(1, [del_entry], 1)]
    )
    got = sorted(r["id"] for r in uf.read_iceberg(spark, root).collect())
    # id 0 (pos 0 of the seq-1 file) deleted; id 10 (pos 0 of the seq-2
    # file) SURVIVES the seq-1 delete
    assert got == list(range(1, 20))


def test_equality_deletes_read(spark, tmp_path):
    """Equality deletes (content=2, foreign writers): rows matching the
    equality_ids columns are dropped from data files with STRICTLY
    LOWER sequence numbers; a same-or-newer data file keeps its rows.
    Null-safe matching per the spec."""
    root = str(tmp_path / "eqd")
    os.makedirs(root)
    a = os.path.join(root, "a.parquet")  # seq 1: affected
    c = os.path.join(root, "c.parquet")  # seq 3: newer than the delete
    _write_parquet(a, [0, 1, 2, 3], ["x", "y", "x", None])
    _write_parquet(c, [10, 11], ["x", "y"])
    dpath = os.path.join(root, "eq.parquet")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"grp": pa.array(["x", None])}), dpath)
    del_entry = {
        "status": 1,
        "snapshot_id": 1,
        "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": 2,
            "file_path": dpath,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": 2,
            "file_size_in_bytes": os.path.getsize(dpath),
            "equality_ids": [2],  # field-id of grp
        },
    }
    _mini_iceberg_table(root, [(a, 4, 1), (c, 2, 3)], [(1, [del_entry], 2)])
    got = sorted(
        (r["id"], r["grp"]) for r in uf.read_iceberg(spark, root).collect()
    )
    # seq-1 file: grp='x' rows AND the null row deleted (null-safe);
    # seq-3 file survives whole (3 >= delete seq 2, strict rule)
    assert got == [(1, "y"), (10, "x"), (11, "y")]


def test_convert_refuses_delete_files(spark, tmp_path):
    """CONVERT TO DELTA refuses a snapshot carrying delete files —
    in-place conversion would resurrect their rows."""
    from pos_dlt_spark.sources.delta_writer import convert_iceberg_to_delta

    root = str(tmp_path / "cvd")
    os.makedirs(root)
    a = os.path.join(root, "a.parquet")
    _write_parquet(a, [0, 1], ["x", "y"])
    dpath = os.path.join(root, "pd.parquet")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"file_path": pa.array([a]), "pos": pa.array([0], pa.int64())}),
        dpath,
    )
    del_entry = {
        "status": 1,
        "snapshot_id": 1,
        "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": 1,
            "file_path": dpath,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": 1,
            "file_size_in_bytes": os.path.getsize(dpath),
        },
    }
    _mini_iceberg_table(root, [(a, 2, 1)], [(1, [del_entry], 1)])
    with pytest.raises(ValueError, match="delete files"):
        convert_iceberg_to_delta(spark, root)


# ----------------------------------------------------------------------
# Partition transforms (spec §Partition Transforms + Appendix B)
# ----------------------------------------------------------------------


def test_transform_spec_vectors():
    """The spec's own Appendix B test vectors pin the murmur3 hash and
    each transform's semantics — the interop contract with every real
    Iceberg writer."""
    import datetime

    assert uf._bucket_hash(34, "int") == 2017239379
    assert uf._bucket_hash(34, "long") == 2017239379
    assert uf._bucket_hash("iceberg", "string") == 1210000089
    assert uf._bucket_hash(datetime.date(2017, 11, 16), "date") == -653330422
    d = datetime.date(2017, 11, 16)
    assert uf._apply_transform("year", d, "date") == 47
    assert uf._apply_transform("month", d, "date") == 574
    assert uf._apply_transform("day", d, "date") == 17486
    ts = datetime.datetime(2017, 11, 16, 22, 31, 8)
    # 17486 days * 24 + 22 hours
    assert uf._apply_transform("hour", ts, "timestamptz") == 419686
    assert uf._apply_transform("truncate[10]", -1, "int") == -10
    assert uf._apply_transform("truncate[10]", 1, "int") == 0
    assert uf._apply_transform("truncate[3]", "iceberg", "string") == "ice"
    assert uf._apply_transform("void", 34, "int") is None
    with pytest.raises(ValueError, match="transform"):
        uf._apply_transform("zorder", 1, "int")


def test_read_iceberg_bucket_transform_pruning(spark, tmp_path):
    """A foreign bucket[4]-partitioned table: partition_filter on the
    SOURCE column prunes manifests through the spec's murmur3 bucket
    transform AND applies a residual row filter (a bucket value is
    necessary, not sufficient, for source equality)."""
    root = str(tmp_path / "bkt")
    os.makedirs(root)
    ids = list(range(100))
    buckets: dict[int, list[int]] = {}
    for i in ids:
        buckets.setdefault(
            uf._apply_transform("bucket[4]", i, "long"), []
        ).append(i)
    assert len(buckets) == 4  # 100 ids cover all four buckets
    data_files = []
    for b, members in sorted(buckets.items()):
        fp = os.path.join(root, f"b{b}.parquet")
        _write_parquet(fp, members, [f"g{v % 5}" for v in members])
        data_files.append((fp, len(members), 1, {"id_bucket": b}))
    spec_fields = [
        {
            "name": "id_bucket",
            "transform": "bucket[4]",
            "source-id": 1,
            "field-id": 1000,
        }
    ]
    _mini_iceberg_table(root, data_files, [], spec_fields=spec_fields)
    # unfiltered read sees every row (source columns live in the files)
    assert uf.read_iceberg(spark, root).count() == 100
    got = uf.read_iceberg(spark, root, partition_filter={"id": 34})
    assert len(got.inputFiles()) == 1  # pruned to bucket(34)'s one file
    rows = got.collect()
    assert [(r["id"], r["grp"]) for r in rows] == [(34, "g4")]


def test_read_iceberg_truncate_transform_pruning(spark, tmp_path):
    """truncate[10] partitioning on the long column: the filter value's
    truncation picks the right file; rows outside the exact value are
    cut by the residual filter."""
    root = str(tmp_path / "trc")
    os.makedirs(root)
    data_files = []
    for lo in (0, 10, 20):
        fp = os.path.join(root, f"t{lo}.parquet")
        members = list(range(lo, lo + 10))
        _write_parquet(fp, members, ["x"] * 10)
        data_files.append((fp, 10, 1, {"id_trunc": lo}))
    spec_fields = [
        {
            "name": "id_trunc",
            "transform": "truncate[10]",
            "source-id": 1,
            "field-id": 1000,
        }
    ]
    _mini_iceberg_table(root, data_files, [], spec_fields=spec_fields)
    got = uf.read_iceberg(spark, root, partition_filter={"id": 17})
    assert len(got.inputFiles()) == 1
    assert [r["id"] for r in got.collect()] == [17]
    # unknown transform in the spec refuses even without a filter
    mdp = os.path.join(root, "metadata", "v1.metadata.json")
    meta = json.load(open(mdp))
    meta["partition-specs"][0]["fields"][0]["transform"] = "zorder"
    with open(mdp, "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="transform"):
        uf.read_iceberg(spark, root)


def test_uniform_create_table_and_clone(spark, tmp_path):
    """Data-less CREATE on a UniForm table emits an empty Iceberg
    snapshot (discoverable before the first row); CLONE of a UniForm
    table (DVs included) emits the clone's own metadata at commit 0,
    with the shallow clone's absolute source paths rendered verbatim."""
    from pyspark.sql.types import LongType, StructField, StructType

    from pos_dlt_spark.sources.delta_writer import (
        delta_clone,
        delta_create_table,
        delta_delete,
    )

    t = str(tmp_path / "uc")
    delta_create_table(
        spark,
        t,
        StructType([StructField("id", LongType())]),
        configuration={"delta.universalFormat.enabledFormats": "iceberg"},
    )
    empty = uf.read_iceberg(spark, t)
    assert empty.count() == 0 and empty.columns == ["id"]
    write_delta(spark.range(0, 25).coalesce(1), t)
    assert uf.read_iceberg(spark, t).count() == 25

    src = str(tmp_path / "src")
    write_delta(
        spark.range(0, 100).coalesce(2),
        src,
        configuration={"delta.universalFormat.enabledFormats": "iceberg"},
    )
    delta_delete(spark, src, "id < 20", mode="dv")
    dst = str(tmp_path / "dst")
    delta_clone(spark, src, dst)
    got = sorted(r["id"] for r in uf.read_iceberg(spark, dst).collect())
    assert got == list(range(20, 100))


def test_uniform_schema_evolution_stable_field_ids(spark, tmp_path):
    """ALTERs on a UniForm table re-emit the metadata in the same call,
    appending an EVOLVED schema with the next schema-id; existing fields
    keep their ids (the Iceberg stability contract), new fields get ids
    above last-column-id; time travel reads each snapshot with its own
    schema (the added column is absent before, null-filled after for
    old files); widened files upcast natively under the explicit read
    schema."""
    from pos_dlt_spark.sources.delta_writer import (
        delta_alter_add_column,
        delta_alter_column_type,
    )
    from pyspark.sql.types import StringType

    t = str(tmp_path / "sev")
    df = spark.range(0, 40).select(
        "id", (F.col("id") % 100).cast("int").alias("v")
    )
    write_delta(
        df.coalesce(1),
        t,
        configuration={"delta.universalFormat.enabledFormats": "iceberg"},
    )
    delta_alter_add_column(spark, t, "note", StringType())
    write_delta(
        spark.range(40, 60).select(
            "id",
            (F.col("id") % 100).cast("int").alias("v"),
            F.lit("n").alias("note"),
        ).coalesce(1),
        t,
    )
    md = os.path.join(t, "metadata")
    meta = uf._read_prior_metadata(md)
    assert meta["current-schema-id"] == 1
    assert [s["schema-id"] for s in meta["schemas"]] == [0, 1]
    ids0 = {f["name"]: f["id"] for f in meta["schemas"][0]["fields"]}
    ids1 = {f["name"]: f["id"] for f in meta["schemas"][1]["fields"]}
    assert ids1["id"] == ids0["id"] and ids1["v"] == ids0["v"]  # stable
    assert ids1["note"] == meta["last-column-id"]  # fresh id above all
    # current read: old files null-fill the added column
    cur = uf.read_iceberg(spark, t)
    assert cur.count() == 60
    assert cur.filter("note is null").count() == 40
    # time travel to snapshot 1 (pre-ALTER) uses ITS schema: no 'note'
    old = uf.read_iceberg(spark, t, snapshot_id=1)
    assert old.columns == ["id", "v"] and old.count() == 40
    # type widening: int -> long keeps the field id, bumps the schema-id,
    # and the pre-widening file upcasts natively at scan
    delta_alter_column_type(spark, t, "v", "long")
    meta2 = uf._read_prior_metadata(md)
    assert meta2["current-schema-id"] == 2
    ids2 = {f["name"]: f["id"] for f in meta2["schemas"][2]["fields"]}
    assert ids2["v"] == ids0["v"]
    wide = uf.read_iceberg(spark, t)
    assert dict(wide.dtypes)["v"] == "bigint"
    assert wide.agg(F.sum("v")).collect()[0][0] == sum(i % 100 for i in range(60))


def test_uniform_enable_via_set_properties(spark, tmp_path):
    """Enabling uniform on an EXISTING table through SET TBLPROPERTIES
    validates the shape before the commit and emits the initial Iceberg
    snapshot of the current state (DVs included, as position deletes);
    a non-renderable table refuses with nothing committed."""
    from pos_dlt_spark.sources.delta_writer import (
        delta_delete,
        delta_set_properties,
    )

    t = str(tmp_path / "en")
    write_delta(spark.range(0, 50).coalesce(1), t)
    delta_delete(spark, t, "id < 5", mode="dv")
    v_before = delta_snapshot(spark, t).version
    delta_set_properties(
        spark, t, {"delta.universalFormat.enabledFormats": "iceberg"}
    )
    got = sorted(r["id"] for r in uf.read_iceberg(spark, t).collect())
    assert got == list(range(5, 50))
    # non-renderable (nested) table: refusal BEFORE the commit
    t2 = str(tmp_path / "en2")
    write_delta(
        spark.range(0, 5).select("id", F.struct("id").alias("s")), t2
    )
    v2 = delta_snapshot(spark, t2).version
    with pytest.raises(ValueError, match="Iceberg rendering"):
        delta_set_properties(
            spark, t2, {"delta.universalFormat.enabledFormats": "iceberg"}
        )
    assert delta_snapshot(spark, t2).version == v2  # nothing committed
    assert v_before >= 0


def test_iceberg_metadata_tables(spark, tmp_path):
    """The inspection tables (snapshots/history/manifests/files) reflect
    the emitted metadata exactly: snapshot count and operations, the
    current manifest list's data+delete split, per-file partition maps."""
    from pos_dlt_spark.sources.delta_writer import delta_delete

    t = str(tmp_path / "mt")
    df = spark.range(0, 60).select(
        "id", (F.col("id") % 2).cast("string").alias("p")
    )
    write_delta(
        df.repartition(2),
        t,
        partition_by=["p"],
        configuration={"delta.universalFormat.enabledFormats": "iceberg"},
    )
    write_delta(
        spark.range(60, 80).select("id", F.lit("0").alias("p")),
        t,
        partition_by=["p"],
    )
    delta_delete(spark, t, "id < 10", mode="dv")

    snaps = uf.iceberg_metadata_table(spark, t, "snapshots")
    rows = snaps.orderBy("snapshot_id").collect()
    assert [r["snapshot_id"] for r in rows] == [1, 2, 3]
    assert rows[0]["operation"] == "append"
    assert rows[-1]["operation"] == "overwrite"  # the DV sync
    assert all(r["manifest_list"] for r in rows)

    hist = uf.iceberg_metadata_table(spark, t, "history")
    assert hist.count() == 3
    assert {r["is_current_ancestor"] for r in hist.collect()} == {"true"}

    mans = uf.iceberg_metadata_table(spark, t, "manifests")
    mrows = mans.collect()
    assert {r["content"] for r in mrows} == {0, 1}  # data + delete

    files = uf.iceberg_metadata_table(spark, t, "files")
    frows = files.collect()
    n_data = sum(1 for r in frows if r["content"] == 0)
    n_del = sum(1 for r in frows if r["content"] == 1)
    assert n_del >= 1 and n_data >= 2
    assert sum(r["record_count"] for r in frows if r["content"] == 0) == 80
    assert sum(r["record_count"] for r in frows if r["content"] == 1) == 10
    assert all(
        r["partition"].get("p") in ("0", "1")
        for r in frows
        if r["content"] == 0
    )
    assert uf.iceberg_metadata_table(spark, t, "refs").count() == 0  # no refs set
    parts = uf.iceberg_metadata_table(spark, t, "partitions").collect()
    # two p-partitions of data files; delete parquets excluded
    assert sorted(r["partition"]["p"] for r in parts) == ["0", "1"]
    assert sum(r["record_count"] for r in parts) == 80
    assert all(r["file_count"] >= 1 for r in parts)
    with pytest.raises(ValueError, match="unknown metadata table"):
        uf.iceberg_metadata_table(spark, t, "entries")


def test_field_id_resolution_reads_renamed_files(spark, tmp_path):
    """Iceberg's column-identity contract: after a RENAME, pre-rename
    files keep the OLD physical name and only the field id ties them to
    the current schema. Files group by their footer's id->name mapping
    and each group aliases to the logical names by id — the pre-rename
    file's values surface under the new name instead of null-filling.
    'auto' switches to field-id mode off one footer probe; explicit
    'name' shows exactly the hazard field ids exist to prevent."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "fid")
    os.makedirs(root)

    def _fid_schema(names):
        return pa.schema(
            [
                pa.field(n, t, metadata={"PARQUET:field_id": str(i + 1)})
                for i, (n, t) in enumerate(names)
            ]
        )

    a = os.path.join(root, "a.parquet")  # pre-rename: grp was 'old_grp'
    pq.write_table(
        pa.table(
            {"id": pa.array([0, 1], pa.int64()), "old_grp": pa.array(["x", "y"])},
            schema=_fid_schema([("id", pa.int64()), ("old_grp", pa.string())]),
        ),
        a,
    )
    b = os.path.join(root, "b.parquet")  # post-rename
    pq.write_table(
        pa.table(
            {"id": pa.array([2, 3], pa.int64()), "grp": pa.array(["z", "w"])},
            schema=_fid_schema([("id", pa.int64()), ("grp", pa.string())]),
        ),
        b,
    )
    _mini_iceberg_table(root, [(a, 2, 1), (b, 2, 2)], [])
    got = sorted(
        (r["id"], r["grp"]) for r in uf.read_iceberg(spark, root).collect()
    )
    assert got == [(0, "x"), (1, "y"), (2, "z"), (3, "w")]
    # name resolution would null-fill the renamed file's column
    by_name = uf.read_iceberg(spark, root, resolve="name")
    assert by_name.filter("grp is null").count() == 2
    # field-id resolution composes with position deletes (meta columns
    # attach per scan group, before the union)
    dpath = os.path.join(root, "pd.parquet")
    pq.write_table(
        pa.table(
            {"file_path": pa.array([a, b]), "pos": pa.array([0, 1], pa.int64())}
        ),
        dpath,
    )
    del_entry = {
        "status": 1,
        "snapshot_id": 1,
        "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": 1,
            "file_path": dpath,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": 2,
            "file_size_in_bytes": os.path.getsize(dpath),
        },
    }
    _mini_iceberg_table(root, [(a, 2, 1), (b, 2, 2)], [(1, [del_entry], 2)])
    got2 = sorted(
        (r["id"], r["grp"]) for r in uf.read_iceberg(spark, root).collect()
    )
    # pos 0 of file a (id 0) and pos 1 of file b (id 3) are deleted
    assert got2 == [(1, "y"), (2, "z")]


def test_write_iceberg_native_transform_partitioning(spark, tmp_path):
    """The native writer produces the foreign-engine shape: source
    columns IN the data files, transformed partition values only in the
    manifests, one data file per partition tuple; read_iceberg round
    trips and prunes through the transform. Existing metadata refuses."""
    t = str(tmp_path / "nat")
    df = spark.range(0, 300).select(
        "id",
        (F.col("id") % 5).cast("long").alias("v"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
    )
    uf.write_iceberg_native(spark, df, t, partition_spec=[("id", "bucket[4]")])
    files = uf.read_uniform_files(t)
    assert 1 < len(files) <= 4
    assert sum(f["record_count"] for f in files) == 300
    # source column physically present; partition value only in manifests
    import pyarrow.parquet as pq

    sch = pq.read_schema(files[0]["file_path"])
    assert "id" in sch.names and "id_bucket" not in sch.names
    assert all(f["partition"]["id_bucket"] is not None for f in files)
    back = uf.read_iceberg(spark, t)
    assert sorted(r["id"] for r in back.collect()) == list(range(300))
    probe = uf.read_iceberg(spark, t, partition_filter={"id": 42})
    assert len(probe.inputFiles()) == 1
    assert [(r["id"], r["grp"]) for r in probe.collect()] == [(42, "g0")]
    with pytest.raises(ValueError, match="already has Iceberg metadata"):
        uf.write_iceberg_native(spark, df, t)
    # truncate over strings prunes too
    t2 = str(tmp_path / "nat2")
    uf.write_iceberg_native(spark, df, t2, partition_spec=[("grp", "truncate[2]")])
    p2 = uf.read_iceberg(spark, t2, partition_filter={"grp": "g1"})
    assert len(p2.inputFiles()) == 1
    assert p2.count() == 100


def test_snapshot_refs_tags_and_branches(spark, tmp_path):
    """The spec's refs map: uniform_set_ref tags a snapshot, the tag
    survives later syncs, read_iceberg(ref=...) resolves it, expire
    PINS referenced snapshots past the keep window, and dropping the
    ref lets the next expire collect it."""
    from pos_dlt_spark.sources.delta_writer import delta_delete

    t = str(tmp_path / "refs")
    write_delta(
        spark.range(0, 50).coalesce(1),
        t,
        configuration={"delta.universalFormat.enabledFormats": "iceberg"},
    )
    uf.uniform_set_ref(t, "v1-audit")  # tag the current (first) snapshot
    for lo in (50, 100, 150):
        write_delta(spark.range(lo, lo + 50).coalesce(1), t)
    delta_delete(spark, t, "id < 10", mode="dv")
    # the tag survived four more syncs and still reads the first snapshot
    assert uf.read_iceberg(spark, t, ref="v1-audit").count() == 50
    with pytest.raises(ValueError, match="not in table metadata"):
        uf.read_iceberg(spark, t, ref="nope")
    # expire keeps the tagged snapshot past the keep window
    uf.uniform_expire_snapshots(t, keep=1)
    meta = uf._read_prior_metadata(os.path.join(t, "metadata"))
    kept = {s["snapshot-id"] for s in meta["snapshots"]}
    assert 1 in kept and meta["current-snapshot-id"] in kept
    assert uf.read_iceberg(spark, t, ref="v1-audit").count() == 50
    assert uf.read_iceberg(spark, t).count() == 190
    # branch ref on current; drop the tag; next expire collects snapshot 1
    uf.uniform_set_ref(t, "audit-branch", ref_type="branch")
    uf.uniform_drop_ref(t, "v1-audit")
    uf.uniform_drop_ref(t, "never-existed")  # IF EXISTS posture
    uf.uniform_expire_snapshots(t, keep=1)
    meta2 = uf._read_prior_metadata(os.path.join(t, "metadata"))
    assert 1 not in {s["snapshot-id"] for s in meta2["snapshots"]}
    with pytest.raises(ValueError, match="not in table metadata"):
        uf.read_iceberg(spark, t, ref="v1-audit")
    assert uf.read_iceberg(spark, t, ref="audit-branch").count() == 190
    with pytest.raises(ValueError, match="snapshot 1 not in table metadata"):
        uf.uniform_set_ref(t, "late-tag", snapshot_id=1)
    refs_tbl = uf.iceberg_metadata_table(spark, t, "refs").collect()
    assert [(r["name"], r["type"]) for r in refs_tbl] == [
        ("audit-branch", "branch")
    ]


def test_write_iceberg_native_append_mode(spark, tmp_path):
    """Append mode on native tables: one new manifest rides an appended
    manifest list (incremental shape), snapshots accumulate, refs carry
    over, snapshot time travel sees each epoch, transform pruning still
    routes point lookups, and schema mismatch / create-over-existing /
    spec-on-append refuse."""
    t = str(tmp_path / "napp")
    df1 = spark.range(0, 100).select(
        "id", F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp")
    )
    uf.write_iceberg_native(spark, df1, t, partition_spec=[("id", "bucket[4]")])
    uf.uniform_set_ref(t, "epoch1")
    df2 = spark.range(100, 160).select(
        "id", F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp")
    )
    uf.write_iceberg_native(spark, df2, t, mode="append")
    assert uf.read_iceberg(spark, t).count() == 160
    assert uf.read_iceberg(spark, t, snapshot_id=1).count() == 100
    assert uf.read_iceberg(spark, t, ref="epoch1").count() == 100
    # incremental: the new list holds the prior manifests + one new
    meta = uf._read_prior_metadata(os.path.join(t, "metadata"))
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, manifests = uf.read_avro(cur["manifest-list"])
    assert len(manifests) > len(uf.read_avro(meta["snapshots"][0]["manifest-list"])[1])
    # pruning still exact across both epochs
    probe = uf.read_iceberg(spark, t, partition_filter={"id": 123})
    assert [r["id"] for r in probe.collect()] == [123]
    with pytest.raises(ValueError, match="schema mismatch"):
        uf.write_iceberg_native(
            spark, spark.range(0, 1).select("id"), t, mode="append"
        )
    with pytest.raises(ValueError, match="creation only"):
        uf.write_iceberg_native(
            spark, df1, t, partition_spec=[("id", "bucket[4]")], mode="append"
        )
    with pytest.raises(ValueError, match="already has Iceberg metadata"):
        uf.write_iceberg_native(spark, df1, t)


def test_write_iceberg_native_emits_column_bounds(spark, tmp_path):
    """The native writer records per-column lower/upper bounds from the
    parquet footers (spec field-ids 125/128), so read_iceberg(prune=...)
    skips files on NON-partition columns too — composing with transform
    partition pruning."""
    t = str(tmp_path / "nbnd")
    # truncate[100] on id gives 3 files with disjoint id ranges AND
    # correlated v ranges to prune on
    df = spark.range(0, 300).select("id", (F.col("id") * 10).alias("v"))
    uf.write_iceberg_native(
        spark, df, t, partition_spec=[("id", "truncate[100]")]
    )
    files = uf.read_uniform_files(t)
    assert len(files) == 3
    assert all(f.get("lower_bounds") for f in files)
    pruned = uf.read_iceberg(spark, t, prune=[("v", ">=", 2500)])
    assert len(pruned.inputFiles()) == 1  # only the id in [200,300) file
    assert pruned.filter("v >= 2500").count() == 50


def test_total_records_excludes_delete_manifests_after_dv_sync(spark, tmp_path):
    """ADVICE r09: on the incremental (clean-window) path, prev_total
    must sum DATA manifests only — a delete manifest's added_rows_count
    counts deleted POSITIONS, and including it inflated total-records
    after a DV sync followed by clean appends."""
    from pos_dlt_spark.sources.delta_writer import delta_delete

    t = str(tmp_path / "trx")
    write_delta(
        spark.range(0, 100).coalesce(1),
        t,
        configuration={"delta.universalFormat.enabledFormats": "iceberg"},
    )
    delta_delete(spark, t, "id < 20", mode="dv")  # 20-position delete manifest
    write_delta(spark.range(100, 150).coalesce(1), t)  # clean append window
    meta = uf._read_prior_metadata(os.path.join(t, "metadata"))
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    # the append rode the incremental path (delete manifest reused)
    _, manifests = uf.read_avro(cur["manifest-list"])
    assert {m["content"] for m in manifests} == {0, 1}
    # data rows only: 100 physical + 50 appended (NOT + 20 delete positions)
    assert int(cur["summary"]["total-records"]) == 150


def test_expire_aborts_delete_sweep_on_unreadable_manifest(spark, tmp_path):
    """ADVICE r09: an unreadable SURVIVING delete manifest might
    reference any delete parquet — expire must abort the delete-parquet
    sweep instead of treating its files as unreferenced and GC'ing
    position deletes a retained snapshot still points at."""
    import glob

    from pos_dlt_spark.sources.delta_writer import delta_delete

    t = str(tmp_path / "exd")
    write_delta(
        spark.range(0, 100).coalesce(1),
        t,
        configuration={"delta.universalFormat.enabledFormats": "iceberg"},
    )
    delta_delete(spark, t, "id < 10", mode="dv")
    write_delta(spark.range(100, 140).coalesce(1), t)  # extra snapshot to expire
    md = os.path.join(t, "metadata")
    dels = set(glob.glob(os.path.join(md, "delete-*.parquet")))
    assert dels
    meta = uf._read_prior_metadata(md)
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, manifests = uf.read_avro(cur["manifest-list"])
    del_man = next(m for m in manifests if int(m["content"]) == 1)
    # corrupt the SURVIVING delete manifest
    with open(del_man["manifest_path"], "wb") as fh:
        fh.write(b"Obj\x01corrupt")
    uf.uniform_expire_snapshots(t, keep=1)
    # the sweep aborted: every delete parquet survives
    assert set(glob.glob(os.path.join(md, "delete-*.parquet"))) == dels
    # and the surviving (corrupt) manifest itself was not swept either
    assert os.path.exists(del_man["manifest_path"])


def test_read_iceberg_auto_resolves_mixed_id_stamped_and_idless(spark, tmp_path):
    """ADVICE r09: resolve='auto' probes per SCAN GROUP, not one
    arbitrary first footer. A table whose FIRST file is id-less (this
    emitter's) but whose later files are id-stamped under a renamed
    physical column must still resolve the stamped files by field id —
    one footer deciding the whole table null-filled them before."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "mixed")
    os.makedirs(root)
    # file a: id-LESS footers, current names (the emitter shape)
    a = os.path.join(root, "a.parquet")
    _write_parquet(a, [0, 1], ["x", "y"])
    # file b: id-STAMPED, pre-rename physical name old_grp for field 2
    b = os.path.join(root, "b.parquet")
    pq.write_table(
        pa.table(
            {"id": pa.array([2, 3], pa.int64()), "old_grp": pa.array(["z", "w"])},
            schema=pa.schema(
                [
                    pa.field("id", pa.int64(), metadata={"PARQUET:field_id": "1"}),
                    pa.field(
                        "old_grp", pa.string(), metadata={"PARQUET:field_id": "2"}
                    ),
                ]
            ),
        ),
        b,
    )
    _mini_iceberg_table(root, [(a, 2, 1), (b, 2, 2)], [])
    got = sorted((r["id"], r["grp"]) for r in uf.read_iceberg(spark, root).collect())
    assert got == [(0, "x"), (1, "y"), (2, "z"), (3, "w")]  # no null-fills


def test_native_append_preserves_foreign_spec_ids(spark, tmp_path):
    """ADVICE r09: append mode on a foreign table whose default-spec-id
    != 0 must carry the prior partition-specs and default id through
    unchanged (old manifests' partition_spec_id references would dangle
    otherwise) and stamp the NEW manifest-list entry with the prior
    default spec's own id."""
    t = str(tmp_path / "fspec")
    df1 = spark.range(0, 80).select(
        "id", F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp")
    )
    uf.write_iceberg_native(spark, df1, t, partition_spec=[("id", "bucket[4]")])
    md = os.path.join(t, "metadata")
    meta = uf._read_prior_metadata(md)
    # emulate a foreign history: an old empty spec 0 plus the current
    # spec re-numbered 5 as the default
    real = dict(meta["partition-specs"][0])
    real["spec-id"] = 5
    meta = dict(meta)
    meta["partition-specs"] = [{"spec-id": 0, "fields": []}, real]
    meta["default-spec-id"] = 5
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, mlist = uf.read_avro(cur["manifest-list"])
    for m in mlist:
        m["partition_spec_id"] = 5
    uf.write_avro(
        cur["manifest-list"], uf._MANIFEST_LIST_SCHEMA, mlist,
        meta={"format-version": "2"},
    )
    v = int(meta["current-snapshot-id"])
    with open(os.path.join(md, f"v{v}.metadata.json"), "w") as fh:
        json.dump(meta, fh)

    df2 = spark.range(80, 120).select(
        "id", F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp")
    )
    uf.write_iceberg_native(spark, df2, t, mode="append")
    after = uf._read_prior_metadata(md)
    assert after["default-spec-id"] == 5
    assert [p["spec-id"] for p in after["partition-specs"]] == [0, 5]
    cur2 = next(
        s
        for s in after["snapshots"]
        if s["snapshot-id"] == after["current-snapshot-id"]
    )
    _, mlist2 = uf.read_avro(cur2["manifest-list"])
    assert [int(m["partition_spec_id"]) for m in mlist2] == [5, 5]
    assert uf.read_iceberg(spark, t).count() == 120
    probe = uf.read_iceberg(spark, t, partition_filter={"id": 99})
    assert [r["id"] for r in probe.collect()] == [99]


def test_restore_uniform_sync_gating(spark, tmp_path):
    """ADVICE r09: delta_restore gates the Iceberg side on EITHER
    configuration. Restoring a UniForm table to a pre-uniform version
    must invalidate the Iceberg metadata (a stale version-hint would
    serve rows Delta no longer has); restoring between two uniform
    versions re-syncs to the restored row set."""
    from pos_dlt_spark.sources.delta_writer import (
        delta_restore,
        delta_set_properties,
    )

    # A: uniform enabled mid-history, restore to before enablement
    t = str(tmp_path / "rg_a")
    write_delta(spark.range(0, 50).coalesce(1), t)  # v0, no uniform
    delta_set_properties(
        spark, t, {"delta.universalFormat.enabledFormats": "iceberg"}
    )  # v1 + initial snapshot
    write_delta(spark.range(50, 80).coalesce(1), t)  # v2, synced
    assert uf.read_iceberg(spark, t).count() == 80
    delta_restore(spark, t, version=0)
    with pytest.raises(FileNotFoundError, match="no Iceberg metadata"):
        uf.read_iceberg(spark, t)

    # B: uniform on both sides of the restore — re-synced, rows exact
    t2 = str(tmp_path / "rg_b")
    write_delta(
        spark.range(0, 50).coalesce(1),
        t2,
        configuration={"delta.universalFormat.enabledFormats": "iceberg"},
    )
    write_delta(spark.range(50, 90).coalesce(1), t2)
    assert uf.read_iceberg(spark, t2).count() == 90
    delta_restore(spark, t2, version=0)
    assert sorted(r["id"] for r in uf.read_iceberg(spark, t2).collect()) == list(
        range(50)
    )


def test_delete_iceberg_native_position_deletes(spark, tmp_path):
    """VERDICT r09 #4: row-level DELETE on a NATIVE Iceberg table as
    position deletes — no data file rewritten, content=1 manifest
    appended incrementally, reserved field-ids in the delete parquet,
    snapshot travel intact, later appends unaffected by earlier deletes
    (the equal-or-lower sequence rule), stacked deletes compose, and a
    zero-match predicate commits nothing."""
    import glob

    import pyarrow.parquet as pq

    t = str(tmp_path / "ndel")
    df = spark.range(0, 300).select(
        "id",
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
    )
    uf.write_iceberg_native(spark, df, t, partition_spec=[("id", "bucket[4]")])
    data_before = {
        f["file_path"]: os.path.getmtime(f["file_path"])
        for f in uf.read_uniform_files(t)
    }
    md = uf.delete_iceberg_native(spark, t, "id % 7 = 0")
    assert md is not None
    # rows exact, no data file touched
    survivors = sorted(r["id"] for r in uf.read_iceberg(spark, t).collect())
    assert survivors == [i for i in range(300) if i % 7 != 0]
    data_after = {
        f["file_path"]: os.path.getmtime(f["file_path"])
        for f in uf.read_uniform_files(t)
    }
    assert data_after == data_before, "DELETE must not rewrite data files"
    # delete parquet carries the reserved field ids; manifest is content=1
    dfiles = glob.glob(os.path.join(t, "metadata", "delete-*.parquet"))
    assert dfiles
    sch = pq.read_schema(dfiles[0])
    assert sch.field("file_path").metadata[b"PARQUET:field_id"] == b"2147483546"
    assert sch.field("pos").metadata[b"PARQUET:field_id"] == b"2147483545"
    meta = uf._read_prior_metadata(os.path.join(t, "metadata"))
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    assert cur["summary"]["operation"] == "delete"
    _, manifests = uf.read_avro(cur["manifest-list"])
    assert {int(m["content"]) for m in manifests} == {0, 1}
    # snapshot travel still sees the pre-delete rows
    assert uf.read_iceberg(spark, t, snapshot_id=1).count() == 300
    # append AFTER the delete: new file's higher sequence number keeps
    # the old position deletes from applying to it
    df2 = spark.range(300, 350).select(
        "id",
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
    )
    uf.write_iceberg_native(spark, df2, t, mode="append")
    got = sorted(r["id"] for r in uf.read_iceberg(spark, t).collect())
    assert got == [i for i in range(300) if i % 7 != 0] + list(range(300, 350))
    # a second delete stacks on both epochs
    md2 = uf.delete_iceberg_native(spark, t, "id % 10 = 0")
    assert md2 is not None
    got2 = sorted(r["id"] for r in uf.read_iceberg(spark, t).collect())
    assert got2 == [
        i for i in range(350) if (i % 10 != 0) and (i >= 300 or i % 7 != 0)
    ]
    # zero-match predicate: nothing committed
    v_before = uf._read_prior_metadata(os.path.join(t, "metadata"))[
        "current-snapshot-id"
    ]
    assert uf.delete_iceberg_native(spark, t, "id < 0") is None
    assert (
        uf._read_prior_metadata(os.path.join(t, "metadata"))["current-snapshot-id"]
        == v_before
    )
    # metadata files table sees the delete files
    files_tbl = uf.iceberg_metadata_table(spark, t, "files")
    assert files_tbl.filter("content = 1").count() >= 1


def test_update_iceberg_native_merge_on_read(spark, tmp_path):
    """UPDATE on a native table: one overwrite snapshot carries BOTH a
    content=1 delete manifest (matched rows position-deleted in place)
    and a new data manifest (replacements) — original files untouched,
    simultaneous-SET semantics, partition-moving updates land in their
    new bucket, and replacement rows are never self-deleted (the delete
    files reference only old paths at the shared sequence number)."""
    t = str(tmp_path / "nupd")
    df = spark.range(0, 200).select(
        "id",
        (F.col("id") * 2).alias("v"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
    )
    uf.write_iceberg_native(spark, df, t, partition_spec=[("grp", "identity")])
    data_before = {
        f["file_path"]: os.path.getmtime(f["file_path"])
        for f in uf.read_uniform_files(t)
    }
    # simultaneous SET: v uses pre-update id, id uses pre-update v
    md = uf.update_iceberg_native(
        spark, t, "id % 10 = 0", {"v": "v + id", "grp": "'g9'"}
    )
    assert md is not None
    rows = {r["id"]: (r["v"], r["grp"]) for r in uf.read_iceberg(spark, t).collect()}
    assert len(rows) == 200
    for i in range(200):
        if i % 10 == 0:
            assert rows[i] == (3 * i, "g9"), f"id {i}: {rows[i]}"  # moved partition
        else:
            assert rows[i] == (2 * i, f"g{i % 3}")
    # original data files untouched; the moved rows live in NEW files
    after_all = uf.read_uniform_files(t)
    for fp, mt in data_before.items():
        assert os.path.getmtime(fp) == mt, "UPDATE must not rewrite old files"
    new_files = [f for f in after_all if f["file_path"] not in data_before]
    assert new_files and all(
        f["partition"].get("grp") == "g9" for f in new_files
    ), "replacements must land under their NEW partition tuple"
    # one snapshot, both manifest kinds, overwrite op
    meta = uf._read_prior_metadata(os.path.join(t, "metadata"))
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    assert cur["summary"]["operation"] == "overwrite"
    _, manifests = uf.read_avro(cur["manifest-list"])
    assert {int(m["content"]) for m in manifests} == {0, 1}
    # stacked UPDATE over already-updated rows sees the new values
    assert uf.update_iceberg_native(spark, t, "grp = 'g9'", {"v": "v + 1"})
    rows2 = {r["id"]: r["v"] for r in uf.read_iceberg(spark, t).collect()}
    for i in range(0, 200, 10):
        assert rows2[i] == 3 * i + 1
    # no-op predicate commits nothing; unknown column refuses
    assert uf.update_iceberg_native(spark, t, "id < 0", {"v": "0"}) is None
    with pytest.raises(ValueError, match="unknown columns"):
        uf.update_iceberg_native(spark, t, "id = 1", {"nope": "1"})
    # snapshot travel: snapshot 1 still reads the original values
    first = {r["id"]: r["v"] for r in uf.read_iceberg(spark, t, snapshot_id=1).collect()}
    assert first[0] == 0 and first[10] == 20


def test_native_dml_distributed_delete_render(spark, tmp_path, monkeypatch):
    """Native DML writes its delete parquets EXECUTOR-SIDE (Spark
    parquet field-id emission, sorted within file, per-partition-tuple
    grouping) and reads back with the matched rows gone."""
    import glob

    import pyarrow.parquet as pq

    t = str(tmp_path / "ddist")
    df = spark.range(0, 400).select(
        "id",
        (F.col("id") * 3).alias("v"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
    )
    uf.write_iceberg_native(spark, df, t, partition_spec=[("grp", "identity")])
    assert uf.delete_iceberg_native(spark, t, "id % 4 = 0")
    got = sorted(r["id"] for r in uf.read_iceberg(spark, t).collect())
    assert got == [i for i in range(400) if i % 4 != 0]
    # delete files: reserved field ids from Spark's native emission,
    # rows sorted by (file_path, pos), one-or-more files per tuple
    dfiles = glob.glob(os.path.join(t, "metadata", "delete-*.parquet"))
    assert dfiles
    for dfile in dfiles:
        sch = pq.read_schema(dfile)
        assert sch.field("file_path").metadata[b"PARQUET:field_id"] == b"2147483546"
        assert sch.field("pos").metadata[b"PARQUET:field_id"] == b"2147483545"
        tbl = pq.read_table(dfile)
        rows = list(zip(tbl["file_path"].to_pylist(), tbl["pos"].to_pylist()))
        assert rows == sorted(rows), "delete file must be sorted by (path, pos)"
    # staging dir cleaned up
    assert not glob.glob(os.path.join(t, "metadata", "_delstage-*"))
    # the delete manifest's partitions match the table's tuples
    meta = uf._read_prior_metadata(os.path.join(t, "metadata"))
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, manifests = uf.read_avro(cur["manifest-list"])
    dman = next(m for m in manifests if int(m["content"]) == 1)
    _, dentries = uf.read_avro(dman["manifest_path"])
    assert {e["data_file"]["partition"]["grp"] for e in dentries} == {
        "g0", "g1", "g2"
    }
    # distributed UPDATE on top: same machinery, replacements land
    assert uf.update_iceberg_native(spark, t, "id % 9 = 1", {"v": "v + 100"})
    rows2 = {r["id"]: r["v"] for r in uf.read_iceberg(spark, t).collect()}
    for i in range(400):
        if i % 4 == 0:
            assert i not in rows2
        elif i % 9 == 1:
            assert rows2[i] == 3 * i + 100
        else:
            assert rows2[i] == 3 * i


def test_native_dml_folds_foreign_equality_deletes(spark, tmp_path):
    """VERDICT r10 #3: a native table carrying FOREIGN equality deletes
    (e.g. Flink CDC) no longer refuses row-level DML — the eq-deleted
    rows are folded out of the match set (null-safe anti-join at the
    strictly-greater sequence rule), so DELETE never re-deletes them and
    UPDATE never RESURRECTS them as replacement rows."""
    t = str(tmp_path / "eqdml")
    df = spark.range(0, 100).select(
        "id",
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("grp"),
    )
    uf.write_iceberg_native(spark, df, t)
    # foreign writer equality-deletes grp='g0' (ids ≡ 0 mod 4)
    uf.append_equality_delete(t, {"grp": ["g0"]}, [2])
    assert sorted(r["id"] for r in uf.read_iceberg(spark, t).collect()) == [
        i for i in range(100) if i % 4 != 0
    ]
    # DELETE overlapping the eq-deleted set: id % 2 = 0 matches live
    # ids ≡ 2 (mod 4) ONLY — exactly 25 position deletes, not 50
    md = uf.delete_iceberg_native(spark, t, "id % 2 = 0")
    assert md is not None
    meta = uf._read_prior_metadata(os.path.join(t, "metadata"))
    cur = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    assert cur["summary"]["total-position-deletes"] == "25"
    assert sorted(r["id"] for r in uf.read_iceberg(spark, t).collect()) == [
        i for i in range(100) if i % 2 == 1
    ]
    # UPDATE matching everything: replacements only for the 50 live rows
    assert uf.update_iceberg_native(spark, t, "id >= 0", {"grp": "'z'"})
    rows = uf.read_iceberg(spark, t).collect()
    assert sorted(r["id"] for r in rows) == [i for i in range(100) if i % 2 == 1]
    assert all(r["grp"] == "z" for r in rows), "no eq-deleted row resurrected"


def test_native_dml_normalizes_uri_schemed_prior_delete_paths(spark, tmp_path):
    """ADVICE r10: prior position-delete rows written by a foreign
    engine carry ``file://`` URI-schemed paths; the DML scan must
    normalize them like the read side does, or the anti-join excludes
    nothing — DELETE would re-delete and UPDATE would resurrect."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "uridel")
    df = spark.range(0, 60).select(
        "id", F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp")
    )
    uf.write_iceberg_native(spark, df, t)
    assert uf.delete_iceberg_native(spark, t, "id % 2 = 0")
    # rewrite the delete rows the way a URI-scheming engine would
    for dfile in glob.glob(os.path.join(t, "metadata", "delete-*.parquet")):
        tbl = pq.read_table(dfile)
        uri = pa.array(
            ["file://" + p for p in tbl["file_path"].to_pylist()], pa.string()
        )
        pq.write_table(
            pa.table({"file_path": uri, "pos": tbl["pos"]}).cast(tbl.schema), dfile
        )
    # read side still sees the deletes (it normalizes)
    assert sorted(r["id"] for r in uf.read_iceberg(spark, t).collect()) == [
        i for i in range(60) if i % 2 == 1
    ]
    # DML scan too: every id%2=0 row is already deleted — nothing commits
    assert uf.delete_iceberg_native(spark, t, "id % 2 = 0") is None
    assert uf.update_iceberg_native(spark, t, "id % 2 = 0", {"grp": "'z'"}) is None
    assert sorted(r["id"] for r in uf.read_iceberg(spark, t).collect()) == [
        i for i in range(60) if i % 2 == 1
    ], "UPDATE must not resurrect URI-schemed prior deletes"


def test_native_dml_refuses_uniform_twin(spark, tmp_path):
    """ADVICE r10: Iceberg-side DML on a UniForm twin would commit
    position deletes the Delta log never sees — divergent readers until
    the next uniform_sync silently discards them. Refuse and point at
    the Delta writer."""
    t = str(tmp_path / "twin")
    write_delta(spark.range(0, 50).withColumn("v", F.col("id") * 2), t,
                configuration=UNIFORM_CONF)
    with pytest.raises(ValueError, match="UniForm twin"):
        uf.delete_iceberg_native(spark, t, "id % 2 = 0")
    with pytest.raises(ValueError, match="UniForm twin"):
        uf.update_iceberg_native(spark, t, "id % 2 = 0", {"v": "0"})


def test_distributed_render_restores_unset_fieldid_conf(spark, tmp_path, monkeypatch):
    """ADVICE r10: when fieldId.write was UNSET before the distributed
    delete render, the finally block must unset it again — leaving it
    'true' silently flips footer emission for every later parquet write
    in the session."""
    key = "spark.sql.parquet.fieldId.write.enabled"
    try:
        spark.conf.unset(key)
    except Exception:
        pass
    t = str(tmp_path / "confdel")
    uf.write_iceberg_native(
        spark, spark.range(0, 40).withColumn("v", F.col("id") * 2), t
    )
    assert uf.delete_iceberg_native(spark, t, "id % 5 = 0")
    assert spark.conf.get(key, None) is None, "conf must be unset again"
    # and when it WAS set, the prior value is restored
    spark.conf.set(key, "false")
    try:
        assert uf.delete_iceberg_native(spark, t, "id % 7 = 0")
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.unset(key)


def test_native_write_empty_string_partition_value(spark, tmp_path):
    """ADVICE r10: Spark's hive layout writes '' under
    __HIVE_DEFAULT_PARTITION__ — indistinguishable from null on
    parse-back — so the one-pass staging must route tables with
    empty-string identity partition values to the per-tuple fallback,
    keeping '' and null distinct in the manifests and in pruning."""
    t = str(tmp_path / "emptypv")
    df = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, None), (4, ""), (5, "a")], "id long, grp string"
    )
    uf.write_iceberg_native(spark, df, t, partition_spec=[("grp", "identity")])
    pvs = {f["partition"].get("grp") for f in uf.read_uniform_files(t)}
    assert pvs == {None, "", "a"}, f"manifest partitions wrong: {pvs}"
    got = uf.read_iceberg(spark, t, partition_filter={"grp": ""})
    assert sorted(r["id"] for r in got.collect()) == [1, 4]
    assert uf.read_iceberg(spark, t).count() == 5


def test_expire_collects_native_orphan_data_files(spark, tmp_path):
    """NATIVE tables have no Delta VACUUM: expire reference-counts
    data/ parquets against surviving manifests and collects the ones
    only expired snapshots referenced — while a UniForm twin's data
    files stay untouched (Delta owns them), and an unreadable surviving
    manifest aborts the data sweep too."""
    import glob

    t = str(tmp_path / "ngc")
    df1 = spark.range(0, 60).select("id", (F.col("id") % 2).alias("v"))
    uf.write_iceberg_native(spark, df1, t)
    first_files = {f["file_path"] for f in uf.read_uniform_files(t)}
    # UPDATE rewrites every row's file reference: old files become
    # unreachable once the pre-update snapshot expires
    assert uf.update_iceberg_native(spark, t, "id >= 0", {"v": "v + 1"})
    live_files = {f["file_path"] for f in uf.read_uniform_files(t)}
    assert first_files <= live_files, "MoR UPDATE keeps originals referenced"
    uf.uniform_expire_snapshots(t, keep=1)
    remaining = set(glob.glob(os.path.join(t, "data", "*.parquet")))
    # originals survive: still REFERENCED by the current snapshot's data
    # manifest (position deletes mask their rows, they don't unreference)
    assert first_files <= remaining
    # read still exact after GC
    got_v = sorted(r["v"] for r in uf.read_iceberg(spark, t).collect())
    assert got_v == sorted(((i % 2) + 1) for i in range(60))
    # now DELETE everything and append a fresh epoch: after expire the
    # fully-masked originals are STILL referenced (delete files target
    # them) — only files referenced by NO surviving manifest go. Build
    # that shape directly: append, then expire to current only.
    df2 = spark.range(100, 130).select("id", F.lit(9).cast("bigint").alias("v"))
    uf.write_iceberg_native(spark, df2, t, mode="append")
    # plant an orphan under data/ (a crashed pre-commit staging shape):
    # referenced files survive the sweep, the orphan is collected
    orphan = os.path.join(t, "data", "data-deadbeef.parquet")
    _write_parquet(orphan, [1], ["x"])
    deleted = uf.uniform_expire_snapshots(t, keep=1)
    assert not os.path.exists(orphan)
    assert "data-deadbeef.parquet" in deleted
    assert uf.read_iceberg(spark, t).count() == 90
    # the sweep aborts when a surviving manifest is unreadable
    orphan2 = os.path.join(t, "data", "data-cafebabe.parquet")
    _write_parquet(orphan2, [2], ["y"])
    uf.write_iceberg_native(
        spark, spark.range(130, 140).select("id", F.lit(1).cast("bigint").alias("v")),
        t, mode="append",
    )
    meta2 = uf._read_prior_metadata(os.path.join(t, "metadata"))
    cur2 = next(
        sn for sn in meta2["snapshots"]
        if sn["snapshot-id"] == meta2["current-snapshot-id"]
    )
    _, mans2 = uf.read_avro(cur2["manifest-list"])
    with open(mans2[0]["manifest_path"], "wb") as fh:
        fh.write(b"Obj\x01corrupt")
    uf.uniform_expire_snapshots(t, keep=1)
    assert os.path.exists(orphan2), "unreadable surviving manifest must abort the data sweep"
    # UniForm twin: data files NEVER collected by expire
    from pos_dlt_spark.sources.delta_writer import delta_optimize, write_delta

    t2 = str(tmp_path / "uni_gc")
    write_delta(
        spark.range(0, 50).coalesce(1),
        t2,
        configuration={"delta.universalFormat.enabledFormats": "iceberg"},
    )
    write_delta(spark.range(50, 80).coalesce(1), t2)
    delta_optimize(spark, t2, target_files=1)  # old files now historical
    before = set(glob.glob(os.path.join(t2, "*.parquet")))
    uf.uniform_expire_snapshots(t2, keep=1)
    assert set(glob.glob(os.path.join(t2, "*.parquet"))) == before


def _native_bucketed(spark, t):
    df = spark.range(0, 100).select(
        "id", F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp")
    )
    uf.write_iceberg_native(spark, df, t, partition_spec=[("id", "bucket[4]")])


def _native_append(spark, t):
    df = spark.range(100, 110).select("id", F.lit("gx").alias("grp"))
    return uf.write_iceberg_native(spark, df, t, mode="append")


_NATIVE_COMMITS = {
    "append": _native_append,
    "delete": lambda spark, t: uf.delete_iceberg_native(spark, t, "id % 7 = 0"),
    "update": lambda spark, t: uf.update_iceberg_native(
        spark, t, "id < 10", {"grp": "'z'"}
    ),
    "equality_delete": lambda spark, t: uf.append_equality_delete(
        t, {"grp": ["g1"]}, [2]
    ),
}


@pytest.mark.parametrize("commit", list(_NATIVE_COMMITS))
def test_native_commit_keeps_properties_and_stamps_last_updated(
    spark, tmp_path, commit
):
    """Every native snapshot commit carries the table's properties
    through and stamps ``last-updated-ms`` with the new snapshot's
    ``timestamp-ms``."""
    t = str(tmp_path / commit)
    _native_bucketed(spark, t)
    md_dir = os.path.join(t, "metadata")
    meta = uf._read_prior_metadata(md_dir)
    meta["properties"]["owner"] = "inventory"
    with open(os.path.join(md_dir, "v1.metadata.json"), "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    md = _NATIVE_COMMITS[commit](spark, t)
    with open(md, encoding="utf-8") as fh:
        after = json.load(fh)
    assert after["properties"].get("owner") == "inventory"
    cur = uf._resolve_snapshot(after)
    assert cur["snapshot-id"] == 2
    assert after["last-updated-ms"] == cur["timestamp-ms"]


def _fail_metadata_writes(monkeypatch):
    """Make every Iceberg table-metadata JSON write die partway through
    (a full disk or a killed writer); other JSON writes go through."""
    real_dump = json.dump

    def dump(obj, fh, *args, **kwargs):
        if ".metadata.json" not in getattr(fh, "name", ""):
            return real_dump(obj, fh, *args, **kwargs)
        fh.write(json.dumps(obj)[:40])
        raise OSError("simulated write failure")

    monkeypatch.setattr(json, "dump", dump)


_FAILED_PUBLISH = {
    "native_append": (_native_bucketed, _native_append),
    "native_delete": (_native_bucketed, _NATIVE_COMMITS["delete"]),
    "uniform_sync": (
        lambda spark, t: write_delta(
            spark.range(0, 50).coalesce(1), t, configuration=UNIFORM_CONF
        ),
        lambda spark, t: write_delta(spark.range(50, 80).coalesce(1), t),
    ),
}


@pytest.mark.parametrize("commit", list(_FAILED_PUBLISH))
def test_failed_metadata_publish_leaves_prior_version_current(
    spark, tmp_path, monkeypatch, commit
):
    """A commit whose metadata write fails leaves no ``v<N+1>`` and no
    tmp file, the hint still names N, and both discovery rules (hint,
    and max-version without it) resolve snapshot N."""
    setup, run = _FAILED_PUBLISH[commit]
    t = str(tmp_path / commit)
    setup(spark, t)
    md_dir = os.path.join(t, "metadata")
    n = uf._read_prior_metadata(md_dir)["current-snapshot-id"]
    _fail_metadata_writes(monkeypatch)
    with pytest.raises(OSError, match="simulated write failure"):
        run(spark, t)
    monkeypatch.undo()
    names = os.listdir(md_dir)
    assert f"v{n + 1}.metadata.json" not in names
    assert not [x for x in names if ".tmp-" in x]
    hint = os.path.join(md_dir, "version-hint.text")
    with open(hint, encoding="utf-8") as fh:
        assert fh.read().strip() == str(n)
    assert uf._read_prior_metadata(md_dir)["current-snapshot-id"] == n
    os.remove(hint)
    assert uf._read_prior_metadata(md_dir)["current-snapshot-id"] == n


@pytest.mark.parametrize(
    "keep, survivors", [(2, [2, 3]), (3, [1, 2, 3])], ids=["expires", "nothing_expires"]
)
def test_expire_sweeps_orphan_manifest_lists(spark, tmp_path, monkeypatch, keep, survivors):
    """A commit that failed after writing its manifest list leaves a
    ``snap-*.avro`` no snapshot names; expire removes it while every
    retained snapshot still reads — also when no snapshot expires."""
    import glob

    t = str(tmp_path / "orphan_list")
    _native_bucketed(spark, t)
    _native_append(spark, t)
    uf.delete_iceberg_native(spark, t, "id % 5 = 0")
    _fail_metadata_writes(monkeypatch)
    with pytest.raises(OSError, match="simulated write failure"):
        _native_append(spark, t)
    monkeypatch.undo()
    md_dir = os.path.join(t, "metadata")
    orphans = glob.glob(os.path.join(md_dir, "snap-4-*.avro"))
    assert len(orphans) == 1
    deleted = uf.uniform_expire_snapshots(t, keep=keep)
    assert os.path.basename(orphans[0]) in deleted
    assert not os.path.exists(orphans[0])
    meta = uf._read_prior_metadata(md_dir)
    kept = {os.path.basename(s["manifest-list"]) for s in meta["snapshots"]}
    assert {os.path.basename(p) for p in glob.glob(os.path.join(md_dir, "snap-*.avro"))} == kept
    assert [s["snapshot-id"] for s in meta["snapshots"]] == survivors
    assert uf.read_iceberg(spark, t, snapshot_id=2).count() == 110
    assert uf.read_iceberg(spark, t, snapshot_id=3).count() == 88


def test_metadata_only_rewrites_publish_the_next_version(spark, tmp_path):
    """A table whose metadata version is not its snapshot id (as a
    foreign writer leaves it: ``v3.metadata.json``, hint 3, current
    snapshot 8): a ref write publishes ``v4`` and moves the hint, so
    both discovery rules (hint, and max-version without it) see the ref;
    dropping it does the same."""
    t = str(tmp_path / "foreign_version")
    write_delta(spark.range(0, 10).coalesce(1), t, configuration=UNIFORM_CONF)
    for lo in range(10, 80, 10):
        write_delta(spark.range(lo, lo + 10).coalesce(1), t)
    md_dir = os.path.join(t, "metadata")
    meta = uf._read_prior_metadata(md_dir)
    assert meta["current-snapshot-id"] == 8
    for n in os.listdir(md_dir):
        if n.endswith(".metadata.json"):
            os.remove(os.path.join(md_dir, n))
    with open(os.path.join(md_dir, "v3.metadata.json"), "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    hint = os.path.join(md_dir, "version-hint.text")
    with open(hint, "w", encoding="utf-8") as fh:
        fh.write("3")

    def under_both_rules(fn):
        """``fn()`` resolved through the hint, then without it."""
        with open(hint, encoding="utf-8") as fh:
            saved = fh.read()
        first = fn()
        os.remove(hint)
        try:
            return first, fn()
        finally:
            with open(hint, "w", encoding="utf-8") as fh:
                fh.write(saved)

    uf.uniform_set_ref(t, "audit")
    with open(hint, encoding="utf-8") as fh:
        assert fh.read().strip() == "4"
    assert os.path.exists(os.path.join(md_dir, "v4.metadata.json"))
    tagged = under_both_rules(lambda: uf.read_iceberg(spark, t, ref="audit").count())
    assert tagged == (80, 80)
    uf.uniform_drop_ref(t, "audit")
    refs = under_both_rules(lambda: set(uf._read_prior_metadata(md_dir).get("refs") or {}))
    assert refs == (set(), set())
