"""UniForm-style Iceberg metadata emission for Delta tables — the
public interop surface delta-spark ships as "Universal Format"
(`delta.universalFormat.enabledFormats=iceberg`): every commit ALSO
writes Apache Iceberg table metadata (version-hint + metadata JSON +
manifest list + manifest, per the public Iceberg table spec v2)
referencing the SAME parquet data files, so an Iceberg reader can scan
the table without understanding the Delta log.

Everything here is built from the public Iceberg specification
(iceberg.apache.org/spec) — the metadata JSON layout, the Avro object
container format (Avro 1.11 spec: zigzag-varint binary encoding, `Obj1`
container with embedded schema + sync markers), the manifest-list and
manifest-entry schemas with their REQUIRED field-ids. No Avro or
Iceberg library exists in this container, so the Avro writer/reader
below implement the needed subset by hand, the same dependency-free
posture as the BMP/WAV/PNG/JPEG codecs.

ROW-LEVEL DELETES: Delta deletion vectors are rendered as Iceberg v2
POSITION DELETE files (spec §Position Delete Files: parquet rows of
(file_path: 2147483546, pos: 2147483545), referenced by a content=1
delete manifest) — the exact Iceberg analog of a DV, so dv-mode
DELETE/UPDATE/MERGE tables stay readable through the Iceberg metadata
with identical row semantics. Whole-file removes (copy-on-write DML,
OPTIMIZE, replaceWhere) fall back to one full-manifest rewrite of the
live set, so no stale snapshot can resurrect rows: the sync rides the
SAME call that commits the Delta change. Each pure-append window still
reuses the prior manifests and appends one manifest of only the new
files (incremental, like real UniForm).

HONEST BOUNDARY (enforced at enablement): column mapping is refused
(physical names diverge from the Iceberg schema), as are column types
with no Iceberg rendering. Equality deletes are a READ-side surface
only (foreign tables); this emitter never writes them.

Scale: the sync is O(live files) driver-side metadata — the same cost
class as the Delta log fold that feeds it, and it reuses the fold the
commit already performed.
"""

from __future__ import annotations

import json
import os
import re
import struct
import uuid

from pos_dlt_spark.pyworker import map_in_pandas
from pos_dlt_spark.sources.delta import _abs_file
from pos_dlt_spark.sources.fileindex import pruned_parquet as _pruned

# --------------------------------------------------------------------------
# Avro binary encoding (Avro 1.11 spec, the subset Iceberg metadata needs)
# --------------------------------------------------------------------------


def _enc_long(out: bytearray, n: int) -> None:
    z = (n << 1) ^ (n >> 63)  # arithmetic shift keeps the sign trick exact
    z &= (1 << 64) - 1
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            break


def _enc_bytes(out: bytearray, b: bytes) -> None:
    _enc_long(out, len(b))
    out += b


def _enc_str(out: bytearray, s: str) -> None:
    _enc_bytes(out, s.encode("utf-8"))


def _enc_value(out: bytearray, schema, value) -> None:
    """Encode ``value`` per the (parsed-JSON) Avro ``schema``. Supports
    the subset Iceberg metadata uses: primitives, record, array, map,
    fixed, and ``[null, X]`` unions."""
    if isinstance(schema, list):  # union — Iceberg only uses [null, X]
        if value is None:
            _enc_long(out, schema.index("null"))
            return
        idx = next(i for i, s in enumerate(schema) if s != "null")
        _enc_long(out, idx)
        _enc_value(out, schema[idx], value)
        return
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if value else 0)
    elif t in ("int", "long"):
        _enc_long(out, int(value))
    elif t == "float":
        out += struct.pack("<f", float(value))
    elif t == "double":
        out += struct.pack("<d", float(value))
    elif t == "string":
        _enc_str(out, value)
    elif t == "bytes":
        _enc_bytes(out, bytes(value))
    elif t == "fixed":
        out += bytes(value)
    elif t == "record":
        for f in schema["fields"]:
            _enc_value(out, f["type"], value.get(f["name"]))
    elif t == "array":
        items = list(value or [])
        if items:
            _enc_long(out, len(items))
            for it in items:
                _enc_value(out, schema["items"], it)
        _enc_long(out, 0)
    elif t == "map":
        entries = dict(value or {})
        if entries:
            _enc_long(out, len(entries))
            for k, v in entries.items():
                _enc_str(out, k)
                _enc_value(out, schema["values"], v)
        _enc_long(out, 0)
    else:
        raise ValueError(f"unsupported Avro type {t!r}")


class _AvroCursor:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def long(self) -> int:
        shift = 0
        acc = 0
        while True:
            b = self.data[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def raw(self, n: int) -> bytes:
        b = self.data[self.pos : self.pos + n]
        self.pos += n
        return b


def _dec_value(cur: _AvroCursor, schema):
    if isinstance(schema, list):
        idx = cur.long()
        return _dec_value(cur, schema[idx]) if schema[idx] != "null" else None
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return None
    if t == "boolean":
        return cur.raw(1) != b"\x00"
    if t in ("int", "long"):
        return cur.long()
    if t == "float":
        return struct.unpack("<f", cur.raw(4))[0]
    if t == "double":
        return struct.unpack("<d", cur.raw(8))[0]
    if t == "string":
        return cur.raw(cur.long()).decode("utf-8")
    if t == "bytes":
        return cur.raw(cur.long())
    if t == "fixed":
        return cur.raw(schema["size"])
    if t == "record":
        return {f["name"]: _dec_value(cur, f["type"]) for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = cur.long()
            if n == 0:
                break
            if n < 0:  # block with byte-size prefix
                cur.long()
                n = -n
            for _ in range(n):
                out.append(_dec_value(cur, schema["items"]))
        return out
    if t == "map":
        out = {}
        while True:
            n = cur.long()
            if n == 0:
                break
            if n < 0:
                cur.long()
                n = -n
            for _ in range(n):
                k = cur.raw(cur.long()).decode("utf-8")
                out[k] = _dec_value(cur, schema["values"])
        return out
    raise ValueError(f"unsupported Avro type {t!r}")


def write_avro(
    path: str,
    schema: dict,
    records: list[dict],
    meta: dict | None = None,
    codec: str = "null",
) -> None:
    """Write an Avro OBJECT CONTAINER file: Obj1 magic, file-metadata
    map carrying the embedded schema, 16-byte sync marker, one data
    block. ``codec``: ``null`` (stored) or ``deflate`` (raw DEFLATE per
    the Avro spec — what real Iceberg writers emit by default)."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec {codec!r}")
    sync = uuid.uuid5(uuid.NAMESPACE_URL, path).bytes  # deterministic
    body = bytearray()
    for r in records:
        _enc_value(body, schema, r)
    if codec == "deflate":
        import zlib

        co = zlib.compressobj(wbits=-15)  # raw DEFLATE, no zlib header
        body = co.compress(bytes(body)) + co.flush()
    head = bytearray()
    head += b"Obj\x01"
    md = {"avro.schema": json.dumps(schema), "avro.codec": codec}
    for k, v in (meta or {}).items():
        md[k] = v
    _enc_long(head, len(md))
    for k, v in md.items():
        _enc_str(head, k)
        _enc_bytes(head, v.encode("utf-8") if isinstance(v, str) else v)
    _enc_long(head, 0)
    head += sync
    _enc_long(head, len(records))
    _enc_long(head, len(body))
    tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "wb") as fh:
        fh.write(bytes(head) + bytes(body) + sync)
    os.replace(tmp, path)


def read_avro(path: str) -> tuple[dict, list[dict]]:
    """Read back an Avro object container using its EMBEDDED schema —
    the generic reader the round-trip tests use, so the writer cannot be
    self-consistently wrong about the container layout. Accepts the
    ``null`` and ``deflate`` codecs (deflate is what real Iceberg
    writers emit by default, so foreign tables read here too)."""
    with open(path, "rb") as fh:
        data = fh.read()
    if data[:4] != b"Obj\x01":
        raise ValueError("not an Avro object container")
    cur = _AvroCursor(data, 4)
    md: dict[str, bytes] = {}
    while True:
        n = cur.long()
        if n == 0:
            break
        if n < 0:
            cur.long()
            n = -n
        for _ in range(n):
            k = cur.raw(cur.long()).decode("utf-8")
            md[k] = cur.raw(cur.long())
    codec = md.get("avro.codec", b"null") or b"null"
    if codec not in (b"null", b"deflate"):
        raise ValueError(
            f"unsupported Avro codec {codec!r} (null and deflate supported)"
        )
    schema = json.loads(md["avro.schema"])
    sync = cur.raw(16)
    records: list[dict] = []
    while cur.pos < len(data):
        n = cur.long()
        blen = cur.long()  # block byte length (compressed size for deflate)
        if codec == b"deflate":
            import zlib

            block = zlib.decompressobj(-15).decompress(cur.raw(blen))
            bcur = _AvroCursor(block)
        else:
            bcur = cur
        for _ in range(n):
            records.append(_dec_value(bcur, schema))
        if cur.raw(16) != sync:
            raise ValueError("sync marker mismatch")
    return schema, records


# --------------------------------------------------------------------------
# Iceberg schema / metadata rendering (table spec v2)
# --------------------------------------------------------------------------

_SPARK_TO_ICEBERG = {
    "boolean": "boolean",
    "integer": "int",
    "short": "int",
    "byte": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
}


def iceberg_schema(spark_schema) -> tuple[dict, int]:
    """Iceberg schema JSON (top-level struct with sequential field-ids)
    from a flat Spark schema; returns (schema, last_column_id). Nested
    types are outside the supported boundary and refuse loudly."""
    fields = []
    fid = 0
    for f in spark_schema.fields:
        tn = f.dataType.typeName()
        if tn.startswith("decimal"):
            it = f"decimal({f.dataType.precision}, {f.dataType.scale})"
        elif tn in _SPARK_TO_ICEBERG:
            it = _SPARK_TO_ICEBERG[tn]
        else:
            raise ValueError(
                f"uniform: column {f.name!r} type {tn!r} has no supported "
                "Iceberg rendering (nested/variant columns are outside the "
                "UniForm boundary here)"
            )
        fid += 1
        fields.append(
            {"id": fid, "name": f.name, "required": False, "type": it}
        )
    return (
        {"type": "struct", "schema-id": 0, "fields": fields},
        fid,
    )


def _partition_spec(schema_fields: list[dict], partition_columns: list[str]) -> dict:
    by_name = {f["name"]: f["id"] for f in schema_fields}
    return {
        "spec-id": 0,
        "fields": [
            {
                "name": c,
                "transform": "identity",
                "source-id": by_name[c],
                "field-id": 1000 + i,
            }
            for i, c in enumerate(partition_columns)
        ],
    }


def _partition_avro_schema(spec: dict, schema_fields: list[dict]) -> dict:
    """Avro record schema for the manifest entry's typed partition
    struct (identity transforms only — values keep the source type)."""
    by_id = {f["id"]: f for f in schema_fields}
    _ICE_TO_AVRO = {
        "boolean": "boolean",
        "int": "int",
        "long": "long",
        "float": "float",
        "double": "double",
        "string": "string",
        "date": {"type": "int", "logicalType": "date"},
        "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
        "timestamptz": {"type": "long", "logicalType": "timestamp-micros"},
    }
    fields = []
    for pf in spec["fields"]:
        src = by_id[pf["source-id"]]
        rt = _transform_result_type(pf.get("transform", "identity"), src["type"])
        av = _ICE_TO_AVRO.get(rt, "string")
        fields.append(
            {
                "name": pf["name"],
                "type": ["null", av],
                "field-id": pf["field-id"],
                "default": None,
            }
        )
    return {"type": "record", "name": "r102", "fields": fields}


def _bounds_map_schema(name: str, key_id: int, val_id: int) -> dict:
    """Iceberg's rendering of map<int, binary> in Avro: keys must be
    strings in plain Avro maps, so the spec uses an array of key/value
    records with ``logicalType: map``."""
    return [
        "null",
        {
            "type": "array",
            "logicalType": "map",
            "items": {
                "type": "record",
                "name": name,
                "fields": [
                    {"name": "key", "type": "int", "field-id": key_id},
                    {"name": "value", "type": "bytes", "field-id": val_id},
                ],
            },
        },
    ]


def _manifest_entry_schema(partition_schema: dict) -> dict:
    """manifest_entry Avro schema with the spec's REQUIRED v2 field-ids
    (status=0, snapshot_id=1, data_file=2; data_file: content=134,
    file_path=100, file_format=101, partition=102, record_count=103,
    file_size_in_bytes=104) plus the OPTIONAL per-column bounds
    (lower_bounds=125, upper_bounds=128) that make Iceberg-side file
    skipping possible."""
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": partition_schema, "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {
                "name": "lower_bounds",
                "type": _bounds_map_schema("k126_v127", 126, 127),
                "field-id": 125,
                "default": None,
            },
            {
                "name": "upper_bounds",
                "type": _bounds_map_schema("k129_v130", 129, 130),
                "field-id": 128,
                "default": None,
            },
            {
                # spec field-id 135: set only on EQUALITY delete files
                # (content=2); this emitter writes position deletes, so
                # its own entries leave it null — present for foreign
                # equality-delete manifests and the read-side tests
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
                "field-id": 135,
                "default": None,
            },
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {
                "name": "snapshot_id",
                "type": ["null", "long"],
                "field-id": 1,
                "default": None,
            },
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "field-id": 3,
                "default": None,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "field-id": 4,
                "default": None,
            },
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def _write_manifest(
    md_dir: str, snapshot_id: int, entries: list[dict], schema: dict, spec: dict, content: int
) -> dict:
    """Write one manifest over ``entries`` — data files (``content=0``)
    or delete files (``content=1``, position or equality) — and return
    its manifest-list entry. The entries' sequence numbers are null, so
    they inherit the list entry's: the new snapshot's id."""
    prefix = "manifest" if content == 0 else "manifest-del"
    man_path = os.path.join(md_dir, f"{prefix}-{snapshot_id}-{uuid.uuid4().hex[:8]}.avro")
    write_avro(
        man_path,
        _manifest_entry_schema(_partition_avro_schema(spec, schema["fields"])),
        entries,
        meta={
            "schema": json.dumps(schema),
            "partition-spec": json.dumps(spec["fields"]),
            "partition-spec-id": str(spec["spec-id"]),
            "format-version": "2",
            "content": "data" if content == 0 else "deletes",
        },
    )
    return {
        "manifest_path": man_path,
        "manifest_length": os.path.getsize(man_path),
        "partition_spec_id": spec["spec-id"],
        "content": content,
        "sequence_number": snapshot_id,
        "min_sequence_number": snapshot_id,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(e["data_file"]["record_count"] for e in entries),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }


def _current_manifests(meta: dict) -> list[dict]:
    """The manifest-list entries of the table's current snapshot."""
    return read_avro(_resolve_snapshot(meta)["manifest-list"])[1]


def _commit_snapshot(
    md_dir: str,
    meta: dict,
    snapshot_id: int,
    manifests: list[dict],
    summary: dict,
    timestamp_ms: int,
) -> str:
    """The one Iceberg snapshot commit. Writes ``manifests`` (the whole
    list: carried entries + the new ones) as the snapshot's manifest
    list, appends the snapshot and its ``snapshot-log`` entry to
    ``meta`` (every other key — properties, refs, schema and spec
    history — passes through), advances ``current-snapshot-id``,
    ``last-sequence-number`` and ``last-updated-ms``, and publishes the
    next metadata version (see :func:`_publish_metadata`). Returns the
    metadata JSON path."""
    mlist_path = os.path.join(md_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}.avro")
    write_avro(mlist_path, _MANIFEST_LIST_SCHEMA, manifests, meta={"format-version": "2"})
    meta = dict(meta)
    meta["snapshots"] = list(meta.get("snapshots") or []) + [
        {
            "snapshot-id": snapshot_id,
            "sequence-number": snapshot_id,
            "timestamp-ms": timestamp_ms,
            "manifest-list": mlist_path,
            "summary": summary,
            "schema-id": int(meta["current-schema-id"]),
        }
    ]
    meta["snapshot-log"] = [
        {"snapshot-id": s["snapshot-id"], "timestamp-ms": s["timestamp-ms"]}
        for s in meta["snapshots"]
    ]
    meta["current-snapshot-id"] = snapshot_id
    meta["last-sequence-number"] = snapshot_id
    meta["last-updated-ms"] = timestamp_ms
    return _publish_metadata(md_dir, meta)


def _publish_metadata(md_dir: str, meta: dict) -> str:
    """Publish ``meta`` as the table's next metadata version — the
    current one (:func:`_current_version`) plus 1 — then move
    ``version-hint.text`` to it, each through a tmp file and one atomic
    ``os.replace`` (the spec's commit is a swap of the table-metadata
    file). The version is independent of the snapshot id: snapshot
    commits and metadata-only rewrites (refs, expiry) each take the
    next one. A failed write removes its tmp file and leaves the prior
    version current. Returns the metadata JSON path."""
    version = _current_version(md_dir) + 1
    md_path = os.path.join(md_dir, f"v{version}.metadata.json")
    writes = [
        (md_path, lambda fh: json.dump(meta, fh)),
        (os.path.join(md_dir, "version-hint.text"), lambda fh: fh.write(str(version))),
    ]
    for target, write in writes:
        tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
        try:
            with open(tmp, "w", encoding="utf-8") as fh:
                write(fh)
            os.replace(tmp, target)
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise
    return md_path


UNIFORM_PROP = "delta.universalFormat.enabledFormats"


def uniform_enabled(configuration: dict | None) -> bool:
    return "iceberg" in (configuration or {}).get(UNIFORM_PROP, "")


def refuse_unsupported_uniform(configuration: dict, schema, partition_by) -> None:
    """Enablement-time refusal of every table shape that could make the
    Iceberg rendering lie later: column mapping (physical names diverge
    from the Iceberg schema) and unsupported column types (checked via
    iceberg_schema). DML tables are fine — removes trigger a
    full-manifest resync and deletion vectors are rendered as Iceberg
    position deletes in the same call that commits them."""
    if (configuration.get("delta.columnMapping.mode") or "none") != "none":
        raise ValueError("uniform (iceberg) with column mapping is not supported")
    iceberg_schema(schema)  # raises on unsupported types


def _bound_bytes(ice_type: str, value) -> bytes | None:
    """Iceberg single-value binary serialization (spec Appendix D) for
    the bound types this emitter supports: int/date 4-byte LE, long 8 LE,
    float 4 LE, double 8 LE, boolean 1 byte, string UTF-8, timestamps
    8-byte LE micros from the ISO rendering Delta stats carry.
    Unsupported types return None — the bound is simply omitted
    (conservative: that column never prunes)."""
    import datetime

    try:
        if ice_type == "int":
            return struct.pack("<i", int(value))
        if ice_type == "long":
            return struct.pack("<q", int(value))
        if ice_type == "float":
            return struct.pack("<f", float(value))
        if ice_type == "double":
            return struct.pack("<d", float(value))
        if ice_type == "boolean":
            return b"\x01" if value in (True, "true", "True") else b"\x00"
        if ice_type == "string":
            return str(value).encode("utf-8")
        if ice_type == "date":
            d = datetime.date.fromisoformat(str(value)[:10])
            return struct.pack("<i", (d - datetime.date(1970, 1, 1)).days)
        if ice_type in ("timestamp", "timestamptz"):
            ts = datetime.datetime.fromisoformat(
                str(value).replace("Z", "+00:00")
            )
            if ts.tzinfo is not None:
                ts = ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            epoch = datetime.datetime(1970, 1, 1)
            return struct.pack(
                "<q", int((ts - epoch).total_seconds() * 1_000_000)
            )
    except (TypeError, ValueError, OverflowError):
        return None
    return None


def _bound_value(ice_type: str, raw: bytes):
    """Inverse of :func:`_bound_bytes` for the reader's pruning."""
    import datetime

    if ice_type == "int":
        return struct.unpack("<i", raw)[0]
    if ice_type == "long":
        return struct.unpack("<q", raw)[0]
    if ice_type == "float":
        return struct.unpack("<f", raw)[0]
    if ice_type == "double":
        return struct.unpack("<d", raw)[0]
    if ice_type == "boolean":
        return raw != b"\x00"
    if ice_type == "string":
        return raw.decode("utf-8")
    if ice_type == "date":
        return (
            datetime.date(1970, 1, 1) + datetime.timedelta(days=struct.unpack("<i", raw)[0])
        ).isoformat()
    if ice_type in ("timestamp", "timestamptz"):
        us = struct.unpack("<q", raw)[0]
        return (
            datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=us)
        ).isoformat()
    raise ValueError(f"no bound decoding for {ice_type!r}")


def _file_bounds(add: dict, schema_fields: list[dict]) -> tuple[list | None, list | None]:
    """lower/upper bounds (as the Avro array-of-record map rendering)
    from a Delta add action's stats JSON; (None, None) when stats are
    absent or nothing serializes."""
    try:
        stats = json.loads(add.get("stats") or "{}")
    except (TypeError, ValueError):
        return None, None
    by_name = {f["name"]: f for f in schema_fields}

    def render(side: str) -> list | None:
        vals = stats.get(side) or {}
        out = []
        for name, v in vals.items():
            f = by_name.get(name)
            if f is None or v is None:
                continue
            b = _bound_bytes(f["type"], v)
            if b is not None:
                out.append({"key": f["id"], "value": b})
        return out or None

    return render("minValues"), render("maxValues")


def _typed_partition_value(raw: str | None, ice_type: str):
    if raw is None:
        return None
    if ice_type in ("int", "long"):
        return int(raw)
    if ice_type in ("float", "double"):
        return float(raw)
    if ice_type == "boolean":
        return raw.lower() == "true"
    return raw  # string / date / timestamp rendered as source strings


def _evolved_schema(spark_schema, prior: dict):
    """Schema evolution with STABLE FIELD IDS (the Iceberg contract:
    a field keeps its id across type widening and re-ordering; new
    fields get fresh ids above last-column-id — uniform tables cannot
    rename or drop columns, both require column mapping, which uniform
    refuses, so name-keyed matching is sound here). Returns
    ``(schema, last_column_id, schema_id, schemas_history)``: when the
    rendering matches the prior newest schema the history is unchanged,
    otherwise the new schema is APPENDED with the next schema-id —
    snapshots record which schema-id they wrote, so time travel reads
    each snapshot with its own schema."""
    base, _ = iceberg_schema(spark_schema)
    prior_schemas = prior.get("schemas") or []
    if not prior_schemas:
        n = len(base["fields"])
        return base, n, 0, [base]
    known: dict[str, int] = {}
    for s in prior_schemas:
        for f in s["fields"]:
            known[f["name"]] = f["id"]
    last = max(
        int(prior.get("last-column-id") or 0),
        max((f["id"] for s in prior_schemas for f in s["fields"]), default=0),
    )
    fields = []
    for f in base["fields"]:
        if f["name"] in known:
            fid = known[f["name"]]
        else:
            last += 1
            fid = last
        fields.append({**f, "id": fid})
    newest = max(prior_schemas, key=lambda s: s["schema-id"])
    if fields == newest["fields"]:
        return (
            newest,
            last,
            newest["schema-id"],
            prior_schemas,
        )
    schema_id = max(s["schema-id"] for s in prior_schemas) + 1
    evolved = {"type": "struct", "schema-id": schema_id, "fields": fields}
    return evolved, last, schema_id, prior_schemas + [evolved]


# --------------------------------------------------------------------------
# Partition transforms (Iceberg spec §Partition Transforms + Appendix B).
# The EMITTER writes identity specs only (Delta partitioning is identity);
# these evaluate FOREIGN tables' transforms for read-side manifest pruning.
# --------------------------------------------------------------------------

_EPOCH_ORD = 719163  # datetime.date(1970, 1, 1).toordinal()


def _murmur3_32(data: bytes) -> int:
    """murmur3_x86_32 with seed 0 — the spec's Appendix B hash (pinned
    by the spec's own test vectors in tests). Returns a SIGNED 32-bit
    int, matching the Java int the spec's bucket formula masks."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = 0
    n = len(data)
    for i in range(0, n - (n % 4), 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n - (n % 4):]
    if tail:
        k = 0
        for i, b in enumerate(tail):
            k |= b << (8 * i)
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - 2**32 if h >= 2**31 else h


def _days_from_epoch(value) -> int:
    import datetime

    if isinstance(value, datetime.datetime):
        value = value.date()
    if isinstance(value, datetime.date):
        return value.toordinal() - _EPOCH_ORD
    return int(value)  # already days


def _bucket_hash(value, ice_type: str) -> int:
    """Appendix B single-value hash: ints/longs/dates widen to 8-byte
    little-endian longs, strings hash their UTF-8 bytes."""
    if ice_type in ("int", "long"):
        return _murmur3_32(struct.pack("<q", int(value)))
    if ice_type == "date":
        return _murmur3_32(struct.pack("<q", _days_from_epoch(value)))
    if ice_type == "string":
        return _murmur3_32(str(value).encode("utf-8"))
    raise ValueError(f"bucket transform over unsupported type {ice_type!r}")


def _apply_transform(transform: str, value, ice_type: str):
    """Evaluate one spec transform on a SOURCE value — what a foreign
    writer stored in the manifest's partition struct for that row's
    file. Used to translate a source-column equality filter into
    manifest-level pruning."""
    import datetime

    if value is None:
        return None
    if transform == "identity":
        return value
    if transform == "void":
        return None
    m = re.fullmatch(r"bucket\[(\d+)\]", transform)
    if m:
        n = int(m.group(1))
        return (_bucket_hash(value, ice_type) & 0x7FFFFFFF) % n
    m = re.fullmatch(r"truncate\[(\d+)\]", transform)
    if m:
        w = int(m.group(1))
        if ice_type in ("int", "long"):
            return int(value) - (int(value) % w)  # floor, negatives included
        if ice_type == "string":
            return str(value)[:w]
        raise ValueError(f"truncate transform over unsupported type {ice_type!r}")
    if transform in ("year", "month", "day", "hour"):
        if ice_type == "date":
            d = value
            if not isinstance(d, datetime.date):
                d = datetime.date(1970, 1, 1) + datetime.timedelta(days=int(d))
            if transform == "year":
                return d.year - 1970
            if transform == "month":
                return (d.year - 1970) * 12 + (d.month - 1)
            if transform == "day":
                return _days_from_epoch(d)
            raise ValueError("hour transform is invalid over date columns")
        if ice_type in ("timestamp", "timestamptz"):
            ts = value
            if not isinstance(ts, datetime.datetime):
                # micros from epoch, the Iceberg physical rendering
                ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(
                    microseconds=int(ts)
                )
            if transform == "year":
                return ts.year - 1970
            if transform == "month":
                return (ts.year - 1970) * 12 + (ts.month - 1)
            if transform == "day":
                return _days_from_epoch(ts)
            micros = int(
                (ts - datetime.datetime(1970, 1, 1)).total_seconds() * 1_000_000
            )
            return micros // 3_600_000_000
        raise ValueError(
            f"{transform} transform over unsupported type {ice_type!r}"
        )
    raise ValueError(f"unsupported partition transform {transform!r}")


def _transform_result_type(transform: str, src_type: str) -> str:
    """Iceberg result type of a partition transform (spec table)."""
    if transform in ("identity", "void") or transform.startswith("truncate"):
        return src_type
    if transform.startswith("bucket") or transform in ("year", "month", "hour"):
        return "int"
    if transform == "day":
        return "date"
    raise ValueError(f"unsupported partition transform {transform!r}")


def uniform_sync(spark, path: str, snap=None) -> str:
    """Write Iceberg metadata for the CURRENT Delta snapshot under
    ``<table>/metadata/``: a manifest, a manifest list, a v2
    table-metadata JSON whose snapshot history carries one entry per
    synced Delta version, and ``version-hint.text`` for
    HadoopTables-style discovery. Returns the metadata JSON path.

    INCREMENTAL like real UniForm: the emitted metadata records the
    synced Delta version; a pure-append window since then (replayed
    from the commit JSONs, O(window)) writes a manifest holding ONLY
    the new files and APPENDS it to the prior manifest list — per-commit
    metadata cost rides the commit, not the table. Any remove in the
    window (DML rewrites, OPTIMIZE compaction, replaceWhere), any
    in-window deletion-vector change, or a schema/partition change
    falls back to one full-manifest rewrite, O(live files) driver-side.

    DELETION VECTORS are rendered as Iceberg v2 POSITION DELETE files:
    each full-rewrite sync decodes every live DV (O(deleted rows) — the
    same cost any engine pays to write position deletes) into
    per-partition parquet files of (file_path, pos) plus one content=1
    delete manifest, so Iceberg readers see exactly the Delta row set.
    Clean append windows reuse the prior delete manifest untouched."""
    from pos_dlt_spark.sources.delta import _commit_actions, _list_log, delta_snapshot

    if snap is None:
        snap = delta_snapshot(spark, path)
    md_dir = os.path.join(path, "metadata")
    os.makedirs(md_dir, exist_ok=True)
    prior = _read_prior_metadata(md_dir)
    schema, last_col, schema_id, schemas_hist = _evolved_schema(snap.schema, prior)
    spec = _partition_spec(schema["fields"], list(snap.partition_columns))
    ptypes = {
        pf["name"]: next(
            f["type"] for f in schema["fields"] if f["id"] == pf["source-id"]
        )
        for pf in spec["fields"]
    }

    version = snap.version
    snapshot_id = version + 1  # 1-based so snapshot ids stay nonzero

    # incremental window: prior synced version -> current, adds only
    sync_files = None  # None = full rewrite of one manifest
    prior_manifest_entries: list[dict] = []
    prior_v = prior.get("properties", {}).get("pos_dlt.synced-delta-version")
    if (
        prior_v is not None
        and int(prior_v) < version
        and schema_id == prior.get("current-schema-id")
        and prior.get("partition-specs") == [spec]
    ):
        commit_map = dict(_list_log(os.path.join(path, "_delta_log"))[0])
        window_adds: list[str] = []
        clean = True
        for v in range(int(prior_v) + 1, version + 1):
            cp = commit_map.get(v)
            if cp is None:
                clean = False  # compacted away: cannot replay the window
                break
            for a in _commit_actions(cp):
                if "remove" in a:
                    clean = False
                    break
                if "add" in a:
                    if a["add"].get("deletionVector"):
                        # DV change in-window: the prior delete manifest
                        # is stale — full rewrite re-renders every DV
                        clean = False
                        break
                    window_adds.append(a["add"]["path"])
            if not clean:
                break
        if clean:
            try:
                prior_manifest_entries = _current_manifests(prior)
                live = {rel for rel, _ in snap.files}
                sync_files = [rel for rel in window_adds if rel in live]
            except (OSError, ValueError, KeyError, StopIteration):
                sync_files = None
                prior_manifest_entries = []

    entries = []
    total_rows = 0
    live_pv = dict(snap.files)
    file_list = (
        snap.files if sync_files is None else [(rel, live_pv.get(rel)) for rel in sync_files]
    )
    for rel, pv in file_list:
        add = snap.adds.get(rel, {})
        nrec = None
        try:
            nrec = json.loads(add.get("stats") or "{}").get("numRecords")
        except (TypeError, ValueError):
            pass
        nrec = int(nrec) if nrec is not None else 0
        total_rows += nrec
        lower, upper = _file_bounds(add, schema["fields"])
        entries.append(
            {
                "status": 1,  # ADDED (full rewrite of the manifest each sync)
                "snapshot_id": snapshot_id,
                "sequence_number": None,  # inherited from the manifest list
                "file_sequence_number": None,
                "data_file": {
                    "content": 0,
                    "file_path": _abs_file(path, rel),
                    "file_format": "PARQUET",
                    "partition": {
                        c: _typed_partition_value((pv or {}).get(c), ptypes[c])
                        for c in ptypes
                    },
                    "record_count": nrec,
                    "file_size_in_bytes": int(add.get("size") or 0),
                    "lower_bounds": lower,
                    "upper_bounds": upper,
                },
            }
        )
    prev_total = 0
    if sync_files is not None:
        # data manifests only (content=0): a delete manifest's
        # added_rows_count counts deleted POSITIONS, not data rows —
        # including it would inflate total-records after a DV sync
        # followed by clean appends
        prev_total = sum(
            int(m.get("added_rows_count") or 0) + int(m.get("existing_rows_count") or 0)
            for m in prior_manifest_entries
            if int(m.get("content") or 0) == 0
        )
    # ---- deletion vectors -> Iceberg position delete files ----
    # Only on FULL-rewrite syncs: a clean (append-only, DV-free) window
    # reuses the prior manifest list, whose delete manifest is still
    # exact; any window that touches a DV forces the full path above.
    # One parquet delete file per PARTITION (spec: a position delete
    # file's partition must match the data it applies to), rows sorted
    # by (file_path, pos), written with the spec's reserved field-ids
    # (2147483546/2147483545) so foreign Iceberg readers bind them.
    delete_manifests: list[dict] = []
    if sync_files is None:
        dv_groups: dict[tuple, list] = {}
        for rel, pv in snap.files:
            dv = (snap.adds.get(rel) or {}).get("deletionVector")
            if dv:
                key = tuple(sorted((pv or {}).items()))
                dv_groups.setdefault(key, []).append((rel, dv))
        if dv_groups:
            import numpy as np
            import pyarrow as pa
            import pyarrow.parquet as pq

            from pos_dlt_spark.sources.dv import decode_dv_runs, read_dv_bytes

            del_entries: list[dict] = []
            for key, group in sorted(dv_groups.items()):
                tbls = []
                for rel, dv in sorted(group):
                    runs = decode_dv_runs(read_dv_bytes(path, dv)) or []
                    if not runs:
                        continue
                    pos = np.concatenate(
                        [np.arange(s, e + 1, dtype=np.int64) for s, e in runs]
                    )
                    fp = _abs_file(path, rel)
                    tbls.append(
                        pa.table(
                            {
                                "file_path": pa.array([fp] * len(pos), pa.string()),
                                "pos": pa.array(pos, pa.int64()),
                            }
                        )
                    )
                if not tbls:
                    continue
                big = pa.concat_tables(tbls).cast(
                    pa.schema(
                        [
                            pa.field(
                                "file_path",
                                pa.string(),
                                nullable=False,
                                metadata={"PARQUET:field_id": "2147483546"},
                            ),
                            pa.field(
                                "pos",
                                pa.int64(),
                                nullable=False,
                                metadata={"PARQUET:field_id": "2147483545"},
                            ),
                        ]
                    )
                )
                dfile = os.path.join(
                    md_dir, f"delete-{snapshot_id}-{uuid.uuid4().hex[:8]}.parquet"
                )
                pq.write_table(big, dfile)
                del_entries.append(
                    {
                        "status": 1,
                        "snapshot_id": snapshot_id,
                        "sequence_number": None,  # inherited: == data's seq,
                        # and position deletes apply at EQUAL-or-lower
                        # data sequence numbers per the spec
                        "file_sequence_number": None,
                        "data_file": {
                            "content": 1,
                            "file_path": dfile,
                            "file_format": "PARQUET",
                            "partition": {
                                c: _typed_partition_value(dict(key).get(c), ptypes[c])
                                for c in ptypes
                            },
                            "record_count": big.num_rows,
                            "file_size_in_bytes": os.path.getsize(dfile),
                            "lower_bounds": None,
                            "upper_bounds": None,
                        },
                    }
                )
            if del_entries:
                delete_manifests.append(
                    _write_manifest(md_dir, snapshot_id, del_entries, schema, spec, 1)
                )
    manifests = prior_manifest_entries
    if entries or sync_files is None:
        # an empty append window reuses the prior list untouched
        manifests = (
            manifests
            + [_write_manifest(md_dir, snapshot_id, entries, schema, spec, 0)]
            + delete_manifests
        )

    # commit wall time from the Delta commit file itself (deterministic
    # for a given table; no independent clock)
    commit_json = os.path.join(path, "_delta_log", f"{version:020d}.json")
    try:
        ts_ms = int(os.path.getmtime(commit_json) * 1000)
    except OSError:
        ts_ms = 0
    meta = {
        "format-version": 2,
        "table-uuid": prior.get("table-uuid")
        or str(uuid.uuid5(uuid.NAMESPACE_URL, snap.table_id or path)),
        "location": path,
        "last-column-id": last_col,
        "current-schema-id": schema_id,
        "schemas": schemas_hist,
        "default-spec-id": 0,
        "partition-specs": [spec],
        "last-partition-id": max(
            [pf["field-id"] for pf in spec["fields"]], default=999
        ),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "write.format.default": "parquet",
            "pos_dlt.synced-delta-version": str(version),
        },
        "snapshots": [
            s for s in (prior.get("snapshots") or []) if s["snapshot-id"] < snapshot_id
        ],
        "metadata-log": [],
    }
    if prior.get("refs"):
        # tags/branches survive every sync (their snapshots are all
        # retained here; expire owns their lifecycle)
        meta["refs"] = prior["refs"]
    summary = {
        "operation": (
            "overwrite" if delete_manifests or (sync_files is None and prior) else "append"
        ),
        "added-data-files": str(len(entries)),
        "total-records": str(prev_total + total_rows),
    }
    return _commit_snapshot(md_dir, meta, snapshot_id, manifests, summary, ts_ms)


_METADATA_NAME = re.compile(r"v(\d+)\.metadata\.json")


def _current_version(md_dir: str) -> int:
    """The table's current metadata version: ``version-hint.text`` when
    it names a ``v<N>.metadata.json`` on disk (HadoopTables discovery —
    what this emitter writes), else the HIGHEST ``v<N>.metadata.json``
    (foreign tables don't always write a hint; the spec's rule for
    hint-less discovery is exactly max-version); 0 when there is none."""
    try:
        with open(os.path.join(md_dir, "version-hint.text"), encoding="utf-8") as fh:
            v = int(fh.read().strip())
        if os.path.exists(os.path.join(md_dir, f"v{v}.metadata.json")):
            return v
    except (OSError, ValueError):
        pass
    try:
        names = os.listdir(md_dir)
    except OSError:
        return 0
    return max(
        (int(m.group(1)) for m in map(_METADATA_NAME.fullmatch, names) if m),
        default=0,
    )


def _read_prior_metadata(md_dir: str) -> dict:
    """The current table metadata (see :func:`_current_version`); empty
    when there is none."""
    path = os.path.join(md_dir, f"v{_current_version(md_dir)}.metadata.json")
    try:
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _entry_for_file(fp: str, pv: dict, schema: dict, snapshot_id: int) -> dict:
    """Manifest entry for one staged data parquet: record count and
    per-column lower/upper bounds from the footer (spec field-ids
    125/128) so ``read_iceberg(prune=...)`` can skip the file — the same
    stats a real Iceberg writer records at commit."""
    import pyarrow.parquet as pq

    fmeta = pq.read_metadata(fp)
    mins: dict = {}
    maxs: dict = {}
    for rg in range(fmeta.num_row_groups):
        rgm = fmeta.row_group(rg)
        for ci in range(rgm.num_columns):
            col = rgm.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            n = col.path_in_schema
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                except UnicodeDecodeError:
                    continue
            mins[n] = lo if n not in mins else min(mins[n], lo)
            maxs[n] = hi if n not in maxs else max(maxs[n], hi)
    lower: list = []
    upper: list = []
    for f in schema["fields"]:
        if f["name"] in mins:
            b_lo = _bound_bytes(f["type"], mins[f["name"]])
            b_hi = _bound_bytes(f["type"], maxs[f["name"]])
            if b_lo is not None and b_hi is not None:
                lower.append({"key": f["id"], "value": b_lo})
                upper.append({"key": f["id"], "value": b_hi})
    return {
        "status": 1,
        "snapshot_id": snapshot_id,
        "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": 0,
            "file_path": fp,
            "file_format": "PARQUET",
            "partition": pv,
            "record_count": fmeta.num_rows,
            "file_size_in_bytes": os.path.getsize(fp),
            "lower_bounds": lower or None,
            "upper_bounds": upper or None,
        },
    }


def _stage_native_data(spark, df, path: str, schema: dict, spec: dict, snapshot_id: int) -> list[dict]:
    """Stage a DataFrame as NATIVE Iceberg data parquet under
    ``<path>/data/``: ONE distributed pass — repartition on the
    transformed partition values routes each tuple to one task and
    ``partitionBy`` splits the write per tuple (typically one file per
    tuple; several are spec-legal and the reader handles them) — source
    columns kept in the files, per-column footer bounds recorded (spec
    field-ids 125/128). The old per-tuple loop re-scanned the input once
    per tuple (64 tuples = 64 scans — measured never finishing a 2M-row
    /64-tuple build inside 4 min; the one-pass path does it in ~5 s) and
    survives only as the fallback for exotic partition-value types the
    hive directory names can't round-trip. Returns the manifest ENTRIES
    for the staged files; the caller owns manifest/commit emission.
    Shared by :func:`write_iceberg_native` (create/append) and
    :func:`update_iceberg_native` (replacement rows)."""
    from pyspark.sql import functions as F

    spec_fields = spec["fields"]
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)

    work = df
    pv_cols = []
    if spec_fields:
        from pyspark.sql.types import StructField, StructType, _parse_datatype_string

        pv_specs = []
        out = StructType(list(df.schema.fields))
        for pf in spec_fields:
            src = next(
                f for f in schema["fields"] if f["id"] == pf["source-id"]
            )
            rt = _transform_result_type(pf["transform"], src["type"])
            cname = f"__pv_{pf['name']}"
            pv_specs.append((cname, pf["transform"], src["name"], src["type"]))
            out = out.add(
                StructField(
                    cname,
                    _parse_datatype_string(
                        _iceberg_type_to_spark("int" if rt == "date" else rt)
                    ),
                )
            )
            pv_cols.append(cname)

        def _gen(it):
            # Arrow-batched; per-row python only inside the transform —
            # acceptable here because this writer is fixture/hand-off
            # scale by contract (see write_iceberg_native docstring)
            for pdf in it:
                for cname, transform, srcn, ice_type in pv_specs:
                    pdf[cname] = pdf[srcn].map(
                        lambda v, t=transform, y=ice_type: _apply_transform(
                            t, v, y
                        )
                    )
                yield pdf

        work = map_in_pandas(df, _gen, out)

    entries: list[dict] = []

    def _write_one(part_df, pv: dict) -> None:
        import shutil as _sh
        import uuid as _uuid

        tmp = os.path.join(path, f"_staging-{_uuid.uuid4().hex[:8]}")
        part_df.coalesce(1).write.parquet(tmp)
        part = next(
            n for n in os.listdir(tmp) if n.endswith(".parquet")
        )
        fp = os.path.join(data_dir, f"data-{_uuid.uuid4().hex[:8]}.parquet")
        os.replace(os.path.join(tmp, part), fp)
        _sh.rmtree(tmp, ignore_errors=True)
        entries.append(_entry_for_file(fp, pv, schema, snapshot_id))

    logical = [f["name"] for f in schema["fields"]]
    if not pv_cols:
        _write_one(work.select(*logical), {})
        return entries

    # typed parse-back of hive partition directory names, per the
    # transform result type — decides whether the ONE-PASS path applies
    rts = {}
    for pf in spec_fields:
        src = next(f for f in schema["fields"] if f["id"] == pf["source-id"])
        rts[pf["name"]] = _transform_result_type(pf["transform"], src["type"])
    one_pass = all(rt in ("int", "long", "date", "string") for rt in rts.values())
    if one_pass:
        # hive directory names can't round-trip an EMPTY STRING partition
        # value — Spark writes '' under __HIVE_DEFAULT_PARTITION__, the
        # same name as null, so parse-back would record '' as null in the
        # manifest and read-side pruning (which computes '' via
        # _apply_transform) would prune wrongly. One column-pruned probe
        # aggregate; tables with '' values route to the per-tuple loop,
        # which filters on the typed value and never parses names back.
        str_cols = [
            f"__pv_{pf['name']}"
            for pf in spec_fields
            if rts[pf["name"]] == "string"
        ]
        if str_cols:
            flags = work.agg(
                *[
                    F.max(F.when(F.col(c) == "", 1).otherwise(0)).alias(c)
                    for c in str_cols
                ]
            ).first()
            if any((flags[c] or 0) == 1 for c in str_cols):
                one_pass = False

    if not one_pass:
        # exotic partition value types (float/timestamp identity):
        # bounded per-tuple loop — P scans, fixture-scale by contract
        pvs = [
            r.asDict() for r in work.select(*pv_cols).distinct().collect()
        ]  # bounded by the spec's partition count, not rows
        for pv_row in sorted(pvs, key=lambda d: tuple(str(v) for v in d.values())):
            cond = None
            for c, v in pv_row.items():
                piece = (
                    F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
                )
                cond = piece if cond is None else (cond & piece)
            pv = {
                pf["name"]: pv_row[f"__pv_{pf['name']}"] for pf in spec_fields
            }
            _write_one(work.filter(cond).select(*logical), pv)
        return entries

    # ONE-PASS staging (the scale path, r10): a single scan writes every
    # partition tuple via partitionBy — repartition on the transformed
    # values routes each tuple to exactly one task, so one file per
    # tuple falls out without P full scans (the old loop re-scanned the
    # input once per tuple: 64 tuples = 64 scans). Source columns stay
    # IN the files (partitionBy excludes only the derived __pv_ cols);
    # the driver then just moves files and reads footers.
    import shutil as _sh
    from urllib.parse import unquote

    stage = os.path.join(path, f"_staging-{uuid.uuid4().hex[:8]}")
    (
        work.repartition(*pv_cols)
        .select(*logical, *pv_cols)
        .write.partitionBy(*pv_cols)
        .parquet(stage)
    )

    def _parse_pv(col: str, raw: str):
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        raw = unquote(raw)
        return int(raw) if rts[col] in ("int", "long", "date") else raw

    def _walk(dirpath: str, depth: int, pv: dict) -> None:
        if depth == len(spec_fields):
            for n in sorted(os.listdir(dirpath)):
                if not n.endswith(".parquet"):
                    continue
                fp = os.path.join(
                    os.path.join(path, "data"),
                    f"data-{uuid.uuid4().hex[:8]}.parquet",
                )
                os.replace(os.path.join(dirpath, n), fp)
                entries.append(_entry_for_file(fp, dict(pv), schema, snapshot_id))
            return
        pf = spec_fields[depth]
        prefix = f"__pv_{pf['name']}="
        for d in sorted(os.listdir(dirpath)):
            if d.startswith(prefix):
                _walk(
                    os.path.join(dirpath, d),
                    depth + 1,
                    {**pv, pf["name"]: _parse_pv(pf["name"], d[len(prefix):])},
                )

    _walk(stage, 0, {})
    _sh.rmtree(stage, ignore_errors=True)
    entries.sort(key=lambda e: str(e["data_file"]["partition"]))
    return entries


def write_iceberg_native(
    spark,
    df,
    path: str,
    partition_spec: list | None = None,
    mode: str = "create",
) -> str:
    """Write a NATIVE Iceberg v2 table (not a UniForm twin) from a
    DataFrame: data parquet under ``<path>/data/`` plus the full
    metadata chain. ``partition_spec`` is ``[(source_col, transform)]``
    with any transform :func:`_apply_transform` evaluates (identity,
    bucket[N], truncate[W], year/month/day/hour). Per the spec's
    transform-partitioning contract, SOURCE columns stay in the data
    files; the transformed partition value lives only in the manifests —
    exactly the shape foreign engines hand :func:`read_iceberg`.

    Data files stage in ONE distributed pass, split per partition tuple
    (see :func:`_stage_native_data`); transform
    evaluation rides an Arrow-batched pandas UDF (bit-identical to the
    read side's pruning, which calls the same `_apply_transform`).
    Unpartitioned tables write one repartition-preserving scan. Returns
    the metadata JSON path. This writer exists for interop fixtures and
    engine hand-off at table-build time — the high-volume write path
    remains Delta + UniForm.

    ``mode='append'`` adds a snapshot to an EXISTING native table: new
    data files under the table's spec (inherited; ``partition_spec``
    must be omitted), one new manifest APPENDED to the prior manifest
    list (the incremental shape, O(new files)). The prior metadata
    passes through whole — snapshots, refs, table properties, schema
    and spec history — exactly as native DELETE/UPDATE commit. The
    DataFrame's Iceberg rendering must match the table schema exactly —
    evolution is the UniForm path's job.

    Both modes commit through :func:`_commit_snapshot`: the new
    ``v<N>.metadata.json`` and ``version-hint.text`` are each published
    by one atomic tmp+replace, so a failed commit leaves version N-1
    current and no partial metadata file behind."""
    md_dir = os.path.join(path, "metadata")
    existing = os.path.isdir(md_dir) and bool(os.listdir(md_dir))
    if mode not in ("create", "append"):
        raise ValueError(f"mode must be create|append, got {mode!r}")
    if mode == "create":
        if existing:
            raise ValueError(f"{path} already has Iceberg metadata")
        snapshot_id = 1
        schema, last_col = iceberg_schema(df.schema)
        by_name = {f["name"]: f for f in schema["fields"]}
        spec_fields = []
        for i, (col, transform) in enumerate(partition_spec or []):
            if col not in by_name:
                raise ValueError(
                    f"partition source column {col!r} not in schema"
                )
            _transform_result_type(transform, by_name[col]["type"])  # validate
            suffix = transform.split("[")[0]
            spec_fields.append(
                {
                    "name": col if transform == "identity" else f"{col}_{suffix}",
                    "transform": transform,
                    "source-id": by_name[col]["id"],
                    "field-id": 1000 + i,
                }
            )
        spec = {"spec-id": 0, "fields": spec_fields}
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, path)),
            "location": path,
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [schema],
            "default-spec-id": 0,
            "partition-specs": [spec],
            "last-partition-id": max([pf["field-id"] for pf in spec_fields], default=999),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {"write.format.default": "parquet"},
            "metadata-log": [],
        }
        manifests = []
    else:
        if partition_spec is not None:
            raise ValueError("partition_spec is set at table creation only")
        meta = _read_prior_metadata(md_dir)
        if not meta:
            raise ValueError(f"append requires an existing Iceberg table at {path}")
        schema = next(
            s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
        )
        new_schema, _ = iceberg_schema(df.schema)
        if [(f["name"], f["type"]) for f in new_schema["fields"]] != [
            (f["name"], f["type"]) for f in schema["fields"]
        ]:
            raise ValueError(
                "append schema mismatch: table "
                f"{[(f['name'], f['type']) for f in schema['fields']]} vs "
                f"dataframe {[(f['name'], f['type']) for f in new_schema['fields']]}"
            )
        # the prior DEFAULT spec, own id included: a foreign table whose
        # default-spec-id != 0 keeps its manifests' partition_spec_id
        # references intact; the whole prior metadata (spec history,
        # properties, refs) passes through the commit unchanged
        spec = next(
            p for p in meta["partition-specs"] if p["spec-id"] == meta["default-spec-id"]
        )
        snapshot_id = int(meta["current-snapshot-id"]) + 1
        manifests = _current_manifests(meta)
    os.makedirs(md_dir, exist_ok=True)
    entries = _stage_native_data(spark, df, path, schema, spec, snapshot_id)
    manifests.append(_write_manifest(md_dir, snapshot_id, entries, schema, spec, 0))
    # timestamp-ms = snapshot id: deterministic and order-preserving
    return _commit_snapshot(
        md_dir, meta, snapshot_id, manifests, {"operation": "append"}, snapshot_id
    )


def _native_dml_scan(spark, path: str, op: str):
    """Shared preamble for native row-level DML: resolve the current
    snapshot and build the data scan with the parquet reader's native
    row position, with every already-deleted row excluded from the match
    set — prior POSITION deletes by broadcast anti-join on normalized
    ``(file_path, pos)`` (normalized both sides: foreign writers emit
    URI-schemed ``file://`` paths in their delete rows, while
    ``_scan_meta_cols`` strips the scheme), and foreign EQUALITY deletes
    (content=2, e.g. Flink CDC) folded in by null-safe broadcast
    anti-join on their equality_ids columns under the spec's
    strictly-greater sequence rule — the same visibility
    :func:`_apply_iceberg_deletes` computes on the read side. The DML
    then emits position deletes as usual; replacement rows land at a
    HIGHER sequence than every existing equality delete, so they are
    never swallowed by one.

    UniForm twins (a ``_delta_log`` beside the Iceberg metadata) refuse:
    the Delta log is the source of truth there, an Iceberg-side commit
    would diverge the two readers and the next ``uniform_sync`` would
    silently discard it — route twins' DML through the Delta writer
    (``delta_delete`` / ``delta_update`` + sync), mirroring the
    native/twin split ``uniform_expire_snapshots`` encodes.

    Returns (meta, schema, spec, files, df) — df is None when the table
    has no data files."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType, _parse_datatype_string

    if os.path.isdir(os.path.join(path, "_delta_log")):
        raise ValueError(
            f"{op}: {path} is a UniForm twin — the Delta log owns row "
            "data; Iceberg-side DML would be discarded by the next "
            "uniform_sync. Use delta_delete/delta_update on the Delta "
            "table and re-sync."
        )
    md_dir = os.path.join(path, "metadata")
    meta = _read_prior_metadata(md_dir)
    if not meta:
        raise FileNotFoundError(f"no Iceberg metadata under {md_dir}")
    snap = _resolve_snapshot(meta)
    files, delete_files = _snapshot_data_files(meta, snap)
    schema = next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )
    spec = next(
        p for p in meta["partition-specs"] if p["spec-id"] == meta["default-spec-id"]
    )
    if not files:
        return meta, schema, spec, files, None
    by_id = {f["id"]: f for f in schema["fields"]}
    identity_only = all(pf["transform"] == "identity" for pf in spec["fields"])
    part_cols = (
        [by_id[pf["source-id"]]["name"] for pf in spec["fields"]]
        if identity_only
        else []
    )
    sp = StructType()
    for f in schema["fields"]:
        sp = sp.add(
            f["name"], _parse_datatype_string(_iceberg_type_to_spark(f["type"]))
        )
    reader = spark.read.schema(sp)
    fpaths = [_norm_file_path(f["file_path"]) for f in files]
    if part_cols:
        reader = reader.option("basePath", meta["location"])
        df = _pruned(
            reader, fpaths, base_dir=_norm_file_path(meta["location"])
        ).select("*", *_scan_meta_cols())
    else:
        df = _pruned(reader, fpaths).select("*", *_scan_meta_cols())
    pos_dels = [d for d in delete_files if int(d.get("content") or 0) == 1]
    eq_dels = [d for d in delete_files if int(d.get("content") or 0) == 2]
    if pos_dels:
        dd = spark.read.parquet(*[d["file_path"] for d in pos_dels]).select(
            F.regexp_replace(F.col("file_path"), "^file:(//)?", "").alias(
                "__ice_path"
            ),
            F.col("pos").cast("long").alias("__ice_pos"),
        )
        df = df.join(F.broadcast(dd), ["__ice_path", "__ice_pos"], "left_anti")
    if eq_dels:
        by_id = {f["id"]: f for f in schema["fields"]}
        max_data_seq = max(int(d["_seq"]) for d in files)
        eq_need_seq = any(int(d["_seq"]) <= max_data_seq for d in eq_dels)
        if eq_need_seq:
            seq_rows = [
                (_norm_file_path(d["file_path"]), int(d["_seq"])) for d in files
            ]
            seq_df = spark.createDataFrame(
                seq_rows, "__ice_path string, __data_seq long"
            )
            df = df.join(F.broadcast(seq_df), "__ice_path", "left").withColumn(
                "__data_seq", F.coalesce(F.col("__data_seq"), F.lit(0))
            )
        groups: dict[tuple, list] = {}
        for d in eq_dels:
            ids = tuple(int(i) for i in d["equality_ids"])
            groups.setdefault((ids, int(d["_seq"])), []).append(d["file_path"])
        for (ids, dseq_n), dpaths in sorted(groups.items()):
            cols = []
            for i in ids:
                if i not in by_id:
                    raise ValueError(
                        f"{op}: equality_ids field {i} not in table schema"
                    )
                cols.append(by_id[i])
            edf = spark.read.parquet(*dpaths).select(
                *[
                    F.col(c["name"])
                    .cast(_iceberg_type_to_spark(c["type"]))
                    .alias(f"__eq_{c['name']}")
                    for c in cols
                ]
            )
            cond = (
                F.lit(dseq_n) > F.col("__data_seq") if eq_need_seq else F.lit(True)
            )
            for c in cols:
                cond = cond & F.col(c["name"]).eqNullSafe(F.col(f"__eq_{c['name']}"))
            df = df.join(F.broadcast(edf), cond, "left_anti")
        if eq_need_seq:
            df = df.drop("__data_seq")
    return meta, schema, spec, files, df


def _render_native_deletes_distributed(
    spark, md_dir: str, snapshot_id: int, pairs, files: list, schema: dict, spec: dict
) -> dict:
    """Render matched ``(__ice_path, __ice_pos)`` pairs as position-
    delete parquets under ONE content=1 delete manifest (returns its
    manifest-list entry). A delete file's partition must match the data
    it applies to, so the matched-pair DataFrame joins a broadcast (file -> partition tuple) map built from the manifests
    (metadata-scale), repartitions by partition tuple (one task per
    tuple — the same bounded fan-in as the data writer), sorts within
    each file by (file_path, pos), and writes the delete parquets
    EXECUTOR-SIDE with Spark's parquet field-id emission
    (``parquet.field.id`` column metadata -> the spec's reserved ids).
    The driver touches only file names and footers. Multiple files per
    partition tuple are legal per the spec, so task retries or huge
    tuples need no single-file choreography."""
    import shutil as _sh
    from urllib.parse import unquote

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    keys: dict[str, dict] = {}
    rows = []
    for f in files:
        pv = f.get("partition") or {}
        k = json.dumps(sorted(pv.items()), sort_keys=True, default=str)
        keys[k] = pv
        rows.append((_norm_file_path(f["file_path"]), k))
    map_df = spark.createDataFrame(rows, "___fp string, __part string")
    out = (
        pairs.join(F.broadcast(map_df), pairs["__ice_path"] == map_df["___fp"])
        .select(
            F.col("__ice_path").alias(
                "file_path", metadata={"parquet.field.id": 2147483546}
            ),
            F.col("__ice_pos").alias(
                "pos", metadata={"parquet.field.id": 2147483545}
            ),
            "__part",
        )
    )
    stage = os.path.join(md_dir, f"_delstage-{uuid.uuid4().hex[:8]}")
    prior_conf = spark.conf.get("spark.sql.parquet.fieldId.write.enabled", None)
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    try:
        (
            out.repartition("__part")
            .sortWithinPartitions("file_path", "pos")
            .write.partitionBy("__part")
            .parquet(stage)
        )
    finally:
        if prior_conf is not None:
            spark.conf.set("spark.sql.parquet.fieldId.write.enabled", prior_conf)
        else:
            # leaving it 'true' would silently flip footer emission for
            # every later parquet write in the session (e.g. staged
            # native data files would start carrying field ids)
            spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
    del_entries: list[dict] = []
    for d in sorted(os.listdir(stage)):
        if not d.startswith("__part="):
            continue
        pv = keys[unquote(d[len("__part="):])]
        for n in sorted(os.listdir(os.path.join(stage, d))):
            if not n.endswith(".parquet"):
                continue
            dfile = os.path.join(
                md_dir, f"delete-{snapshot_id}-{uuid.uuid4().hex[:8]}.parquet"
            )
            os.replace(os.path.join(stage, d, n), dfile)
            fmeta = pq.read_metadata(dfile)
            del_entries.append(
                {
                    "status": 1,
                    "snapshot_id": snapshot_id,
                    "sequence_number": None,
                    "file_sequence_number": None,
                    "data_file": {
                        "content": 1,
                        "file_path": dfile,
                        "file_format": "PARQUET",
                        "partition": pv,
                        "record_count": fmeta.num_rows,
                        "file_size_in_bytes": os.path.getsize(dfile),
                        "lower_bounds": None,
                        "upper_bounds": None,
                    },
                }
            )
    _sh.rmtree(stage, ignore_errors=True)
    return _write_manifest(md_dir, snapshot_id, del_entries, schema, spec, 1)


def append_equality_delete(
    path: str, columns: dict[str, list], equality_ids: list[int]
) -> str:
    """FIXTURE/INTEROP utility: commit one foreign-style EQUALITY delete
    (content=2) snapshot onto a native table — the shape a Flink CDC
    writer leaves behind, which this emitter never produces itself (its
    own row-level DML renders position deletes). ``columns`` maps the
    delete key columns to their value lists; ``equality_ids`` are their
    Iceberg field ids. The delete lands global (empty partition tuple)
    under a content=1 delete manifest at the NEW snapshot's sequence
    number, so it applies to every existing data file (strictly-lower
    rule) and to nothing committed later. Exists so tests and gates can
    synthesize the interop surface :func:`_native_dml_scan` and
    :func:`_apply_iceberg_deletes` must honor; not a production write
    path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    md_dir = os.path.join(path, "metadata")
    meta = _read_prior_metadata(md_dir)
    if not meta:
        raise FileNotFoundError(f"no Iceberg metadata under {md_dir}")
    schema = next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )
    spec = next(
        p for p in meta["partition-specs"] if p["spec-id"] == meta["default-spec-id"]
    )
    snapshot_id = int(meta["current-snapshot-id"]) + 1
    dfile = os.path.join(
        md_dir, f"eqdelete-{snapshot_id}-{uuid.uuid4().hex[:8]}.parquet"
    )
    pq.write_table(pa.table(columns), dfile)
    nrows = len(next(iter(columns.values())))
    entry = {
        "status": 1,
        "snapshot_id": snapshot_id,
        "sequence_number": None,  # inherited from the list entry
        "file_sequence_number": None,
        "data_file": {
            "content": 2,
            "file_path": dfile,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": nrows,
            "file_size_in_bytes": os.path.getsize(dfile),
            "equality_ids": list(equality_ids),
            "lower_bounds": None,
            "upper_bounds": None,
        },
    }
    dman_entry = _write_manifest(md_dir, snapshot_id, [entry], schema, spec, 1)
    return _commit_snapshot(
        md_dir,
        meta,
        snapshot_id,
        _current_manifests(meta) + [dman_entry],
        {"operation": "delete", "equality-deletes": str(nrows)},
        snapshot_id,
    )


def delete_iceberg_native(spark, path: str, predicate: str) -> str | None:
    """Row-level DELETE on a NATIVE Iceberg v2 table as POSITION DELETES
    — no data file is rewritten, moved, or dropped (VERDICT r09 #4: the
    UniForm path renders DVs this way; this re-targets the same
    machinery at native manifests). ``predicate`` is a Spark SQL boolean
    expression over the table columns.

    Shape: one scan of the current snapshot's data files with the
    parquet reader's native row position (``_metadata.row_index``),
    already-deleted positions excluded by broadcast anti-join, matching
    ``(file_path, pos)`` pairs grouped by the owning file's partition
    tuple, one sorted position-delete parquet per partition with the
    reserved field-ids 2147483546/2147483545, all under one content=1
    delete manifest appended to the prior manifest list — the
    incremental O(deleted) commit, exactly what ``orders_iceberg_
    dv_deletes`` pins for the UniForm path. The delete parquets are
    written executor-side (see :func:`_render_native_deletes_distributed`):
    the driver never collects the matched positions, only the delete
    files' names and footers. Prior snapshots, refs, schemas and partition-spec history
    carry through unchanged; the new snapshot's HIGHER sequence number
    makes the deletes apply to every current file (equal-or-lower rule)
    and never to files appended later.

    Zero matching rows commit nothing and return None; otherwise
    returns the new metadata JSON path. Tables carrying foreign
    EQUALITY deletes (e.g. written by Flink CDC) fold them into the
    match-set visibility first (see :func:`_native_dml_scan`), so the
    DELETE never re-deletes or resurrects a row an equality delete
    already removed."""
    from pyspark.sql import functions as F

    md_dir = os.path.join(path, "metadata")
    meta, schema, spec, files, df = _native_dml_scan(
        spark, path, "delete_iceberg_native"
    )
    if df is None:
        return None
    pairs = df.filter(F.expr(predicate)).select("__ice_path", "__ice_pos")
    n = pairs.count()
    if n == 0:
        return None
    snapshot_id = int(meta["current-snapshot-id"]) + 1
    dman_entry = _render_native_deletes_distributed(
        spark, md_dir, snapshot_id, pairs, files, schema, spec
    )
    return _commit_snapshot(
        md_dir,
        meta,
        snapshot_id,
        _current_manifests(meta) + [dman_entry],
        {
            "operation": "delete",
            "total-position-deletes": str(dman_entry["added_rows_count"]),
        },
        snapshot_id,
    )


def update_iceberg_native(
    spark, path: str, predicate: str, assignments: dict[str, str]
) -> str | None:
    """Row-level UPDATE on a NATIVE Iceberg v2 table as a merge-on-read
    OVERWRITE snapshot: matched rows are position-DELETED in place (same
    rendering as :func:`delete_iceberg_native`) and their replacements
    land in new data files — original data files untouched, ONE snapshot
    carries both the content=1 delete manifest and the new data
    manifest. ``assignments`` maps column name -> Spark SQL expression
    with SIMULTANEOUS-SET semantics (every RHS sees the pre-update row —
    the same contract as ``delta_update``). Replacement rows re-evaluate
    the spec's partition transforms, so an UPDATE that changes a
    partition source column MOVES the row to its new partition tuple.

    The new data files and the delete manifest share the snapshot's
    sequence number: position deletes apply at equal-or-lower DATA
    sequence, and they reference only the OLD file paths, so replacement
    rows are never self-deleted. Zero matches commit nothing and return
    None."""
    from pyspark.sql import functions as F

    md_dir = os.path.join(path, "metadata")
    meta, schema, spec, files, df = _native_dml_scan(
        spark, path, "update_iceberg_native"
    )
    if df is None:
        return None
    logical = [f["name"] for f in schema["fields"]]
    unknown = set(assignments) - set(logical)
    if unknown:
        raise ValueError(f"update_iceberg_native: unknown columns {sorted(unknown)}")
    # one matched frame feeds BOTH the delete render and the replacement
    # rows; the scan is deterministic (immutable snapshot-pinned files),
    # so the two derivations cannot disagree
    matched_rows = df.filter(F.expr(predicate))
    pairs = matched_rows.select("__ice_path", "__ice_pos")
    n = pairs.count()
    if n == 0:
        return None
    snapshot_id = int(meta["current-snapshot-id"]) + 1
    dman_entry = _render_native_deletes_distributed(
        spark, md_dir, snapshot_id, pairs, files, schema, spec
    )
    # simultaneous SET: every RHS evaluates against the pre-update row
    by_name = {f["name"]: f for f in schema["fields"]}
    sel = [
        (
            F.expr(assignments[c])
            .cast(_iceberg_type_to_spark(by_name[c]["type"]))
            .alias(c)
            if c in assignments
            else F.col(c)
        )
        for c in logical
    ]
    replacements = matched_rows.select(*sel)
    data_entries = _stage_native_data(
        spark, replacements, path, schema, spec, snapshot_id
    )
    data_entry = _write_manifest(md_dir, snapshot_id, data_entries, schema, spec, 0)
    return _commit_snapshot(
        md_dir,
        meta,
        snapshot_id,
        _current_manifests(meta) + [data_entry, dman_entry],
        {
            "operation": "overwrite",
            "total-position-deletes": str(dman_entry["added_rows_count"]),
        },
        snapshot_id,
    )


def iceberg_metadata_table(spark, path: str, kind: str):
    """Iceberg's inspection/metadata tables (`SELECT * FROM t.snapshots`
    etc.) as DataFrames built purely from the emitted metadata — the
    operational surface Iceberg users query for table forensics. Kinds:

    - ``snapshots``: committed_at, snapshot_id, operation, manifest_list,
      summary (map) — one row per retained snapshot.
    - ``history``: made_current_at, snapshot_id, is_current_ancestor
      (this emitter's history is linear, so every retained snapshot is
      an ancestor of current).
    - ``manifests``: content, path, length, partition_spec_id,
      added_snapshot_id, added/existing/deleted data file counts for the
      CURRENT snapshot's manifest list.
    - ``files``: content, file_path, file_format, record_count,
      file_size_in_bytes, partition (map<string,string>) for the CURRENT
      snapshot — data AND delete files.
    - ``partitions``: per-partition file_count / record_count /
      total_size_bytes over the CURRENT snapshot's data files.
    - ``refs``: name, type, snapshot_id — the tags/branches map.

    Everything here is metadata-scale (rows = snapshots/manifests/files,
    never data rows), built driver-side like any Iceberg catalog does."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    md_dir = os.path.join(path, "metadata")
    meta = _read_prior_metadata(md_dir)
    if not meta:
        raise FileNotFoundError(f"no Iceberg metadata under {md_dir}")
    snaps = sorted(meta.get("snapshots") or [], key=lambda s: s["snapshot-id"])

    def _ts(ms: int):
        import datetime

        return datetime.datetime.utcfromtimestamp(ms / 1000.0)

    if kind == "snapshots":
        schema = StructType(
            [
                StructField("committed_at", TimestampType()),
                StructField("snapshot_id", LongType()),
                StructField("operation", StringType()),
                StructField("manifest_list", StringType()),
                StructField("summary", MapType(StringType(), StringType())),
            ]
        )
        rows = [
            (
                _ts(s["timestamp-ms"]),
                s["snapshot-id"],
                (s.get("summary") or {}).get("operation"),
                s["manifest-list"],
                {k: str(v) for k, v in (s.get("summary") or {}).items()},
            )
            for s in snaps
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "history":
        schema = StructType(
            [
                StructField("made_current_at", TimestampType()),
                StructField("snapshot_id", LongType()),
                StructField("is_current_ancestor", StringType()),
            ]
        )
        rows = [
            (_ts(s["timestamp-ms"]), s["snapshot-id"], "true") for s in snaps
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "refs":
        schema = StructType(
            [
                StructField("name", StringType()),
                StructField("type", StringType()),
                StructField("snapshot_id", LongType()),
            ]
        )
        rows = [
            (n, r.get("type"), int(r["snapshot-id"]))
            for n, r in sorted((meta.get("refs") or {}).items())
        ]
        return spark.createDataFrame(rows, schema)
    cur = _resolve_snapshot(meta)
    if kind == "manifests":
        _, manifests = read_avro(cur["manifest-list"])
        schema = StructType(
            [
                StructField("content", IntegerType()),
                StructField("path", StringType()),
                StructField("length", LongType()),
                StructField("partition_spec_id", IntegerType()),
                StructField("added_snapshot_id", LongType()),
                StructField("added_data_files_count", IntegerType()),
                StructField("existing_data_files_count", IntegerType()),
                StructField("deleted_data_files_count", IntegerType()),
            ]
        )
        rows = [
            (
                int(m.get("content") or 0),
                m["manifest_path"],
                int(m["manifest_length"]),
                int(m.get("partition_spec_id") or 0),
                int(m.get("added_snapshot_id") or 0),
                int(m.get("added_files_count") or 0),
                int(m.get("existing_files_count") or 0),
                int(m.get("deleted_files_count") or 0),
            )
            for m in manifests
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "files":
        data, deletes = _snapshot_data_files(meta, cur)
        schema = StructType(
            [
                StructField("content", IntegerType()),
                StructField("file_path", StringType()),
                StructField("file_format", StringType()),
                StructField("record_count", LongType()),
                StructField("file_size_in_bytes", LongType()),
                StructField("partition", MapType(StringType(), StringType())),
            ]
        )
        rows = [
            (
                int(f.get("content") or 0),
                f["file_path"],
                f.get("file_format"),
                int(f.get("record_count") or 0),
                int(f.get("file_size_in_bytes") or 0),
                {
                    k: (None if v is None else str(v))
                    for k, v in (f.get("partition") or {}).items()
                },
            )
            for f in data + deletes
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "partitions":
        data, deletes = _snapshot_data_files(meta, cur)
        agg: dict = {}
        for f in data:
            key = tuple(
                sorted(
                    (k, None if v is None else str(v))
                    for k, v in (f.get("partition") or {}).items()
                )
            )
            n_files, n_rows, n_bytes = agg.get(key, (0, 0, 0))
            agg[key] = (
                n_files + 1,
                n_rows + int(f.get("record_count") or 0),
                n_bytes + int(f.get("file_size_in_bytes") or 0),
            )
        schema = StructType(
            [
                StructField("partition", MapType(StringType(), StringType())),
                StructField("file_count", IntegerType()),
                StructField("record_count", LongType()),
                StructField("total_size_bytes", LongType()),
            ]
        )
        rows = [
            (dict(k), n_files, n_rows, n_bytes)
            for k, (n_files, n_rows, n_bytes) in sorted(agg.items())
        ]
        return spark.createDataFrame(rows, schema)
    raise ValueError(
        f"unknown metadata table {kind!r} "
        "(snapshots, history, manifests, files, partitions, refs)"
    )


def uniform_expire_snapshots(path: str, keep: int = 5) -> list[str]:
    """Iceberg ``expireSnapshots`` for the emitted metadata: keep the
    newest ``keep`` snapshots (the current one always survives), publish
    the metadata without the expired entries as the next version
    (:func:`_publish_metadata`), and delete the files only expired
    snapshots used: every metadata JSON whose ``current-snapshot-id``
    expired, their manifest lists, and any manifest referenced by NO surviving manifest
    list (incremental emission REUSES manifests across snapshots, so
    reference-counting against every retained list is the correctness
    condition — symmetric to the Delta log's sidecar GC). Manifest lists
    no retained snapshot names (``snap-*.avro`` left by a commit that
    failed before its metadata publish) go in the same sweep.

    UniForm twins' DATA files are never touched: they belong to the
    Delta side, whose VACUUM owns their retention. NATIVE tables (no
    ``_delta_log``) have no such janitor, so expire reference-counts
    their ``data/`` parquets against every surviving manifest and
    collects the unreachable ones — an UPDATE's superseded replacements
    and an expired append's files stop leaking (r10). Time travel to an
    expired snapshot id then raises the usual "not in table metadata" —
    Iceberg's own retention trade. Returns the deleted file names."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    md_dir = os.path.join(path, "metadata")
    meta = _read_prior_metadata(md_dir)
    if not meta:
        raise FileNotFoundError(f"no Iceberg metadata under {md_dir}")
    snaps = sorted(meta.get("snapshots") or [], key=lambda s: s["snapshot-id"])
    cur = meta["current-snapshot-id"]
    kept = snaps[-keep:]
    if not any(s["snapshot-id"] == cur for s in kept):  # pragma: no cover
        kept.append(next(s for s in snaps if s["snapshot-id"] == cur))
    # refs PIN their snapshots (the spec's per-ref retention): a tagged
    # or branched snapshot survives any keep window until the ref drops
    ref_ids = {
        r["snapshot-id"] for r in (meta.get("refs") or {}).values()
    }
    kept_ids_now = {k["snapshot-id"] for k in kept}
    for s in snaps:
        if s["snapshot-id"] in ref_ids and s["snapshot-id"] not in kept_ids_now:
            kept.append(s)
    kept.sort(key=lambda s: s["snapshot-id"])
    kept_ids = {s["snapshot-id"] for s in kept}
    expired = [s for s in snaps if s["snapshot-id"] not in kept_ids]
    if expired:
        meta = dict(meta)
        meta["snapshots"] = kept
        meta["snapshot-log"] = [
            e for e in meta.get("snapshot-log") or [] if e["snapshot-id"] in kept_ids
        ]
        _publish_metadata(md_dir, meta)
    # the sweeps below run even when nothing expired: a failed commit's
    # orphans are collectable as soon as they exist

    referenced: set[str] = set()
    # a retained-but-unreadable manifest list could reference ANY
    # manifest; its contents cannot enter `referenced`, so sweeping
    # would delete files retained metadata still points at — abort the
    # manifest AND delete-parquet sweeps for this run (expired
    # lists/JSONs still go; re-run after repairing the list)
    manifest_sweep_safe = True
    for s in kept:
        try:
            _, manifests = read_avro(s["manifest-list"])
        except Exception:  # any malformed container, not just clean errors
            manifest_sweep_safe = False
            continue
        for m in manifests:
            referenced.add(os.path.basename(m["manifest_path"]))
    # position-delete parquet files referenced by surviving DELETE
    # manifests. Same posture one level down: an unreadable SURVIVING
    # manifest might reference any delete parquet, so its failure
    # aborts the delete-parquet sweep (reads of that snapshot fail on
    # the manifest anyway, but files referenced by retained metadata
    # must never be deleted).
    delete_sweep_safe = manifest_sweep_safe
    referenced_deletes: set[str] = set()
    referenced_data: set[str] = set()
    for name in referenced:
        mp = os.path.join(md_dir, name)
        try:
            _, entries = read_avro(mp)
        except Exception:  # any malformed container, not just clean errors
            delete_sweep_safe = False
            continue
        for e in entries:
            df_ = e.get("data_file") or {}
            if not df_.get("file_path"):
                continue
            if int(df_.get("content") or 0) != 0:
                referenced_deletes.add(os.path.basename(df_["file_path"]))
            else:
                referenced_data.add(os.path.basename(df_["file_path"]))
    deleted: list[str] = []

    def _rm(p: str) -> None:
        try:
            os.remove(p)
            deleted.append(os.path.basename(p))
        except OSError:
            pass

    for s in expired:
        _rm(s["manifest-list"])
    # manifests referenced by no surviving list (expired lists already
    # deleted above cannot re-reference them), and manifest lists no
    # retained snapshot names — a commit that failed after writing its
    # list leaves one behind
    if manifest_sweep_safe:
        kept_lists = {os.path.basename(s["manifest-list"]) for s in kept}
        for n in sorted(os.listdir(md_dir)):
            if not n.endswith(".avro"):
                continue
            if (n.startswith("manifest-") and n not in referenced) or (
                n.startswith("snap-") and n not in kept_lists
            ):
                _rm(os.path.join(md_dir, n))
    # position-delete parquets referenced by no surviving manifest
    if delete_sweep_safe:
        for n in sorted(os.listdir(md_dir)):
            if not n.startswith("delete-") or not n.endswith(".parquet"):
                continue
            if n not in referenced_deletes:
                _rm(os.path.join(md_dir, n))
    # NATIVE tables only (no _delta_log): their data files have no Delta
    # VACUUM to collect them, so expire reference-counts them here — a
    # parquet under <path>/data/ referenced by no surviving manifest is
    # unreachable from any retained snapshot. Same abort rule as the
    # delete sweep: any unreadable surviving manifest blocks it. UniForm
    # twins keep the standing split — Delta VACUUM owns their data.
    if delete_sweep_safe and not os.path.isdir(os.path.join(path, "_delta_log")):
        ddir = os.path.join(path, "data")
        if os.path.isdir(ddir):
            for n in sorted(os.listdir(ddir)):
                if n.endswith(".parquet") and n not in referenced_data:
                    _rm(os.path.join(ddir, n))
    # older metadata JSONs whose current snapshot expired: selected by
    # the snapshot they hold, since every publish takes a new version
    # (a ref or an expiry re-publishes the same snapshot)
    expired_ids = {s["snapshot-id"] for s in expired}
    for n in sorted(os.listdir(md_dir)):
        if not _METADATA_NAME.fullmatch(n):
            continue
        try:
            with open(os.path.join(md_dir, n), encoding="utf-8") as fh:
                held = json.load(fh).get("current-snapshot-id")
        except (OSError, ValueError):
            continue
        if held in expired_ids:
            _rm(os.path.join(md_dir, n))
    return deleted


def read_uniform_files(path: str) -> list[dict]:
    """Resolve the CURRENT Iceberg snapshot's DATA files purely from the
    emitted metadata (version-hint -> metadata JSON -> manifest list ->
    manifests), never touching the Delta log — what an Iceberg reader
    does, and what the round-trip test drives. Delete files (position
    deletes rendered from DVs) are metadata-level and intentionally not
    returned: this helper answers "which parquet files are live", the
    file-set identity the round-trip gate checks; row-level semantics go
    through :func:`read_iceberg`, which applies them."""
    md_dir = os.path.join(path, "metadata")
    meta = _read_prior_metadata(md_dir)
    if not meta:
        raise FileNotFoundError(f"no Iceberg metadata under {md_dir}")
    data, _deletes = _snapshot_data_files(meta, _resolve_snapshot(meta))
    return data


def uniform_set_ref(
    path: str,
    name: str,
    snapshot_id: int | None = None,
    ref_type: str = "tag",
) -> None:
    """Write a snapshot REFERENCE into the table metadata (the spec's
    ``refs`` map — Iceberg's tags and branches, the primitive behind
    write-audit-publish). ``snapshot_id=None`` points at the current
    snapshot. Tags and branches here are READ surfaces: ``read_iceberg
    (ref=...)`` resolves them and ``uniform_expire_snapshots`` keeps
    every referenced snapshot alive regardless of the keep window (the
    spec's per-ref retention, rendered as: a ref pins its snapshot).
    Writing TO a branch is outside this emitter's boundary — commits
    always advance main (the Delta table is the single writable
    lineage), exactly like UniForm. ``snapshot_id=<expired id>``
    refuses. Published as the next metadata version
    (:func:`_publish_metadata`)."""
    if ref_type not in ("tag", "branch"):
        raise ValueError(f"ref_type must be tag|branch, got {ref_type!r}")
    md_dir = os.path.join(path, "metadata")
    meta = _read_prior_metadata(md_dir)
    if not meta:
        raise FileNotFoundError(f"no Iceberg metadata under {md_dir}")
    sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
    if not any(s["snapshot-id"] == sid for s in meta.get("snapshots") or []):
        raise ValueError(f"snapshot {sid} not in table metadata")
    meta = dict(meta)
    refs = dict(meta.get("refs") or {})
    refs[name] = {"snapshot-id": sid, "type": ref_type}
    meta["refs"] = refs
    _publish_metadata(md_dir, meta)


def uniform_drop_ref(path: str, name: str) -> None:
    """Remove a snapshot reference; missing names are ignored (the SQL
    command's IF EXISTS posture). The snapshot itself stays until
    expire's keep window lets it go."""
    md_dir = os.path.join(path, "metadata")
    meta = _read_prior_metadata(md_dir)
    if not meta:
        raise FileNotFoundError(f"no Iceberg metadata under {md_dir}")
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        return
    del refs[name]
    meta = dict(meta)
    meta["refs"] = refs
    _publish_metadata(md_dir, meta)


def _resolve_snapshot(
    meta: dict,
    snapshot_id: int | None = None,
    as_of_timestamp_ms: int | None = None,
    ref: str | None = None,
) -> dict:
    """Pick a snapshot from the table metadata: by ref (tag/branch), by
    id, by timestamp (latest snapshot at-or-before — Iceberg's time
    travel contract), or the current one."""
    if ref is not None:
        refs = meta.get("refs") or {}
        if ref not in refs:
            raise ValueError(
                f"ref {ref!r} not in table metadata (have {sorted(refs)})"
            )
        snapshot_id = refs[ref]["snapshot-id"]
    snaps = meta.get("snapshots") or []
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise ValueError(
            f"snapshot {snapshot_id} not in table metadata "
            f"(have {[s['snapshot-id'] for s in snaps]})"
        )
    if as_of_timestamp_ms is not None:
        eligible = [s for s in snaps if s["timestamp-ms"] <= as_of_timestamp_ms]
        if not eligible:
            raise ValueError(
                f"no snapshot at or before timestamp {as_of_timestamp_ms}"
            )
        return max(eligible, key=lambda s: s["timestamp-ms"])
    cur = meta["current-snapshot-id"]
    return next(s for s in snaps if s["snapshot-id"] == cur)


def _snapshot_data_files(meta: dict, snap: dict) -> tuple[list[dict], list[dict]]:
    """(data_files, delete_files) of one snapshot, from its manifest
    list. Every returned dict gains ``_seq`` — the entry's explicit
    sequence number or, for ADDED entries carrying null, the manifest's
    (the spec's sequence-number inheritance) — which decides delete-file
    applicability: position deletes apply to data files with
    ``data._seq <= delete._seq``, equality deletes with strict ``<``.
    Delete files must be position (content=1) or equality (content=2,
    with equality_ids) parquet; anything else refuses loudly."""
    _, manifests = read_avro(snap["manifest-list"])
    data: list[dict] = []
    deletes: list[dict] = []
    for m in manifests:
        mseq = int(m.get("sequence_number") or 0)
        _, entries = read_avro(m["manifest_path"])
        for e in entries:
            if e["status"] not in (0, 1):  # skip DELETED entries
                continue
            df_ = e["data_file"]
            seq = e.get("sequence_number")
            df_["_seq"] = int(seq) if seq is not None else mseq
            if (df_.get("file_format") or "").upper() != "PARQUET":
                raise ValueError(
                    f"unsupported Iceberg file format {df_.get('file_format')!r}"
                )
            content = int(df_.get("content") or 0)
            if content == 0:
                data.append(df_)
            elif content == 1:
                deletes.append(df_)
            elif content == 2:
                ids = df_.get("equality_ids")
                if not ids:
                    raise ValueError(
                        "equality delete file without equality_ids — outside "
                        "this reader's supported boundary"
                    )
                deletes.append(df_)
            else:
                raise ValueError(f"unsupported Iceberg file content {content!r}")
    return data, deletes


_ICEBERG_TO_SPARK = {
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "binary",
    "date": "date",
    "timestamptz": "timestamp",
    "timestamp": "timestamp_ntz",
}


def _iceberg_type_to_spark(it: str) -> str:
    if it.startswith("decimal("):
        return it  # same textual rendering Spark's cast parser accepts
    try:
        return _ICEBERG_TO_SPARK[it]
    except KeyError:
        raise ValueError(f"unsupported Iceberg type {it!r}") from None


def _bounds_excluded(data_file: dict, field: dict, op: str, value) -> bool:
    """True when the manifest entry's lower/upper bounds PROVE no row of
    the file can satisfy ``col op value`` — Iceberg's metadata file
    skipping. Conservative: absent/undecodable bounds keep the file."""
    def side(name: str):
        m = data_file.get(name)
        if not m:
            return None
        if isinstance(m, list):  # avro array-of-record map rendering
            m = {e["key"]: e["value"] for e in m}
        raw = m.get(field["id"])
        if raw is None:
            return None
        try:
            return _bound_value(field["type"], bytes(raw))
        except (ValueError, struct.error):
            return None

    lo, hi = side("lower_bounds"), side("upper_bounds")
    if lo is None or hi is None:
        return False
    try:
        if op == "=":
            return value < lo or value > hi
        if op == "<":
            return lo >= value
        if op == "<=":
            return lo > value
        if op == ">":
            return hi <= value
        if op == ">=":
            return hi < value
        if op == "in":
            return all(v < lo or v > hi for v in value)
    except TypeError:
        return False
    return False


def read_iceberg(
    spark,
    path: str,
    snapshot_id: int | None = None,
    as_of_timestamp_ms: int | None = None,
    partition_filter: dict | None = None,
    prune: list | None = None,
    resolve: str = "auto",
    ref: str | None = None,
):
    """Scan an Iceberg v2 table as a DataFrame using ONLY its Iceberg
    metadata — version-hint → metadata JSON → manifest list → manifests
    → parquet. The Delta log (when the table is a UniForm twin) is never
    consulted, so this is the engine-switch path: a table written by any
    engine that emits spec-v2 metadata within the supported boundary
    (identity partition transforms; null- or deflate-codec Avro; v2
    POSITION and EQUALITY delete files applied merge-on-read with
    sequence-number applicability — see :func:`_apply_iceberg_deletes`)
    reads here.

    ``snapshot_id`` / ``as_of_timestamp_ms`` select historical snapshots
    (Iceberg time travel — the metadata keeps every synced snapshot, so
    no log replay is needed; a snapshot whose files were since vacuumed
    fails on read, the same contract as Delta time travel). ``ref``
    resolves a named tag or branch written by :func:`uniform_set_ref`
    (the spec's refs map); refs pin their snapshots through
    ``uniform_expire_snapshots``.

    ``partition_filter`` ({column: value} equality) prunes at the
    MANIFEST level: entries whose typed partition struct doesn't match
    never reach the scan — Iceberg's metadata pruning, so a 100 TB
    table's one-partition read plans from kilobytes of Avro instead of
    listing the filesystem.

    ``prune`` ([(col, op, value)] with op in ``= < <= > >= in``) skips
    files whose manifest lower/upper COLUMN BOUNDS (spec field-ids
    125/128, emitted from the Delta adds' stats) prove no row matches —
    the Iceberg rendering of per-file stats skipping. Note this prunes
    the scan only; apply the same predicate with ``.filter`` for row-
    level semantics, exactly like ``read_delta(prune=...)``.

    Partition columns are not stored in the data files (the UniForm twin
    shares Delta's hive-layout files); they are re-attached from the
    directory layout via Spark's ``basePath`` partition discovery and
    cast to the metadata's declared types, keeping the scan one
    multi-file parquet read — no per-file unions, no Python row path.

    ``resolve`` picks the column-identity contract: ``'field-id'``
    groups files by their footers' ``PARQUET:field_id`` mapping and
    aliases each group's physical names to the logical schema by id —
    Iceberg's rename-proof resolution (pre-rename files keep old
    physical names; only the id ties them to the current schema).
    ``'name'`` trusts physical names (zero footer reads). ``'auto'``
    (default) probes ONE footer: id-stamped files (real Iceberg writers,
    the only tables that can rename) take the field-id path, id-less
    files (this emitter's twins — names stable by construction, renames
    need column mapping which uniform refuses) take the name path."""
    # explicit-path reads: cap Spark's listing job width (default = one
    # stat task PER PATH; see delta.scan_rels for the r11 measurement)
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.parallelism", "64"
    )
    md_dir = os.path.join(path, "metadata")
    meta = _read_prior_metadata(md_dir)
    if not meta:
        raise FileNotFoundError(f"no Iceberg metadata under {md_dir}")
    if int(meta.get("format-version", 0)) != 2:
        raise ValueError(
            f"unsupported Iceberg format-version {meta.get('format-version')!r}"
        )
    snap = _resolve_snapshot(meta, snapshot_id, as_of_timestamp_ms, ref=ref)
    files, delete_files = _snapshot_data_files(meta, snap)

    # time travel reads each snapshot with ITS OWN schema (the spec's
    # snapshot schema-id): an added column does not appear when reading
    # a snapshot that predates it
    sid = snap.get("schema-id")
    if sid is None or not any(s["schema-id"] == sid for s in meta["schemas"]):
        sid = meta["current-schema-id"]
    schema = next(s for s in meta["schemas"] if s["schema-id"] == sid)
    spec = next(
        p for p in meta["partition-specs"] if p["spec-id"] == meta["default-spec-id"]
    )
    by_id = {f["id"]: f for f in schema["fields"]}
    # validate every transform up front (unknown ones refuse loudly even
    # without a partition_filter — silently ignoring a spec we cannot
    # evaluate would break pruning contracts later)
    for pf in spec["fields"]:
        _transform_result_type(pf["transform"], by_id[pf["source-id"]]["type"])
    identity_only = all(pf["transform"] == "identity" for pf in spec["fields"])
    src_fields: dict[str, list] = {}
    for pf in spec["fields"]:
        src_fields.setdefault(by_id[pf["source-id"]]["name"], []).append(pf)
    # partition-column re-attachment from the hive layout applies to the
    # identity-only (UniForm twin) shape, where data files do NOT carry
    # the partition columns; transform-partitioned tables are written by
    # foreign engines, which always store source columns in the data
    # files (the spec requires it), so they read without basePath
    part_cols = (
        [by_id[pf["source-id"]]["name"] for pf in spec["fields"]]
        if identity_only
        else []
    )

    residual: list[tuple[str, object]] = []
    if partition_filter:
        unknown = set(partition_filter) - set(src_fields)
        if unknown:
            raise ValueError(
                f"partition_filter columns {sorted(unknown)} are not "
                f"partition source columns {sorted(src_fields)}"
            )

        def _keep(f: dict) -> bool:
            pv = f.get("partition") or {}
            for c, v in partition_filter.items():
                styp = by_id[
                    next(pf["source-id"] for pf in src_fields[c])
                ]["type"]
                for pf in src_fields[c]:
                    if pf["transform"] == "void":
                        continue
                    if pv.get(pf["name"]) != _apply_transform(
                        pf["transform"], v, styp
                    ):
                        return False
            return True

        files = [f for f in files if _keep(f)]
        # a transform value is NECESSARY but not sufficient for source
        # equality (bucket collisions, truncation, calendar grouping):
        # columns with no identity spec field get a residual row filter
        # so partition_filter keeps exact row semantics either way
        for c, v in partition_filter.items():
            if not any(pf["transform"] == "identity" for pf in src_fields[c]):
                residual.append((c, v))
    if prune:
        by_name = {f["name"]: f for f in schema["fields"]}
        for col, _op, _v in prune:
            if col not in by_name:
                raise ValueError(f"prune column {col!r} not in table schema")
        files = [
            f
            for f in files
            if not any(
                _bounds_excluded(f, by_name[col], op, v) for col, op, v in prune
            )
        ]

    paths = [_norm_file_path(f["file_path"]) for f in files]
    from pyspark.sql.types import StructType, _parse_datatype_string

    sp = StructType()
    for f in schema["fields"]:
        # DDL parser: accepts cast-style names ("int"), unlike the
        # JSON type parser StructType.add(str) routes through
        sp = sp.add(
            f["name"], _parse_datatype_string(_iceberg_type_to_spark(f["type"]))
        )
    if not paths:
        return spark.createDataFrame([], sp)
    from pyspark.sql import functions as F

    if resolve not in ("auto", "name", "field-id"):
        raise ValueError(f"resolve must be auto|name|field-id, got {resolve!r}")
    fid_mode = resolve == "field-id"
    probed_groups = None
    if resolve == "auto":
        # probe per SCAN GROUP, not one arbitrary footer: a mixed table
        # (id-stamped files from a real Iceberg engine alongside this
        # emitter's id-less files, in either order) must not let the
        # first file's convention decide the whole read — id-stamped
        # files resolve by field id, id-less files by name, in one scan
        probed_groups = _field_id_groups(spark, paths)
        fid_mode = any(sig is not None for sig in probed_groups)

    if not fid_mode:
        # the snapshot's schema is passed EXPLICITLY to the scan: files
        # that predate an added column null-fill it, files written before
        # a type widening upcast natively in the parquet reader, and
        # partition columns (identity layout) parse to their declared
        # types — no footer-sampled inference can mis-shape the read
        if part_cols:
            df = _pruned(
                spark.read.schema(sp).option("basePath", meta["location"]),
                paths,
                base_dir=_norm_file_path(meta["location"]),
            )
        else:
            df = _pruned(spark.read.schema(sp), paths)
        casts = [
            F.col(f["name"]).cast(_iceberg_type_to_spark(f["type"])).alias(f["name"])
            for f in schema["fields"]
        ]
        if delete_files:
            df = _apply_iceberg_deletes(
                spark, df, casts, files, delete_files, schema
            )
        else:
            df = df.select(*casts)
    else:
        # FIELD-ID resolution (the Iceberg column-identity contract):
        # files group by their footer's id->physical-name mapping, each
        # group scans under its own physical schema and aliases to the
        # logical names by id — a renamed column reads correctly from
        # pre-rename files instead of null-filling. Source columns live
        # in the data files for these (foreign) writers, so no basePath
        # re-attachment. Group count is bounded by schema generations,
        # not file count.
        import functools

        from pyspark.sql import DataFrame as _DF

        parts = []
        for sig, gpaths in sorted(
            (probed_groups or _field_id_groups(spark, paths)).items(),
            key=lambda kv: (kv[0] is not None, kv[0] or ()),
        ):
            if sig is None:
                # id-less group inside a mixed table: name resolution,
                # WITH the identity-layout basePath re-attachment the
                # pure-name path uses (emitter-staged files keep
                # partition columns in the directory structure)
                reader = spark.read.schema(sp)
                if part_cols:
                    reader = reader.option("basePath", meta["location"])
                    gdf = _pruned(
                        reader, gpaths,
                        base_dir=_norm_file_path(meta["location"]),
                    )
                else:
                    gdf = _pruned(reader, gpaths)
                sel = [
                    F.col(f["name"])
                    .cast(_iceberg_type_to_spark(f["type"]))
                    .alias(f["name"])
                    for f in schema["fields"]
                ]
                meta_cols = _scan_meta_cols() if delete_files else []
                parts.append(gdf.select(*sel, *meta_cols))
                continue
            id2phys = dict(sig)
            phys = StructType()
            sel = []
            for f in schema["fields"]:
                st = _parse_datatype_string(_iceberg_type_to_spark(f["type"]))
                pname = id2phys.get(f["id"])
                if pname is None:
                    sel.append(F.lit(None).cast(st).alias(f["name"]))
                else:
                    phys = phys.add(pname, st)
                    sel.append(F.col(pname).cast(st).alias(f["name"]))
            gdf = _pruned(spark.read.schema(phys), gpaths)
            meta_cols = _scan_meta_cols() if delete_files else []
            parts.append(gdf.select(*sel, *meta_cols))
        df = functools.reduce(_DF.unionByName, parts)
        if delete_files:
            df = _apply_iceberg_deletes(
                spark, df, None, files, delete_files, schema
            )
    for c, v in residual:
        df = df.filter(F.col(c) == F.lit(v))
    return df


def _norm_file_path(p: str) -> str:
    """Strip a ``file:`` / ``file://`` URI scheme so manifest paths,
    delete-file rows, and Spark's ``_metadata.file_path`` (always a URI)
    compare on the same rendering."""
    if p.startswith("file://"):
        return p[len("file://"):]
    if p.startswith("file:"):
        return p[len("file:"):]
    return p


def _parquet_field_ids(path: str) -> dict[int, str] | None:
    """Top-level parquet fields' ``PARQUET:field_id`` metadata as
    ``{field_id: physical_name}``, or None when the footer carries no
    field ids (files this emitter stages; name resolution is then the
    only contract available, and names are stable here — renames need
    column mapping, which uniform refuses)."""
    import pyarrow.parquet as pq

    sch = pq.read_schema(path)
    out: dict[int, str] = {}
    for f in sch:
        md = f.metadata or {}
        fid = md.get(b"PARQUET:field_id")
        if fid is not None:
            out[int(fid)] = f.name
    return out or None


def _field_id_groups(spark, paths: list[str]) -> dict:
    """Group data files by their footer's (field_id -> physical name)
    mapping — after an Iceberg RENAME, pre-rename files keep the old
    physical name and only the field id ties them to the current schema,
    so each distinct mapping becomes its own scan group. Footer reads go
    executor-side above a threshold (same posture as the fsck probes);
    the collected signatures are metadata-scale. Files without field ids
    group under ``None`` (resolved by name)."""
    def one(p: str):
        m = _parquet_field_ids(p)
        return (tuple(sorted(m.items())) if m else None, p)

    if len(paths) > 2000:
        rows = spark.sparkContext.parallelize(
            paths, max(1, len(paths) // 1000)
        ).map(one).collect()
    else:
        rows = [one(p) for p in paths]
    groups: dict = {}
    for sig, p in rows:
        groups.setdefault(sig, []).append(p)
    return groups


def _scan_meta_cols():
    """Projection of the scan's file identity: normalized file path +
    native parquet row position — what position deletes key on. Must be
    selected FROM EACH SCAN (``_metadata`` does not survive a union)."""
    from pyspark.sql import functions as F

    return [
        F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "").alias(
            "__ice_path"
        ),
        F.col("_metadata.row_index").alias("__ice_pos"),
    ]


def _apply_iceberg_deletes(spark, df, casts, data_files, delete_files, schema):
    """Merge-on-read: apply Iceberg v2 delete files to the data scan,
    Spark-natively. Position deletes (content=1) anti-join on
    ``(_metadata.file_path, _metadata.row_index)`` — the parquet scan's
    native row position, so no counter UDF touches the hot path; a
    delete applies when its sequence number is >= the data file's (the
    spec's equal-or-lower rule). Equality deletes (content=2, foreign
    writers) anti-join null-safely on their equality_ids columns with a
    strictly-greater sequence check, one broadcast anti-join per
    (ids, seq) group. Everything broadcast is metadata- or
    deleted-row-scale; the data side stays one distributed scan.

    ``casts=None`` means ``df`` already carries the logical columns plus
    ``__ice_path``/``__ice_pos`` (the field-id-resolved union path,
    where metadata columns were attached per scan group).

    SEQUENCE FAST PATH: the sequence checks exist for files written
    AFTER a delete (the delete must not apply to them). When the
    metadata PROVES no such file exists — every position delete's seq is
    >= the max data seq (equal is fine: equal-or-lower rule), every
    equality delete's strictly greater — the per-row ``__data_seq``
    broadcast join and the delete-side seq join are dropped entirely.
    This is the steady state of the UniForm emitter (a full-rewrite sync
    stamps data and deletes with the SAME sequence number), so the
    common MoR plan is exactly one anti-join over the data scan."""
    from pyspark.sql import functions as F

    by_id = {f["id"]: f for f in schema["fields"]}
    if casts is not None:
        df = df.select(*casts, *_scan_meta_cols())

    pos_dels = [d for d in delete_files if int(d.get("content") or 0) == 1]
    eq_dels = [d for d in delete_files if int(d.get("content") or 0) == 2]
    max_data_seq = max((int(d["_seq"]) for d in data_files), default=0)
    pos_need_seq = any(int(d["_seq"]) < max_data_seq for d in pos_dels)
    eq_need_seq = any(int(d["_seq"]) <= max_data_seq for d in eq_dels)
    if pos_need_seq or eq_need_seq:
        # data-file sequence numbers: metadata-sized, broadcast
        seq_rows = [
            (_norm_file_path(d["file_path"]), int(d["_seq"])) for d in data_files
        ]
        seq_df = spark.createDataFrame(
            seq_rows, "__ice_path string, __data_seq long"
        )
        df = df.join(F.broadcast(seq_df), "__ice_path", "left").withColumn(
            "__data_seq", F.coalesce(F.col("__data_seq"), F.lit(0))
        )

    if pos_dels:
        pdf = spark.read.parquet(*[d["file_path"] for d in pos_dels]).select(
            F.regexp_replace(F.col("file_path"), "^file:(//)?", "").alias(
                "__del_path"
            ),
            F.col("pos").cast("long").alias("__del_pos"),
            *(
                [
                    F.regexp_replace(
                        F.col("_metadata.file_path"), "^file:(//)?", ""
                    ).alias("__del_file")
                ]
                if pos_need_seq
                else []
            ),
        )
        cond = (F.col("__ice_path") == F.col("__del_path")) & (
            F.col("__ice_pos") == F.col("__del_pos")
        )
        if pos_need_seq:
            dseq_rows = [
                (_norm_file_path(d["file_path"]), int(d["_seq"]))
                for d in pos_dels
            ]
            dseq = spark.createDataFrame(
                dseq_rows, "__del_file string, __del_seq long"
            )
            pdf = pdf.join(F.broadcast(dseq), "__del_file")
            cond = cond & (F.col("__del_seq") >= F.col("__data_seq"))
        df = df.join(F.broadcast(pdf), cond, "left_anti")

    if eq_dels:
        groups: dict[tuple, list] = {}
        for d in eq_dels:
            ids = tuple(int(i) for i in d["equality_ids"])
            groups.setdefault((ids, int(d["_seq"])), []).append(d["file_path"])
        for (ids, dseq_n), dpaths in sorted(groups.items()):
            cols = []
            for i in ids:
                if i not in by_id:
                    raise ValueError(
                        f"equality_ids field {i} not in table schema"
                    )
                cols.append(by_id[i])
            edf = spark.read.parquet(*dpaths).select(
                *[
                    F.col(c["name"])
                    .cast(_iceberg_type_to_spark(c["type"]))
                    .alias(f"__eq_{c['name']}")
                    for c in cols
                ]
            )
            if eq_need_seq:
                cond = F.lit(dseq_n) > F.col("__data_seq")
            else:
                cond = F.lit(True)
            for c in cols:
                cond = cond & F.col(c["name"]).eqNullSafe(F.col(f"__eq_{c['name']}"))
            df = df.join(F.broadcast(edf), cond, "left_anti")

    return df.select(*[f["name"] for f in schema["fields"]])
