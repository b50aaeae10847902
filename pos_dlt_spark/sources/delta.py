"""Read-only Delta Lake table reader built from the PUBLIC Delta
transaction-protocol specification (delta-io PROTOCOL.md) — no
delta-spark dependency.

The reference pipeline stores every DLT table as a Delta table and rides
Delta MERGE for CDC (reference `03_Bronze-to-Silver ETL.py:124-129,
379-384`); a user bringing an existing Delta table needs at minimum to
READ it. A Delta table is just parquet files plus an action log:

    table/
      _delta_log/00000000000000000000.json      # newline-delimited actions
      _delta_log/00000000000000000010.checkpoint.parquet   # optional
      _delta_log/_last_checkpoint                # optional pointer
      part-....parquet                           # data files

State reconstruction (protocol "Action Reconciliation"): start from the
newest checkpoint at version <= the requested one (its rows ARE the
folded state), then replay the JSON commits after it; the live file set
is `add` actions keyed by (path, deletion-vector id) minus later
`remove`s; the newest `metaData` wins and carries the table schema
(Spark StructType JSON) and partition columns; the newest `protocol`
gates reader compatibility.

Scale design: the log fold is DRIVER-SIDE METADATA, bounded by file
count, not data size — exactly how delta's own light-weight clients
(delta-rs, duckdb delta) read, and the checkpoint keeps it O(files since
last checkpoint). The DATA path stays fully distributed: the fold yields
a file list that feeds one `spark.read.parquet(*files)` scan with the
log's schema pinned (so column pruning / predicate pushdown / split
planning all work normally, and files written before a column was added
read as nulls — the protocol's schema-evolution-on-read). Partition
values live in the log, not the files; Hive-style layouts (what Delta
writers actually produce) recover them via ``basePath`` partition
discovery inside the same single scan, and non-Hive layouts fall back to
one scan per distinct partition tuple (bounded by partition count — the
same cardinality any partition listing already pays).

Supported: reader version 1 and 2 tables, version-3 readerFeatures
timestampNtz / columnMapping (name + id read) / v2Checkpoint (manifest +
sidecar fold, parquet or json manifests), classic single- and multi-part
checkpoints, and DELETION VECTORS on live files (post-DELETE tables
from modern writers): the driver touches only the descriptor's
COMPRESSED bitmap bytes (sources/dv.py); small/clustered DVs apply as a
broadcast run-range anti-join on ``_metadata.row_index`` (pure JVM),
huge scattered ones broadcast the compressed bitmaps and filter
executor-side via vectorized membership — either way driver and
broadcast cost ride bitmap bytes, never deleted-row count (see
``_apply_deletion_vectors``). Checkpoint folds keep the per-file add
rows COLUMNAR and materialize them lazily on access (``_AddBlock`` /
``_LazyAdds``): the 1M-file fold measured 26.5 s fully materialized vs
~5 s lazy, and the cost that remains is the paths/partitionValues every
scan needs anyway — a distributed checkpoint scan would still pay the
same Python-object materialization at collect time, so driver-columnar-
lazy IS the floor for a driver-side fold (SCALE.md r6). Unsupported
features fail loudly: unknown DV storage types/encodings, unknown
reader features.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Mapping as _Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import StructType

from pos_dlt_spark.sources.fileindex import pruned_parquet as _pruned

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_COMPACT_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")
_CKPT_RE = re.compile(r"^(\d{20})\.checkpoint(?:\.(\d+)\.(\d+))?\.parquet$")
# V2 checkpoints: a single MANIFEST file named with a writer-chosen uuid
# (json or parquet) whose actions include `sidecar` references to
# add/remove files under _delta_log/_sidecars/ — what modern delta-spark
# writes under the v2Checkpoint table feature. The uuid segment contains
# letters/dashes, so it can never collide with the classic multi-part
# `.NNNNNNNNNN.NNNNNNNNNN.` numeric pattern above.
_CKPT_V2_RE = re.compile(r"^(\d{20})\.checkpoint\.([0-9a-fA-F-]{8,})\.(parquet|json)$")

_SUPPORTED_READER_FEATURES = {
    "timestampNtz",
    "columnMapping",
    "deletionVectors",
    "v2Checkpoint",
    "typeWidening",
    "variantType",
    # vacuumProtocolCheck only OBLIGES vacuum to fold the protocol
    # before deleting anything — delta_vacuum starts from a full
    # delta_snapshot (which runs this very check), so the obligation is
    # met by construction
    "vacuumProtocolCheck",
}
# deletionVectors and v2Checkpoint are genuinely supported (read + write /
# read paths). columnMapping name/id modes are read-supported; the
# snapshot fold validates the mapping metadata and raises on gaps.
# typeWidening: every scan pins the LATEST metadata's schema, and Spark's
# parquet reader upcasts narrower pages (int32 into a long column,
# float into double) at scan — widened tables read correctly by
# construction; delta_alter_column_type is the write side.


class DeltaProtocolError(Exception):
    """The table uses a protocol feature this reader cannot honor."""


@dataclass
class DeltaSnapshot:
    """Folded state of a Delta table at one version (driver-side metadata)."""

    path: str
    version: int
    schema: StructType
    partition_columns: list[str]
    configuration: dict[str, str]
    table_id: str | None = None  # metaData.id — stable across the table's life
    # column mapping (protocol "Column Mapping"): 'none' | 'name' | 'id'.
    # physical_names maps LOGICAL -> PHYSICAL column name; field_ids maps
    # LOGICAL name -> delta.columnMapping.id. files[...] partitionValues
    # are normalized to LOGICAL keys at fold time; adds stay raw.
    column_mapping: str = "none"
    physical_names: dict[str, str] = field(default_factory=dict)
    field_ids: dict[str, int] = field(default_factory=dict)
    # the FOLDED protocol action (newest wins) — writers must carry these
    # declared features forward: a checkpoint or feature-adding commit
    # that re-emits a narrower protocol leaves features in use (DVs,
    # v2 checkpoints) undeclared, which spec-compliant readers may honor
    # by ignoring them (e.g. resurrecting DV-deleted rows).
    protocol: dict = field(default_factory=dict)
    # (relative file path, partition_values dict) for every live file
    files: list[tuple[str, dict[str, str | None]]] = field(default_factory=list)
    # full add actions keyed by relative path (per-file stats for skipping)
    adds: dict[str, dict] = field(default_factory=dict)
    # SetTransaction watermarks: appId -> highest committed version — the
    # protocol's idempotent-streaming-write primitive (a writer skips a
    # batch whose (appId, version) it has already committed)
    txns: dict[str, int] = field(default_factory=dict)
    # domainMetadata (protocol "Domain Metadata"): domain -> configuration
    # string, folded newest-wins (removed=True drops the domain). Row
    # tracking's rowIdHighWaterMark lives in domain 'delta.rowTracking'.
    domain_metadata: dict[str, str] = field(default_factory=dict)

    @property
    def data_schema(self) -> StructType:
        """Table schema minus partition columns — what the parquet files hold."""
        return StructType(
            [f for f in self.schema.fields if f.name not in self.partition_columns]
        )


def _list_log(log_dir: str) -> tuple[list[tuple[int, str]], dict[int, list[str]]]:
    commits: list[tuple[int, str]] = []
    checkpoints: dict[int, list[str]] = {}
    for name in os.listdir(log_dir):
        m = _COMMIT_RE.match(name)
        if m:
            commits.append((int(m.group(1)), os.path.join(log_dir, name)))
            continue
        m = _CKPT_RE.match(name) or _CKPT_V2_RE.match(name)
        if m:
            checkpoints.setdefault(int(m.group(1)), []).append(os.path.join(log_dir, name))
    commits.sort()
    for parts in checkpoints.values():
        parts.sort()
    return commits, checkpoints


def _list_compacted(log_dir: str) -> dict[int, tuple[int, str]]:
    """Minor log-compaction files ``{start}.{end}.compacted.json`` —
    the protocol's aggregated commit segments — as
    ``{start: (end, path)}`` (largest end wins per start)."""
    out: dict[int, tuple[int, str]] = {}
    try:
        names = os.listdir(log_dir)
    except FileNotFoundError:
        return out
    for name in names:
        m = _COMPACT_RE.match(name)
        if m:
            s, e = int(m.group(1)), int(m.group(2))
            if s not in out or e > out[s][0]:
                out[s] = (e, os.path.join(log_dir, name))
    return out


def _checkpoint_complete(parts: list[str]) -> bool:
    """A checkpoint is usable when a single-file part exists OR the
    multi-part set is COMPLETE per the declared ``<part>.<total>`` suffix.
    A partially-present multi-part checkpoint (interrupted copy/cleanup of
    an external table) would otherwise fold silently incomplete state —
    missing files, wrong schema — instead of failing or falling back."""
    multi: dict[int, set[int]] = {}
    for p in parts:
        name = os.path.basename(p)
        if _CKPT_V2_RE.match(name):
            return True  # v2 manifest: one file (sidecars checked at read)
        m = _CKPT_RE.match(name)
        if m is None:
            continue
        if m.group(2) is None:
            return True  # classic single-file checkpoint
        multi.setdefault(int(m.group(3)), set()).add(int(m.group(2)))
    return any(present == set(range(1, total + 1)) for total, present in multi.items())


def _check_protocol(proto: dict) -> None:
    if proto.get("minReaderVersion", 1) > 3:
        raise DeltaProtocolError(
            f"minReaderVersion {proto['minReaderVersion']} > 3 not supported"
        )
    unsupported = set(proto.get("readerFeatures") or ()) - _SUPPORTED_READER_FEATURES
    if unsupported:
        raise DeltaProtocolError(f"unsupported readerFeatures: {sorted(unsupported)}")


def _as_dict(v):
    # parquet map type reads back as a list of (key, value) tuples
    return dict(v) if isinstance(v, list) else (v or {})


class _AddBlock:
    """One checkpoint part's ``add`` rows kept COLUMNAR (pyarrow arrays):
    paths and partitionValues are materialized eagerly (every scan needs
    them), the remaining fields (stats JSON, DV descriptors, sizes) only
    on per-path access. This is what keeps the 1M-file fold in seconds —
    the full per-row dict walk measured 26.5 s at 1M files, ~24 s of it
    pure python-object materialization of fields most reads never touch
    (SCALE.md r5/r6)."""

    __slots__ = ("paths", "pvals", "_fields", "_index")

    _EMPTY: dict = {}  # shared read-only empty partitionValues

    def __init__(self, add_col):
        import pyarrow as pa
        import pyarrow.compute as pc

        add_type = add_col.type
        names = [add_type.field(i).name for i in range(add_type.num_fields)]
        flat = add_col.combine_chunks() if isinstance(add_col, pa.ChunkedArray) else add_col
        if flat.null_count:
            keep = pc.is_valid(flat)
            flat = flat.filter(keep) if hasattr(flat, "filter") else pc.filter(flat, keep)
        self.paths: list[str] = pc.struct_field(flat, "path").to_pylist()
        if "partitionValues" in names:
            pv_col = pc.struct_field(flat, "partitionValues")
            # all-empty maps (unpartitioned tables) short-circuit to one
            # shared {} — 1M per-row dict builds measured whole seconds
            flat_len = len(pv_col.values) if hasattr(pv_col, "values") else 1
            if pv_col.null_count == len(pv_col) or flat_len == 0:
                self.pvals = [self._EMPTY] * len(self.paths)
            else:
                self.pvals = [_as_dict(v) for v in pv_col.to_pylist()]
        else:
            self.pvals = [self._EMPTY] * len(self.paths)
        self._index: dict[str, int] = {
            p: i for i, p in enumerate(self.paths)
        }
        self._fields = {
            fn: pc.struct_field(flat, fn) for fn in names if fn != "path"
        }

    def __contains__(self, path: str) -> bool:
        return path in self._index

    def dv_paths(self) -> list[str]:
        """Paths whose add carries a deletionVector — computed C-side on
        the columnar block (validity mask), so a 1M-file checkpoint
        yields its (few) DV'd paths without materializing a million add
        dicts (vacuum's referenced-set walk measured +318 MB doing
        that)."""
        col = self._fields.get("deletionVector")
        if col is None:
            return []
        import pyarrow.compute as pc

        mask = pc.is_valid(col)
        if not pc.any(mask).as_py():
            return []
        return [p for p, m in zip(self.paths, mask.to_pylist()) if m]

    def row(self, path: str) -> dict:
        i = self._index[path]
        out = {"path": path}
        for fn, col in self._fields.items():
            v = col[i].as_py()
            if fn == "partitionValues":
                v = _as_dict(v)
            elif fn == "tags" and isinstance(v, list):
                v = dict(v)  # parquet map read-back shape
            out[fn] = v
        return out

    def size_of(self, path: str):
        col = self._fields.get("size")
        return col[self._index[path]].as_py() if col is not None else None

    def total_size(self):
        """Sum of the size column, computed C-side — feeds the
        checksum's tableSizeBytes without materializing a single add
        dict. None when the checkpoint lacks sizes (foreign layouts)."""
        col = self._fields.get("size")
        if col is None:
            return None
        import pyarrow.compute as pc

        return pc.sum(col).as_py() or 0


class _LazyAdds(_Mapping):
    """Mapping[path -> add action] over checkpoint columnar blocks plus
    the JSON-replay override layer — the same contract as the plain dict
    it replaces (get/[]/values/items/iteration in sorted-path order) but
    checkpoint rows materialize only on access."""

    __slots__ = ("_blocks", "_over", "_keys", "_keyset", "_cache", "_removed")

    def __init__(self, blocks: list[_AddBlock], overrides: dict[str, dict], removed: set[str]):
        self._blocks = blocks
        self._over = overrides
        self._removed = set(removed)
        keys: dict[str, None] = {}
        for b in blocks:
            for p in b.paths:
                keys[p] = None
        for p in removed:
            keys.pop(p, None)
        for p in overrides:
            keys[p] = None
        self._keys = sorted(keys)
        self._keyset = set(self._keys)
        self._cache: dict[str, dict] = {}

    def __len__(self) -> int:
        return len(self._keys)

    def __iter__(self):
        return iter(self._keys)

    def __contains__(self, path) -> bool:
        return path in self._keyset

    def __getitem__(self, path: str) -> dict:
        v = self._cache.get(path)
        if v is not None:
            return v
        if path not in self._keyset:
            raise KeyError(path)
        if path in self._over:
            v = self._over[path]
        else:
            for b in reversed(self._blocks):
                if path in b:
                    v = b.row(path)
                    break
            else:  # pragma: no cover — keys always come from a block
                raise KeyError(path)
        self._cache[path] = v
        return v

    def dv_paths(self) -> list[str]:
        """Live paths whose add carries a deletionVector, computed on
        the columnar blocks (see :meth:`_AddBlock.dv_paths`) plus the
        JSON override layer — no per-row materialization."""
        out: set[str] = set()
        for b in self._blocks:
            for p in b.dv_paths():
                if p in self._keyset and p not in self._over:
                    out.add(p)
        for p, a in self._over.items():
            if a.get("deletionVector"):
                out.add(p)
        return sorted(out)

    def total_live_size(self):
        """tableSizeBytes of the LIVE set, columnar: block-level C-side
        size sums, minus the (few) removed/overridden rows looked up
        O(1) each, plus the JSON override layer — the checksum emission
        at a checkpoint stops being the one remaining O(table) dict
        materialization on the v2 path. None (caller falls back to the
        per-row walk) when a block lacks sizes or paths repeat across
        blocks (foreign layouts)."""
        n_block_paths = sum(len(b.paths) for b in self._blocks)
        uniq: set[str] = set()
        for b in self._blocks:
            uniq.update(b._index)
        if len(uniq) != n_block_paths:
            return None  # duplicate paths across blocks: ambiguous
        total = 0
        for b in self._blocks:
            t = b.total_size()
            if t is None:
                return None
            total += int(t)
        for p in self._removed | set(self._over):
            for b in self._blocks:
                if p in b:
                    v = b.size_of(p)
                    if v is None:
                        return None
                    total -= int(v)
                    break
        for a in self._over.values():
            total += int(a.get("size") or 0)
        return total


def _parquet_checkpoint_actions(path: str, columnar_adds: bool = False):
    """Yield action dicts from one checkpoint/sidecar parquet file
    (struct columns txn/add/remove/metaData/protocol, plus
    sidecar/checkpointMetadata in v2 manifests). Read via pyarrow on the
    driver: the checkpoint is METADATA (its size rides file count).

    With ``columnar_adds`` the dominant ``add`` column is NOT decoded
    per row; a single ``{"__adds_block__": _AddBlock}`` action carries
    the columnar block and the fold keeps it lazy (path/partitionValues
    eager, everything else on access) — the 1M-file fold drops from
    26.5 s to the parquet read + two column decodes (SCALE.md). Without
    it (foreign callers), rows materialize as before via the blocks'
    row() accessor."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    names = set(tbl.column_names)
    for key in (
        "metaData", "protocol", "txn", "remove", "sidecar",
        "checkpointMetadata", "domainMetadata",
    ):
        if key not in names:
            continue
        col = tbl.column(key)
        if col.null_count == len(col):
            continue  # entirely-null action column: nothing to yield
        import pyarrow.compute as pc

        # drop nulls C-side: a 1M-file checkpoint's metaData column is one
        # value and 999999 nulls — iterating them measured whole seconds
        for v in pc.drop_null(col).to_pylist():
            if v is None:  # pragma: no cover — drop_null removed them
                continue
            if key == "metaData":
                v = {**v, "configuration": _as_dict(v.get("configuration"))}
                if v.get("format") is not None:
                    v["format"] = {
                        **v["format"],
                        "options": _as_dict(v["format"].get("options")),
                    }
            yield {key: v}
    if "add" not in names:
        return
    block = _AddBlock(tbl.column("add"))
    if columnar_adds:
        yield {"__adds_block__": block}
    else:
        for p in block.paths:
            yield {"add": block.row(p)}


def _checkpoint_actions(spark: SparkSession, parts: list[str], columnar_adds: bool = False):
    """Yield fold-ready action dicts from a checkpoint: classic single /
    multi-part parquet, or a V2 MANIFEST (parquet or json) whose
    ``sidecar`` actions reference add/remove parquet files under
    ``_delta_log/_sidecars/`` — resolved and folded here; a missing
    sidecar fails loudly (a silent partial fold would drop files).
    ``checkpointMetadata`` rows are v2 markers with no fold effect.
    ``columnar_adds`` passes the lazy-add rendering through (see
    :func:`_parquet_checkpoint_actions`)."""

    def resolve(src: str, actions):
        log_dir = os.path.dirname(src)
        for a in actions:
            if "sidecar" in a:
                sc = os.path.join(log_dir, "_sidecars", a["sidecar"]["path"])
                if not os.path.exists(sc):
                    raise FileNotFoundError(
                        f"v2 checkpoint sidecar missing: {sc} (referenced by {src})"
                    )
                yield from _parquet_checkpoint_actions(sc, columnar_adds)
            elif "checkpointMetadata" in a:
                continue
            else:
                yield a

    for part in parts:
        if part.endswith(".json"):
            yield from resolve(part, _commit_actions(part))
        else:
            yield from resolve(part, _parquet_checkpoint_actions(part, columnar_adds))


def _commit_actions(path: str):
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def _commit_info(commit_path: str) -> dict | None:
    """The commit's commitInfo action, if recorded (writers emit it first;
    scan the whole file to be safe — it is driver metadata either way)."""
    for a in _commit_actions(commit_path):
        if "commitInfo" in a:
            return a["commitInfo"]
    return None


def _commit_time(commit_path: str) -> float:
    """Commit wall-clock in epoch seconds, by the protocol's preference
    order: ``commitInfo.inCommitTimestamp`` when present (the
    inCommitTimestamp writer feature — monotonic, survives file copies
    AND clock skew), else the commitInfo timestamp, else the log file's
    mtime."""
    ci = _commit_info(commit_path)
    if ci and ci.get("inCommitTimestamp") is not None:
        return int(ci["inCommitTimestamp"]) / 1000.0
    if ci and ci.get("timestamp") is not None:
        return int(ci["timestamp"]) / 1000.0
    return os.path.getmtime(commit_path)


def version_at_timestamp(path: str, ts) -> int:
    """TIMESTAMP AS OF resolution: the newest version whose commit landed
    at or before ``ts`` (epoch seconds, datetime, or ISO string) — commit
    time comes from the commitInfo action when present, else the log
    file's mtime (the same preference order real Delta applies). Versions
    whose JSON was cleaned up after a checkpoint cannot be
    timestamp-resolved (their commit time is gone with the file) — same
    limitation as the protocol's own history retention."""
    import datetime

    if isinstance(ts, str):
        ts = datetime.datetime.fromisoformat(ts)
    if isinstance(ts, datetime.datetime):
        ts = ts.timestamp()
    log_dir = os.path.join(path, "_delta_log")
    commits, _ = _list_log(log_dir)
    eligible = [v for v, p in commits if _commit_time(p) <= float(ts)]
    if not eligible:
        raise ValueError(
            f"no commit at or before timestamp {ts} in {path} "
            f"(earliest surviving commit: "
            f"{min((v for v, _ in commits), default=None)})"
        )
    return max(eligible)


def delta_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per surviving commit — version,
    timestamp, operation, operationParameters JSON, counts of
    add/remove/cdc actions. Driver metadata (the same walk the fold
    does); commits without a commitInfo (foreign minimal writers) show a
    null operation but still count their actions."""
    from pos_dlt_spark.tables import local_df

    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a Delta table (no _delta_log): {path}")
    commits, _ = _list_log(log_dir)
    rows = []
    for v, p in sorted(commits, reverse=True):
        ci = _commit_info(p) or {}
        n_add = n_remove = n_cdc = 0
        for a in _commit_actions(p):
            if "add" in a:
                n_add += 1
            elif "remove" in a:
                n_remove += 1
            elif "cdc" in a:
                n_cdc += 1
        rows.append(
            (
                v,
                float(_commit_time(p)),
                ci.get("operation") or "",
                json.dumps(ci.get("operationParameters") or {}, sort_keys=True),
                ci.get("engineInfo") or "",
                n_add,
                n_remove,
                n_cdc,
            )
        )
    return local_df(
        spark,
        rows,
        "version bigint, timestamp double, operation string, "
        "operationParameters string, engineInfo string, "
        "num_added_files int, num_removed_files int, num_change_files int",
    )


def describe_detail(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE DETAIL: one row of table-level metadata — format, table
    id, partition columns, live file count and total bytes, properties
    JSON, column-mapping mode, and feature lists from the protocol.
    Driver metadata only (one snapshot fold; sizes come from the add
    actions, no filesystem stat)."""
    from pos_dlt_spark.tables import local_df

    snap = delta_snapshot(spark, path)
    total = 0
    for rel, _pv in snap.files:
        total += int(snap.adds.get(rel, {}).get("size") or 0)
    proto = snap.protocol or {}
    row = (
        "delta",
        snap.table_id or "",
        os.path.abspath(path),
        json.dumps(list(snap.partition_columns)),
        len(snap.files),
        total,
        json.dumps(dict(sorted(snap.configuration.items())), sort_keys=True),
        snap.column_mapping,
        int(proto.get("minReaderVersion") or 1),
        int(proto.get("minWriterVersion") or 2),
        json.dumps(sorted(proto.get("readerFeatures") or [])),
        json.dumps(sorted(proto.get("writerFeatures") or [])),
        snap.version,
    )
    return local_df(
        spark,
        [row],
        "format string, id string, location string, partitionColumns string, "
        "numFiles bigint, sizeInBytes bigint, properties string, "
        "columnMapping string, minReaderVersion int, minWriterVersion int, "
        "readerFeatures string, writerFeatures string, version bigint",
    )


def delta_snapshot(
    spark: SparkSession, path: str, version: int | None = None, timestamp=None
) -> DeltaSnapshot:
    """Fold the action log into the live-file snapshot at ``version``
    (default: latest). ``timestamp=`` resolves TIMESTAMP AS OF instead
    (mutually exclusive with ``version``). Raises
    :class:`DeltaProtocolError` on features a plain parquet scan cannot
    honor."""
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a Delta table (no _delta_log): {path}")
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at_timestamp(path, timestamp)
    commits, checkpoints = _list_log(log_dir)
    compact_tips = [e for e, _p in _list_compacted(log_dir).values()]
    if not commits and not checkpoints and not compact_tips:
        raise FileNotFoundError(f"empty _delta_log in {path}")
    latest = max(
        [v for v, _ in commits] + list(checkpoints) + compact_tips, default=-1
    )
    target = latest if version is None else version
    if version is not None and version > latest:
        raise ValueError(f"version {version} > latest {latest}")

    # newest COMPLETE checkpoint at or before the target; a partial
    # multi-part set (interrupted copy) is skipped — the fold falls back to
    # an older complete checkpoint or full JSON replay, and only fails if
    # neither can reconstruct the version (the replay-gap check below).
    ckpt_version = next(
        (
            v
            for v in sorted((v for v in checkpoints if v <= target), reverse=True)
            if _checkpoint_complete(checkpoints[v])
        ),
        None,
    )

    live: dict[str, dict] = {}  # relative path -> add action (JSON layer)
    blocks: list[_AddBlock] = []  # checkpoint adds, kept columnar/lazy
    removed: set[str] = set()  # post-checkpoint removes of checkpoint paths
    meta: dict | None = None
    proto: dict | None = None
    txns: dict[str, int] = {}
    domains: dict[str, str] = {}

    def apply(action: dict) -> None:
        nonlocal meta, proto
        if "metaData" in action:
            meta = action["metaData"]
        elif "protocol" in action:
            proto = action["protocol"]
            _check_protocol(proto)
        elif "add" in action:
            add = action["add"]
            live[add["path"]] = add
            removed.discard(add["path"])
        elif "remove" in action:
            p = action["remove"]["path"]
            live.pop(p, None)
            removed.add(p)
        elif "txn" in action:
            t = action["txn"]
            if t.get("appId") is not None and t.get("version") is not None:
                txns[t["appId"]] = max(txns.get(t["appId"], -1), int(t["version"]))
        elif "domainMetadata" in action:
            dm = action["domainMetadata"]
            if dm.get("domain") is not None:
                if dm.get("removed"):
                    domains.pop(dm["domain"], None)
                else:
                    domains[dm["domain"]] = dm.get("configuration") or ""
        elif "__adds_block__" in action:
            blocks.append(action["__adds_block__"])

    if ckpt_version is not None:
        for action in _checkpoint_actions(
            spark, checkpoints[ckpt_version], columnar_adds=True
        ):
            apply(action)
    elif not any(v == 0 for v, _ in commits) and 0 not in _list_compacted(log_dir):
        raise FileNotFoundError(
            f"cannot reconstruct version {target}: no checkpoint and commit 0 missing"
        )
    # replay plan: prefer a minor-compaction segment starting at the
    # expected version (ONE aggregated file instead of its whole span of
    # per-commit JSONs — the protocol's log-compaction read rule), else
    # the commit JSON, else the chain is broken.
    compacted = _list_compacted(log_dir)
    commit_map = dict(commits)
    expected = (ckpt_version + 1) if ckpt_version is not None else 0
    while expected <= target:
        seg = compacted.get(expected)
        if seg is not None and seg[0] <= target:
            for action in _commit_actions(seg[1]):
                apply(action)
            expected = seg[0] + 1
            continue
        p = commit_map.get(expected)
        if p is None:
            raise FileNotFoundError(f"missing commit version {expected} in {log_dir}")
        for action in _commit_actions(p):
            apply(action)
        expected += 1

    if meta is None:
        raise DeltaProtocolError("no metaData action found in log")
    fmt = (meta.get("format") or {}).get("provider", "parquet")
    if fmt != "parquet":
        raise DeltaProtocolError(f"unsupported format provider: {fmt}")
    conf = meta.get("configuration") or {}
    cm = conf.get("delta.columnMapping.mode", "none") or "none"
    if cm not in ("none", "name", "id"):
        raise DeltaProtocolError(f"column mapping mode '{cm}' not supported")
    # deletion vectors on live files are SUPPORTED: the descriptor rides
    # the add action into the snapshot and the read path applies it as a
    # distributed row-index anti-join (see _apply_deletion_vectors);
    # unsupported DV encodings fail loudly at read time in sources/dv.py.

    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    physical_names: dict[str, str] = {}
    field_ids: dict[str, int] = {}
    if cm != "none":
        # column-mapping metadata rides the schema fields: physicalName is
        # the parquet column name ('name' mode resolves by it), id is the
        # parquet field id ('id' mode resolves by it — rename-proof)
        for f in schema.fields:
            md = f.metadata or {}
            pn = md.get("delta.columnMapping.physicalName")
            if pn:
                physical_names[f.name] = pn
            fid = md.get("delta.columnMapping.id")
            if fid is not None:
                field_ids[f.name] = int(fid)
        if cm == "name" and len(physical_names) < len(schema.fields):
            raise DeltaProtocolError(
                "column mapping 'name' but some fields lack "
                "delta.columnMapping.physicalName"
            )
        if cm == "id" and len(field_ids) < len(schema.fields):
            raise DeltaProtocolError(
                "column mapping 'id' but some fields lack delta.columnMapping.id"
            )
    phys2logical = {p: l for l, p in physical_names.items()}
    # file list: path + partitionValues are the only PER-FILE fields every
    # scan needs — eager. Everything else (stats JSON, DV descriptors,
    # sizes) stays columnar in the checkpoint blocks until accessed.
    pvals_by_path: dict[str, dict] = {}
    for b in blocks:
        pvals_by_path.update(zip(b.paths, b.pvals))
    for p in removed:
        pvals_by_path.pop(p, None)
    for p, a in live.items():
        pvals_by_path[p] = a.get("partitionValues") or {}
    if blocks:
        adds_map: dict = _LazyAdds(blocks, live, removed)
    else:
        adds_map = dict(sorted(live.items()))
    return DeltaSnapshot(
        path=path,
        version=target,
        schema=schema,
        partition_columns=list(meta.get("partitionColumns") or []),
        configuration=conf,
        table_id=meta.get("id"),
        column_mapping=cm,
        physical_names=physical_names,
        field_ids=field_ids,
        protocol=dict(proto or {}),
        files=[
            # add.partitionValues are keyed by PHYSICAL name under column
            # mapping; normalize to logical so every downstream consumer
            # speaks one naming. Empty pvals share one read-only dict —
            # 1M fresh empties measured ~1 s at the 1M-file decade.
            (
                p,
                {phys2logical.get(k, k): v for k, v in pv.items()}
                if pv
                else _AddBlock._EMPTY,
            )
            for p, pv in sorted(pvals_by_path.items())
        ],
        adds=adds_map,
        txns=txns,
        domain_metadata=domains,
    )


def replay_adds(
    spark: SparkSession,
    path: str,
    start_version: int = 0,
    end_version: int | None = None,
    skip_change_commits: bool = False,
) -> list[tuple[int, list[str]]]:
    """Commit-ordered streaming replay plan: ``[(version, [abs file
    paths]), ...]`` of the DATA-CHANGE adds in each commit — the
    protocol-faithful backfill half of a Delta streaming source. Adds
    with ``dataChange: false`` are SKIPPED (they are compaction/OPTIMIZE
    rewrites of rows already delivered by earlier commits; replaying
    them would duplicate data — the same rule delta's own streaming
    source applies). Removes are never retractions on this path; a
    commit that removes-and-rewrites WITH dataChange true is an update
    the consumer's CDC semantics must absorb (exactly what
    ApplyChanges's latest-per-key merge does).

    ``skip_change_commits`` mirrors delta's own streaming-source option:
    a commit that DELETES rows via deletion vectors (a change commit an
    append-only replay cannot represent) is silently SKIPPED instead of
    raising — the consumer opts into missing row-level deletes, exactly
    the semantics of ``skipChangeCommits=true``. A consumer that needs
    the deletes reads :func:`pos_dlt_spark.sources.delta_cdf.
    replay_changes` instead (which derives them).

    Requires the replayed files to still exist — a VACUUM that physically
    deleted files removed before ``start_version``'s checkpoint horizon
    makes those commits unreplayable (the same constraint real Delta
    streaming reads have)."""
    log_dir = os.path.join(path, "_delta_log")
    commits, _ = _list_log(log_dir)
    out: list[tuple[int, list[str]]] = []
    for v, p in commits:
        if v < start_version or (end_version is not None and v > end_version):
            continue
        files = []
        skip_commit = False
        for a in _commit_actions(p):
            if "add" not in a or not a["add"].get("dataChange", True):
                continue
            if a["add"].get("deletionVector"):
                if skip_change_commits:
                    skip_commit = True
                    break
                # a DV-carrying add is a row-level DELETE of already-
                # delivered data; replaying the file would resurrect the
                # deleted rows. Real Delta streaming throws on change
                # commits by default (skipChangeCommits opts out) — same.
                raise DeltaProtocolError(
                    f"commit {v} deletes rows via a deletion vector; "
                    "streaming replay cannot represent row-level deletes "
                    "(skip_change_commits=True opts into skipping them; "
                    "delta_cdf.replay_changes derives them)"
                )
            files.append(_abs_file(path, a["add"]["path"]))
        if files and not skip_commit:
            out.append((v, files))
    return out


def _abs_file(table_path: str, rel: str) -> str:
    # protocol: add.path is RELATIVE to the table root and URL-encoded;
    # absolute paths (shallow clones) pass through untouched
    from urllib.parse import unquote, urlparse

    rel = unquote(rel)
    if urlparse(rel).scheme or os.path.isabs(rel):
        return rel
    return os.path.join(table_path, rel)


def _rel_uri(rel: str) -> str:
    """The ``add.path`` / ``cdc.path`` of the ``/``-separated on-disk path
    ``rel`` below the table root: URI-encoded, as the protocol records it
    (what :func:`_abs_file` decodes). A Hive-escaped directory keeps its
    escape on disk (``p=k%3Dv``), so its ``%`` is encoded once more."""
    from urllib.parse import quote

    return quote(rel, safe="/=,;$&+!'()*@")


def _hive_values(segs: list[str]) -> dict[str, str | None]:
    """The partition values that Hive-style ``col=value`` directory
    segments spell, unescaped (``__HIVE_DEFAULT_PARTITION__`` is None)."""
    from urllib.parse import unquote

    out: dict[str, str | None] = {}
    for seg in segs:
        k, eq, v = seg.partition("=")
        if eq:
            out[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
    return out


_HIVE_ESCAPED = frozenset('"#%\'*/:=?[\\]^{\x7f') | frozenset(map(chr, range(1, 32)))


def _hive_segment(col: str, value: str | None) -> str:
    """The ``col=value`` directory segment Spark's writer names for a
    partition value (the inverse of :func:`_hive_values`): Hive path
    escaping (``%XX``) on both sides; None and ``''`` are the default
    partition."""

    def esc(s: str) -> str:
        return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPED else c for c in s)

    return f"{esc(col)}={esc(value) if value else '__HIVE_DEFAULT_PARTITION__'}"


def _parquet_files(root: str):
    """``(dir, name, segs)`` of every ``.parquet`` file below ``root``
    (names starting with ``_`` skipped), sorted per directory; ``segs``
    are the on-disk directory segments between ``root`` and the file."""
    for d, _dirs, files in os.walk(root):
        sub = os.path.relpath(d, root)
        segs = [] if sub == "." else sub.split(os.sep)
        for n in sorted(files):
            if n.endswith(".parquet") and not n.startswith("_"):
                yield d, n, segs


def _hive_style(files: list[tuple[str, dict[str, str | None]]], part_cols: list[str]) -> bool:
    """True when every live file embeds every partition column Hive-style
    (``col=value/`` directory segments whose values agree with the log) —
    then ONE scan with basePath partition discovery reproduces the log's
    partition values. Absolute-path files (shallow clones) disqualify:
    they live outside the table root, so basePath discovery cannot apply
    — the per-tuple literal scan handles them."""
    from urllib.parse import unquote, urlparse

    for rel, pvals in files:
        dec = unquote(rel)
        if urlparse(dec).scheme or os.path.isabs(dec):
            return False
        kv = _hive_values(dec.split("/")[:-1])
        if any(c not in kv or kv[c] != pvals.get(c) for c in part_cols):
            return False
    return True


def _stats_excludes(add: dict, col: str, op: str, value) -> bool:
    """True if the add action's per-file statistics PROVE no row of the
    file can satisfy ``col op value``. Conservative: missing/unparseable
    stats, or a column absent from them, keep the file."""
    raw = add.get("stats")
    if not raw:
        return False
    try:
        stats = json.loads(raw) if isinstance(raw, str) else raw
    except (TypeError, ValueError):
        return False
    mins = (stats.get("minValues") or {})
    maxs = (stats.get("maxValues") or {})
    lo, hi = mins.get(col), maxs.get(col)
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
    except TypeError:  # cross-type compare — stats unusable for this predicate
        return False
    return False


def skip_files(
    snap: DeltaSnapshot, predicates: list[tuple[str, str, object]]
) -> tuple[DeltaSnapshot, int]:
    """DATA SKIPPING from the transaction log: drop every live file whose
    ``add.stats`` (numRecords/minValues/maxValues, written by Delta
    writers) prove it cannot contain a matching row. This is the log-side
    half of Delta's scan pruning — at 100 TB it is the difference between
    listing a million files and scanning the dozen whose min/max straddle
    the predicate, BEFORE any task is scheduled. Purely driver-side
    metadata, conjunctive semantics (a file is dropped if ANY predicate
    excludes it), and strictly conservative: files without usable stats
    are kept, so the subsequent scan (which still applies the real
    filter) returns exactly the same rows with or without skipping.

    Returns (pruned snapshot, n_files_skipped)."""
    # predicates speak LOGICAL names; stats in column-mapping tables are
    # keyed by the physical parquet names
    preds = [
        (snap.physical_names.get(c, c), op, v) for c, op, v in predicates
    ]
    kept, skipped = [], 0
    for rel, pvals in snap.files:
        add = snap.adds.get(rel, {})
        if any(_stats_excludes(add, c, op, v) for c, op, v in preds):
            skipped += 1
        else:
            kept.append((rel, pvals))
    import dataclasses

    out = dataclasses.replace(
        snap,
        files=kept,
        adds={rel: snap.adds[rel] for rel, _ in kept if rel in snap.adds},
    )
    return out, skipped


SHRED_CONF_PREFIX = "pos_dlt.variantShredding."


def variant_shred_col(col: str, field: str) -> str:
    """Physical column name of the shredded typed twin of VARIANT column
    ``col``'s top-level field ``field`` — a principled subset of the
    public variantShredding idea: the typed value is persisted as an
    EXTRA physical parquet column next to the variant binary (invisible
    to the logical schema, so any protocol-conformant reader still reads
    the table), and its footer-equivalent stats ride add.stats so
    variant-predicate scans can SKIP files. Without this, every variant
    file ships stats-less (pyarrow cannot parse variant footers) and a
    100 TB variant table is always a full scan."""
    return "__vshred_%s_%s" % (col, re.sub(r"[^A-Za-z0-9_]", "_", field))


def variant_shred_spec(configuration: dict | None) -> dict[str, dict[str, str]]:
    """The table's shredding spec from its configuration:
    ``{variant_col: {field: sql_type}}`` (set at creation via
    ``write_delta(..., shred_variant=...)``)."""
    out: dict[str, dict[str, str]] = {}
    for k, v in (configuration or {}).items():
        if k.startswith(SHRED_CONF_PREFIX):
            try:
                out[k[len(SHRED_CONF_PREFIX):]] = json.loads(v)
            except (TypeError, ValueError):
                continue
    return out


def decoded_fp_expr(raw):
    """DECODED plain absolute path from a raw scheme-qualified,
    percent-encoded ``_metadata.file_path`` rendering — matches the
    os.path rendering even for partition directories with spaces/colons
    (url_decode alone would also map literal '+' to a space, so '+' is
    pre-escaped to %2B; the composition is an exact pure-JVM
    percent-decoder). Two regexes + a url_decode PER ROW (~36 s over a
    24M-row scan) — keep it OUT of unconditional hot paths; consumers
    evaluate it only where the zero-cost raw path misses."""
    stripped = F.regexp_replace(raw, "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
    return F.url_decode(F.regexp_replace(stripped, r"\+", "%2B"))


def scan_rels(
    spark: SparkSession,
    snap: DeltaSnapshot,
    rels: list[str] | None = None,
    with_meta: bool = False,
    extra_fields: list[str] | None = None,
) -> DataFrame | None:
    """Distributed scan of (a subset of) a snapshot's live files with the
    LOG's schema pinned and partition values recovered (Hive discovery in
    one scan when the layout allows, per-partition-tuple literal unions
    otherwise). With ``with_meta`` two helper columns ride along:
    ``__fid`` (the file's position in ``snap.files``, resolved once per
    scan by :func:`_resolve_fid`; callers map it back through the same
    ``snap``) and ``__ri`` (the row's file-absolute index from
    ``_metadata.row_index`` — stable under row-group skipping, which is
    exactly what deletion vectors address).
    ``extra_fields`` names extra PHYSICAL int64 columns appended to the
    read schema (files lacking them read null — the row-tracking
    materialized-column contract); only supported without column
    mapping. Returns None when the selection is empty."""
    from pyspark.sql.types import LongType as _LT
    from pyspark.sql.types import StructField as _SF
    from pyspark.sql.types import StructType as _ST

    if extra_fields and snap.column_mapping != "none":
        raise DeltaProtocolError(
            "extra_fields scan is only supported without column mapping"
        )
    # explicit-path reads trip Spark's parallel partition discovery at
    # ONE LISTING TASK PER PATH by default (a 3100-file table = a
    # 3100-task stat-only stage per read, ~10 s of scheduling at
    # local[32] — r11 POS decade); cap the listing job width here so the
    # fix rides every session, not just our tuned one
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.parallelism", "64"
    )
    path = snap.path
    sel_rels = None if rels is None else set(rels)
    wanted = [(rel, pv) for rel, pv in snap.files if sel_rels is None or rel in sel_rels]
    if not wanted:
        return None
    out_cols = [f.name for f in snap.schema.fields]
    types = {f.name: f.dataType for f in snap.schema.fields}

    def widen(target: "_ST") -> "_ST":
        if not extra_fields:
            return target
        return _ST(
            list(target.fields)
            + [_SF(n, _LT(), True) for n in extra_fields]
        )

    def meta_cols():
        # __fpr: the scan's RAW file path (scheme-qualified, percent-
        # encoded) — the zero-cost key _resolve_fid turns into __fid
        return [
            F.col("_metadata.file_path").alias("__fpr"),
            F.col("_metadata.row_index").alias("__ri"),
        ]

    def read_files(fpaths: list[str], target, meta: bool) -> DataFrame:
        """One pinned-schema scan of data files, resolving COLUMN MAPPING:
        'name' reads under the physical parquet names and aliases back to
        logical; 'id' pins parquet field ids on the requested schema and
        lets Spark's native field-id resolution match columns regardless
        of their physical names (rename-proof, the mode's whole point).
        ``meta`` appends __fpr/__ri BEFORE any projection — the _metadata
        pseudo-column only resolves against the scan itself."""
        extra = meta_cols() if meta else []
        if snap.column_mapping == "none":
            df = _pruned(spark.read.schema(widen(target)), fpaths)
            return df.select("*", *extra) if meta else df
        if snap.column_mapping == "name":
            phys = _ST(
                [_SF(snap.physical_names[f.name], f.dataType, True) for f in target.fields]
            )
            df = _pruned(spark.read.schema(phys), fpaths)
            return df.select(
                *[
                    F.col(f"`{snap.physical_names[f.name]}`").alias(f.name)
                    for f in target.fields
                ],
                *extra,
            )
        # id mode
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        # files predating an ADD COLUMN lack the new field id: read NULL
        # (the protocol's schema-evolution contract), don't error
        spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
        fields = [
            _SF(f.name, f.dataType, True, {"parquet.field.id": snap.field_ids[f.name]})
            for f in target.fields
        ]
        df = _pruned(spark.read.schema(_ST(fields)), fpaths)
        return df.select("*", *extra) if meta else df

    if not snap.partition_columns:
        out = read_files(
            [_abs_file(path, rel) for rel, _ in wanted], snap.schema, with_meta
        )
    elif snap.column_mapping == "none" and _hive_style(wanted, snap.partition_columns):
        df = _pruned(
            spark.read.schema(widen(snap.schema)).option("basePath", path),
            [_abs_file(path, rel) for rel, _ in wanted],
            base_dir=path,
        )
        sel = [F.col(c).cast(types[c]).alias(c) for c in out_cols] + [
            F.col(f"`{n}`") for n in (extra_fields or [])
        ]
        out = df.select(*sel, *meta_cols()) if with_meta else df.select(*sel)
    else:
        # non-Hive layout (and every column-mapping table — their
        # directories carry PHYSICAL names, so Hive discovery would
        # resolve the wrong columns): group files by partition tuple,
        # union one pinned-schema scan per tuple with the log's partition
        # values as literals.
        groups: dict[tuple, list[str]] = {}
        for rel, pvals in wanted:
            key = tuple(pvals.get(c) for c in snap.partition_columns)
            groups.setdefault(key, []).append(_abs_file(path, rel))
        cols_sel = (
            out_cols
            + list(extra_fields or [])
            + (["__fpr", "__ri"] if with_meta else [])
        )
        out = None
        for key, fpaths in sorted(groups.items(), key=lambda kv: tuple(map(str, kv[0]))):
            d = read_files(fpaths, snap.data_schema, with_meta)
            for c, v in zip(snap.partition_columns, key):
                lit = F.lit(None) if v is None else F.lit(v)
                d = d.withColumn(c, lit.cast(types[c]))
            d = d.select(*[F.col(f"`{c}`") for c in cols_sel])
            out = d if out is None else out.unionByName(d)
    if not with_meta:
        return out
    return _resolve_fid(
        spark, out,
        {
            fid: os.path.abspath(_abs_file(path, rel))
            for fid, (rel, _) in enumerate(snap.files)
            if sel_rels is None or rel in sel_rels
        },
    )


# DV application strategy thresholds (module-level so tests/operators can
# force a path). The driver NEVER materializes per-deleted-row objects:
# every driver cost below is bounded by the compressed bitmap bytes.
DV_RUN_JOIN_MAX = 262_144  # total exploded [fid, bucket, lo, hi] entries the
# JVM anti-join accepts across all files of one read (~12 MB broadcast).
# Selection is PER FILE (smallest bitmaps claim the budget first), so one
# scattered monster DV no longer drags its clustered neighbours off the
# JVM path.
DV_FID_MAP_MAX = 1_024  # max literal-map entries for file-id resolution
# and per-file lookups — past this (many files x ~8 URI renderings each)
# the literals would bloat the plan, so both switch to a broadcast hash join


def _apply_deletion_vectors(
    spark: SparkSession,
    snap: DeltaSnapshot,
    dv_rels: list[str],
    keep_meta: bool = False,
    extra_fields: list[str] | None = None,
) -> DataFrame:
    """Scan the DV-carrying files and drop their deleted rows — the
    Spark rendering of what delta's scan does with per-task bitmap
    filters, sized for 100 TB DV cardinalities:

    - The driver reads only the SERIALIZED bitmap bytes per file
      (CRC-validated, ``sources/dv.py``) — cost and memory ride the
      compressed bitmap size, never the deleted-row count.
    - Bitmaps whose BUCKETED run rendering fits ``DV_RUN_JOIN_MAX``
      exploded entries apply as one broadcast hash ANTI-JOIN keyed on
      (file id, ``row_index div width``) with a BETWEEN residual — pure
      JVM, no Python in the data path, broadcast sized by run count
      (clustered deletes compress massively). The bucket key makes the
      per-row probe O(runs per bucket) ~ O(1) — width is each file's
      span/runs, so expected entries per bucket is < 2 — where a bare
      fid-keyed join would scan every run of the file per row.
    - Files past the budget (scattered huge DVs — e.g. 0.1% of 1e12
      rows, whose run rendering costs ~32 B/run against the bitmap's
      ~2 bits/row) broadcast the compressed bitmap bytes themselves and
      each executor answers membership VECTORIZED per Arrow batch
      (``DvMembership``: searchsorted / bit probes over the container
      structures) via a pandas UDF filter — executor memory again rides
      bitmap bytes. This is the only Python in any DV path and it
      transfers exactly two columns (file id, row index) per batch.

    Selection is PER FILE (smallest bitmaps claim the run budget
    first), so a mixed table keeps every modest DV pure-JVM and pays
    the probe only on the files that genuinely need it; each file is
    scanned exactly once by whichever path owns it. Files without DVs
    never pay either path.

    Both paths key on the ``__fid`` the ``with_meta`` scan already
    carries (see :func:`_resolve_fid`): run rows and probe bitmaps are
    keyed by the file's position in ``snap.files``, and the per-file
    bucket width rides :func:`file_attrs`. With ``keep_meta`` the
    surviving rows keep ``__fid`` and ``__ri``."""
    from pos_dlt_spark.sources.dv import decode_dv_runs, read_dv_bytes
    from pos_dlt_spark.tables import local_df

    want = set(dv_rels)
    recs: list[tuple[int, str, bytes]] = [
        (fid, rel, read_dv_bytes(snap.path, snap.adds[rel]["deletionVector"]))
        for fid, (rel, _pv) in enumerate(snap.files)
        if rel in want
    ]

    # per-file path selection, smallest serialized bitmaps first (size
    # correlates with run count, so clustered files claim the budget)
    budget = DV_RUN_JOIN_MAX
    join_recs: list[tuple[int, str, list, int]] = []  # fid, rel, runs, width
    probe_recs: list[tuple[int, str, bytes]] = []
    for fid, rel, data in sorted(recs, key=lambda r: len(r[2])):
        runs = decode_dv_runs(data, max_runs=budget) if budget > 0 else None
        if runs is None:
            probe_recs.append((fid, rel, data))
            continue
        width = max(1, (runs[-1][1] + 1) // len(runs)) if runs else 1
        entries = sum(hi // width - lo // width + 1 for lo, hi in runs)
        if entries > budget:
            probe_recs.append((fid, rel, data))
            continue
        budget -= entries
        join_recs.append((fid, rel, runs, width))

    meta = [] if keep_meta else ["__fid", "__ri"]
    parts: list[DataFrame] = []

    if join_recs:
        scan = scan_rels(
            spark, snap, [rel for _, rel, *_ in join_recs],
            with_meta=True, extra_fields=extra_fields,
        )
        run_rows = [
            (fid, b, lo, hi)
            for fid, _rel, runs, width in join_recs
            for lo, hi in runs
            for b in range(lo // width, hi // width + 1)
        ]
        if not run_rows:
            parts.append(scan.drop(*meta))
        else:
            scan = file_attrs(
                spark, scan, {fid: (w,) for fid, *_, w in join_recs}, ["__w"]
            ).withColumn("__bk", F.expr("__ri div __w"))
            excl = local_df(
                spark, run_rows,
                "__xfid int, __xbk bigint, __xlo bigint, __xhi bigint",
            )
            out = scan.join(
                F.broadcast(excl),
                (F.col("__fid") == F.col("__xfid"))
                & (F.col("__bk") == F.col("__xbk"))
                & (F.col("__ri") >= F.col("__xlo"))
                & (F.col("__ri") <= F.col("__xhi")),
                "left_anti",
            )
            parts.append(out.drop("__w", "__bk", *meta))

    if probe_recs:
        # membership path: broadcast the compressed bitmaps, filter
        # executor-side on (int, bigint) Arrow batches.
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        scan = scan_rels(
            spark, snap, [rel for _, rel, _ in probe_recs],
            with_meta=True, extra_fields=extra_fields,
        )
        bc = spark.sparkContext.broadcast({fid: data for fid, _, data in probe_recs})
        cache: dict = {}  # per-worker parsed-bitmap cache (rides the closure)

        def _dv_deleted_fn(fid, ri):
            import numpy as np

            from pos_dlt_spark.sources.dv import DvMembership
            out = np.zeros(len(fid), dtype=bool)
            vals = ri.to_numpy(dtype="int64")
            ids = fid.to_numpy(dtype="int64")
            for f in np.unique(ids):
                m = cache.get(f)
                if m is None:
                    m = cache[f] = DvMembership(bc.value[int(f)])
                sel = ids == f
                out[sel] = m.contains(vals[sel])
            return pd.Series(out)

        # real type objects: this module's PEP-563 stringified hints would
        # break pandas_udf eval-type inference
        _dv_deleted_fn.__annotations__ = {
            "fid": pd.Series, "ri": pd.Series, "return": pd.Series,
        }
        _dv_deleted = pandas_udf(_dv_deleted_fn, "boolean")
        parts.append(
            scan.filter(~_dv_deleted(F.col("__fid"), F.col("__ri"))).drop(*meta)
        )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scan_live_rows(
    spark: SparkSession,
    snap: DeltaSnapshot,
    rels: list[str] | None = None,
    with_meta: bool = False,
    extra_fields: list[str] | None = None,
) -> DataFrame | None:
    """The LIVE rows of (a subset of) a snapshot's files: files without a
    deletion vector take the plain :func:`scan_rels` scan, the others
    :func:`_apply_deletion_vectors`, and the two halves union by name.
    ``with_meta`` and ``extra_fields`` pass through to both halves, so
    ``__fid``/``__ri`` and the extra columns line up. Returns None when
    the selection is empty."""
    wanted = set(rels) if rels is not None else None
    plain: list[str] = []
    dv_rels: list[str] = []
    for rel, _pv in snap.files:
        if wanted is None or rel in wanted:
            has_dv = snap.adds.get(rel, {}).get("deletionVector")
            (dv_rels if has_dv else plain).append(rel)
    out = scan_rels(
        spark, snap, plain, with_meta=with_meta, extra_fields=extra_fields
    )
    if not dv_rels:
        return out
    dvpart = _apply_deletion_vectors(
        spark, snap, dv_rels, keep_meta=with_meta, extra_fields=extra_fields
    )
    return dvpart if out is None else out.unionByName(dvpart)


def _renderings(fp: str) -> set[str]:
    """Every raw ``_metadata.file_path`` a scan may report for the
    absolute path ``fp``: bare or ``file:``/``file://``-qualified, plain
    or percent-encoded under each safe set Hadoop paths use."""
    from urllib.parse import quote

    outs = {fp, "file:" + fp, "file://" + fp}
    for safe in ("/", "/:", "/:+=~"):
        q = quote(fp, safe=safe)
        outs.update({q, "file:" + q, "file://" + q})
    return outs


def _resolve_fid(
    spark: SparkSession, scan: DataFrame, fps: dict[int, str]
) -> DataFrame:
    """Replace a scan's raw ``__fpr`` with ``__fid``: the int file id
    whose absolute path in ``fps`` the row came from. The key is every
    :func:`_renderings` of each path against the raw path, so no per-row
    string work runs on a hit; only rows missing on the raw path derive
    the decoded path (:func:`decoded_fp_expr`) and look it up instead.
    A literal map up to ``DV_FID_MAP_MAX`` entries, else a broadcast
    hash join (100k files x ~8 renderings would bloat the plan). A
    TOTAL miss is LOUD: a silent null would drop out of the DV
    anti-join and resurrect deleted rows, or give a row a NULL id."""
    from pos_dlt_spark.tables import local_df

    raw = F.col("__fpr")
    entries = [(r, fid) for fid, fp in fps.items() for r in sorted(_renderings(fp))]
    miss = F.raise_error(
        F.concat(F.lit("file-id lookup failed for "), raw)
    ).cast("int")
    if len(entries) <= DV_FID_MAP_MAX:
        # try_element_at: NULL on miss (element_at THROWS under ANSI);
        # coalesce evaluates the decode only when the raw lookup missed
        raw_map = F.create_map(*[x for r, i in entries for x in (F.lit(r), F.lit(i))])
        dec_map = F.create_map(
            *[x for i, fp in fps.items() for x in (F.lit(fp), F.lit(i))]
        )
        fid = F.coalesce(
            F.try_element_at(raw_map, raw),
            F.try_element_at(dec_map, decoded_fp_expr(raw)),
            miss,
        )
        return scan.withColumn("__fid", fid).drop("__fpr")
    # a join key cannot short-circuit on a raw hit, so the decoded key is
    # derived only for rows whose raw join missed (a NULL key never
    # matches: raw-hit rows pass the second join for free)
    rdf = local_df(spark, entries, "__rk string, __rfid int")
    ddf = local_df(spark, [(fp, i) for i, fp in fps.items()], "__dk string, __dfid int")
    return (
        scan.join(F.broadcast(rdf), raw == F.col("__rk"), "left")
        .withColumn("__fpd", F.when(F.col("__rfid").isNull(), decoded_fp_expr(raw)))
        .join(F.broadcast(ddf), F.col("__fpd") == F.col("__dk"), "left")
        .withColumn("__fid", F.coalesce(F.col("__rfid"), F.col("__dfid"), miss))
        .drop("__fpr", "__rk", "__rfid", "__fpd", "__dk", "__dfid")
    )


def file_attrs(
    spark: SparkSession,
    scan: DataFrame,
    attrs: dict[int, tuple],
    names: list[str],
) -> DataFrame:
    """Attach per-file bigint columns ``names`` to a ``with_meta`` scan:
    ``attrs`` maps each ``__fid`` to its values (None reads NULL). A
    literal map up to ``DV_FID_MAP_MAX`` files, else a broadcast hash
    join on the int key — metadata-sized either way."""
    from pos_dlt_spark.tables import local_df

    if len(attrs) <= DV_FID_MAP_MAX:
        m = F.create_map(
            *[
                x
                for fid, vals in sorted(attrs.items())
                for x in (
                    F.lit(fid),
                    F.struct(
                        *[F.lit(v).cast("bigint").alias(n) for n, v in zip(names, vals)]
                    ),
                )
            ]
        )
        hit = F.try_element_at(m, F.col("__fid"))
        for n in names:
            scan = scan.withColumn(n, hit.getField(n))
        return scan
    adf = local_df(
        spark,
        [(fid, *vals) for fid, vals in sorted(attrs.items())],
        ", ".join(["__afid int"] + [f"{n} bigint" for n in names]),
    )
    return scan.join(
        F.broadcast(adf), F.col("__fid") == F.col("__afid"), "left"
    ).drop("__afid")


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    prune: list[tuple[str, str, object]] | None = None,
    timestamp=None,
) -> DataFrame:
    """Read a Delta table as a DataFrame — the protocol fold picks the
    files; the scan is ordinary distributed parquet with the LOG's schema
    pinned (schema evolution on read: pre-evolution files yield nulls for
    added columns; dropped columns never appear even if old files carry
    them). ``version=`` time-travels to an earlier snapshot, served from
    the same log at zero extra storage. Live files carrying DELETION
    VECTORS (post-DELETE tables from modern writers) are read minus their
    deleted rows (see :func:`_apply_deletion_vectors`); files without DVs
    take the plain scan, untaxed.

    ``prune`` enables log-stats DATA SKIPPING (see :func:`skip_files`):
    ``[("col", op, value), ...]`` with op in ``= < <= > >= in``,
    conjunctive. It only drops files whose stats PROVE exclusion — the
    caller still applies the real ``.filter`` for row-level semantics;
    with or without ``prune`` the filtered result is identical (DV'd
    file stats describe the physical file, a superset of live rows, so
    skipping stays conservative). ``timestamp=`` is TIMESTAMP AS OF
    (see :func:`version_at_timestamp`)."""
    snap = delta_snapshot(spark, path, version, timestamp=timestamp)
    if prune:
        snap, _ = skip_files(snap, prune)
    if not snap.files:
        return spark.createDataFrame([], snap.schema)
    return scan_live_rows(spark, snap)
