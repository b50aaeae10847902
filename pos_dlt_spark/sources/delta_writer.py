"""Basic Delta Lake WRITER from the public transaction protocol —
append / overwrite commits with per-file column stats and optimistic
concurrency on a local/POSIX filesystem.

Scope and honesty boundary:

- **Commit atomicity = atomic put-if-absent of the next
  ``_delta_log/N.json``.** POSIX ``open(O_CREAT|O_EXCL)`` provides
  exactly the "mutual exclusion on the version file" primitive the
  protocol requires, so concurrent writers on one filesystem race
  safely: the loser re-reads the log and retries at the next version.
  Object stores WITHOUT put-if-absent (plain S3) need an external
  LogStore coordination service — that layer is out of scope here and
  loudly documented, exactly as delta-rs/delta-spark document theirs.
- Conflict resolution is APPEND-level: a lost race re-commits blind
  appends (always safe — no row can conflict); a lost OVERWRITE race
  aborts with :class:`DeltaCommitConflict` rather than guessing
  (serializable-overwrite reconciliation is a real writer's hardest
  feature and pretending otherwise would corrupt tables).
- Data files are written by an ordinary distributed
  ``df.write.parquet`` into the table directory under unique names;
  per-file stats (numRecords / minValues / maxValues / nullCount for
  leaf columns the skipping reader understands) come from the parquet
  FOOTERS via pyarrow on the driver — metadata-bounded, same cost class
  as the log fold.
- Checkpointing: every ``checkpoint_interval`` commits a classic
  single-file checkpoint parquet + ``_last_checkpoint`` is written, so
  long-lived tables fold from the checkpoint, not the full JSON chain.

Together with :mod:`pos_dlt_spark.sources.delta` this gives round-trip
Delta interop (write here, read there — or by any protocol-conformant
reader) without the delta-spark dependency.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from pos_dlt_spark.sources import delta_fixture as fx
from pos_dlt_spark.sources.delta import (
    DeltaSnapshot,
    _abs_file,
    _hive_segment,
    _hive_values,
    _parquet_files,
    _rel_uri,
    delta_snapshot,
)

# merge's partition-keyed pruning collects the batch's DISTINCT partition
# keys to the driver; above this (approx) cardinality it bails out to
# touch-all — the collect is an optimization, never a correctness need
PRUNE_MAX_DISTINCT_KEYS = 65536


class DeltaCommitConflict(Exception):
    """A concurrent commit won the version race and the operation cannot
    be safely replayed (overwrite); the caller decides what to do."""


class DeltaConstraintViolation(Exception):
    """>= 1 written row violates a ``delta.constraints.*`` CHECK
    constraint; nothing was committed."""


def _append_only(conf: dict[str, str]) -> bool:
    return (conf.get("delta.appendOnly") or "").lower() == "true"


def _uniform_after_commit(spark, path: str, conf: dict[str, str]) -> None:
    """UniForm: re-emit the Iceberg metadata after a commit that changed
    the live row set (DML removes, DV changes, restore), in the SAME
    call — an Iceberg reader must never resolve a snapshot that
    resurrects deleted rows. No-op for non-uniform tables."""
    from pos_dlt_spark.sources import iceberg_uniform as uf

    if uf.uniform_enabled(conf):
        uf.uniform_sync(spark, path)


def _table_constraints(conf: dict[str, str]) -> dict[str, str]:
    pre = "delta.constraints."
    return {k[len(pre):]: v for k, v in conf.items() if k.startswith(pre)}


def _constrained(df: DataFrame, conf: dict[str, str]):
    """Attach per-constraint violation counters to the write job
    (``DataFrame.observe`` — an AggregatingAccumulator on the already-
    running plan, zero extra scans) and return (df, check). ``check()``
    raises :class:`DeltaConstraintViolation` after the job when any
    written row violated a CHECK constraint — a row violates when the
    expression is false OR null, the protocol's CHECK semantics."""
    cons = _table_constraints(conf)
    if not cons:
        return df, None
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    aggs = [
        F.sum(F.when(F.expr(expr), 0).otherwise(1)).cast("bigint").alias(name)
        for name, expr in cons.items()
    ]
    df = df.observe(obs, *aggs)

    def check() -> None:
        bad = {
            name: int(obs.get[name] or 0)
            for name in cons
            if int(obs.get[name] or 0) > 0
        }
        if bad:
            raise DeltaConstraintViolation(
                f"CHECK constraint(s) violated (rows): {bad}; "
                f"definitions: { {n: cons[n] for n in bad} }"
            )

    return df, check


def identity_column_metadata(
    start: int = 1, step: int = 1, allow_explicit_insert: bool = False
) -> dict:
    """StructField metadata declaring an IDENTITY column (the public
    delta identity keys): attach to a bigint field at table creation.
    ``allow_explicit_insert=False`` is GENERATED ALWAYS (writers must
    not supply values); True is GENERATED BY DEFAULT."""
    if step == 0:
        raise ValueError("identity step must be non-zero")
    return {
        "delta.identity.start": int(start),
        "delta.identity.step": int(step),
        "delta.identity.allowExplicitInsert": bool(allow_explicit_insert),
    }


def _identity_spec(schema) -> dict[str, dict]:
    """IDENTITY columns from field metadata (``delta.identity.start`` /
    ``.step`` / ``.highWaterMark`` / ``.allowExplicitInsert``): the
    writer assigns values on append when the column is absent and
    advances the high watermark in the same commit."""
    out: dict[str, dict] = {}
    for f in schema.fields:
        md = f.metadata or {}
        if "delta.identity.start" in md or "delta.identity.step" in md:
            hwm = md.get("delta.identity.highWaterMark")
            out[f.name] = {
                "start": int(md.get("delta.identity.start", 1)),
                "step": int(md.get("delta.identity.step", 1)),
                "highWaterMark": None if hwm is None else int(hwm),
                "allowExplicitInsert": bool(
                    md.get("delta.identity.allowExplicitInsert", False)
                ),
            }
    return out


def _assign_identity(df: DataFrame, name: str, spec: dict):
    """Assign identity values to a frame missing its identity column.
    One ``localCheckpoint`` freezes the input (the two passes below must
    see identical partitions), then per-partition counts (one bounded
    collect, |partitions| rows) become prefix offsets and a row_number
    window PARTITIONED BY the input partition id ranks rows — no global
    sort, no single-task funnel; the shuffle is one exchange on the
    partition id. Values are ``base + step * position`` — contiguous
    within the commit; across commits delta only promises uniqueness and
    monotonicity, same here. Returns (frame, new high watermark)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    step, start, hwm = spec["step"], spec["start"], spec["highWaterMark"]
    base = start if hwm is None else hwm + step
    frozen = df.localCheckpoint(eager=True)
    dfp = frozen.withColumn("__pid", F.spark_partition_id())
    counts = {
        r["__pid"]: r["c"]
        for r in dfp.groupBy("__pid").agg(F.count("*").alias("c")).collect()
    }
    n = sum(counts.values())
    if n == 0:
        return frozen.withColumn(name, F.lit(None).cast("bigint")), hwm
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    off_map = F.create_map(
        *[x for p, o in offsets.items() for x in (F.lit(int(p)), F.lit(int(o)))]
    )
    rn = (
        F.row_number().over(
            Window.partitionBy("__pid").orderBy(F.monotonically_increasing_id())
        )
        - 1
    )
    out = dfp.withColumn(
        name,
        (F.lit(base) + F.lit(step) * (off_map[F.col("__pid")] + rn)).cast("bigint"),
    ).drop("__pid")
    return out, base + step * (n - 1)


def _schema_with_hwm(schema, hwms: dict[str, int]):
    """The table schema with updated identity high watermarks stamped
    into the columns' metadata — committed alongside the data."""
    from pyspark.sql.types import StructField, StructType

    fields = []
    for f in schema.fields:
        md = dict(f.metadata or {})
        if f.name in hwms:
            md["delta.identity.highWaterMark"] = int(hwms[f.name])
        fields.append(StructField(f.name, f.dataType, f.nullable, md))
    return StructType(fields)


def _hwm_candidate(spec: dict, stats_list, phys: str):
    """Direction-aware watermark candidate from staged-file footer
    stats. Ascending identity (step > 0) advances on the staged MAX
    moving upward; descending (step < 0) on the staged MIN moving
    downward — a merge rewriting existing (higher) rows must never drag
    a descending watermark back up, or later assignments
    (``hwm + step``) collide with live ids. Returns the new watermark
    or None when no advance is warranted."""
    step = spec["step"]
    key = "maxValues" if step > 0 else "minValues"
    best = None
    for st in stats_list:
        vals = (json.loads(st).get(key) or {}) if st else {}
        if vals.get(phys) is not None:
            v = int(vals[phys])
            if best is None:
                best = v
            else:
                best = max(best, v) if step > 0 else min(best, v)
    hwm = spec["highWaterMark"]
    if best is not None and (
        hwm is None or (best > hwm if step > 0 else best < hwm)
    ):
        return best
    return None


def _merge_hwms(hwm_updates: dict[str, int], fresh: dict[str, dict]) -> dict[str, int]:
    """Merge our staged watermark advances with whatever a concurrent
    writer committed (fresh snapshot per retry), direction-aware and
    treating a legitimate watermark of 0 as PRESENT (`or`-folding would
    drop it and mis-merge descending sequences crossing zero)."""
    merged: dict[str, int] = {}
    for n, v in hwm_updates.items():
        fw = fresh.get(n, {}).get("highWaterMark")
        if fw is None:
            merged[n] = v
        else:
            step = fresh[n].get("step", 1)
            merged[n] = max(v, fw) if step > 0 else min(v, fw)
    return merged


DEFAULT_MD_KEY = "CURRENT_DEFAULT"


def _column_defaults(schema) -> dict[str, str]:
    """COLUMN DEFAULTS (protocol ``allowColumnDefaults`` writer
    feature): schema-field metadata key ``CURRENT_DEFAULT`` holds a SQL
    expression inserts use when the column is absent. Unlike generated
    columns, defaults never backfill existing rows and a provided value
    always wins."""
    out: dict[str, str] = {}
    for f in schema.fields:
        if DEFAULT_MD_KEY in (f.metadata or {}):
            out[f.name] = f.metadata[DEFAULT_MD_KEY]
    return out


def _apply_column_defaults(df: DataFrame, schema) -> DataFrame:
    """Fill columns the frame omits from their declared defaults (the
    INSERT-without-column path); provided columns are untouched."""
    defaults = _column_defaults(schema)
    if not defaults:
        return df
    from pyspark.sql import functions as F

    present = set(df.columns)
    for name, expr in defaults.items():
        if name not in present:
            f = next(f for f in schema.fields if f.name == name)
            df = df.withColumn(name, F.expr(expr).cast(f.dataType))
    return df


def _generation_exprs(schema) -> dict[str, str]:
    """GENERATED COLUMNS (protocol "Generated Columns"): schema-field
    metadata key ``delta.generationExpression`` holds a SQL expression;
    writers must ensure the column's values equal it."""
    out: dict[str, str] = {}
    for f in schema.fields:
        md = f.metadata or {}
        if "delta.generationExpression" in md:
            out[f.name] = md["delta.generationExpression"]
    return out


def _generated(df: DataFrame, schema, exempt_col: str | None = None):
    """Enforce the table's generated columns on a frame about to stage:
    a MISSING generated column is COMPUTED from its expression (the
    common writer convenience — callers supply only the base columns);
    a PROVIDED one is VALIDATED row-by-row via ``DataFrame.observe`` on
    the already-running write job (null-safe equality, zero extra
    scans). Returns (df, check) — ``check()`` raises
    :class:`DeltaConstraintViolation` after the job when any row's
    provided value diverges from its expression (silently accepting it
    would break every reader that relies on the generation invariant
    for partition pruning)."""
    gens = _generation_exprs(schema)
    if not gens:
        return df, None
    from pyspark.sql import functions as F

    present = set(df.columns)
    to_check: dict[str, str] = {}
    for name, expr in gens.items():
        if name not in present:
            df = df.withColumn(name, F.expr(expr))
        else:
            to_check[name] = expr
    if not to_check:
        return df, None
    from pyspark.sql import Observation

    obs = Observation()
    # exempt_col (e.g. a merge's tombstone flag): rows it marks skip
    # validation — a DELETE event's payload columns are often null and
    # never reach the table anyway
    ok = (
        (lambda name, expr: F.col(f"`{name}`").eqNullSafe(F.expr(expr)))
        if exempt_col is None
        else (
            lambda name, expr: F.col(f"`{exempt_col}`")
            | F.col(f"`{name}`").eqNullSafe(F.expr(expr))
        )
    )
    aggs = [
        F.sum(F.when(ok(name, expr), 0).otherwise(1)).cast("bigint").alias(name)
        for name, expr in to_check.items()
    ]
    df = df.observe(obs, *aggs)

    def check() -> None:
        bad = {
            name: int(obs.get[name] or 0)
            for name in to_check
            if int(obs.get[name] or 0) > 0
        }
        if bad:
            raise DeltaConstraintViolation(
                f"generated column(s) violated (rows): {bad}; "
                f"expressions: { {n: to_check[n] for n in bad} }"
            )

    return df, check


def _merged_protocol(
    prior: dict | None,
    reader_features: tuple[str, ...] = (),
    writer_features: tuple[str, ...] = (),
) -> dict:
    """Protocol action carrying the UNION of the table's already-declared
    features and any newly required ones. Emitting only the new feature
    (or the bare default) would CLOBBER prior declarations — e.g. a
    checkpoint after a DV delete that re-declares (1,2) leaves DV files
    in use under a protocol that never mentions them, and spec-compliant
    readers may honor that by resurrecting the deleted rows."""
    p = dict(prior or {})
    rf = set(p.get("readerFeatures") or ()) | set(reader_features)
    wf = set(p.get("writerFeatures") or ()) | set(writer_features)
    out: dict = {
        "minReaderVersion": max(int(p.get("minReaderVersion") or 1), 3 if rf else 1),
        "minWriterVersion": max(int(p.get("minWriterVersion") or 2), 7 if (rf or wf) else 2),
    }
    if rf:
        # reader features only exist on minReaderVersion-3 tables
        out["readerFeatures"] = sorted(rf)
    if rf or wf:
        # version-7 tables must list EVERY writer feature in use; reader
        # features are writer features too per the table-features spec
        out["writerFeatures"] = sorted(wf | rf)
    return {"protocol": out}


def _mint_column_mapping(schema, conf: dict, partition_by):
    """Mint a column mapping for table CREATION, like delta's CREATE: a
    fresh physical name (col-<uuid>) and field id per column; data files
    carry the physical names (+ parquet field ids) from the first write.
    Returns (annotated schema, conf with maxColumnId, a namespace that
    quacks enough like a snapshot for _to_physical)."""
    from types import SimpleNamespace

    from pyspark.sql.types import StructField, StructType

    cm_mode = conf["delta.columnMapping.mode"]
    if cm_mode not in ("name", "id"):
        from pos_dlt_spark.sources.delta import DeltaProtocolError

        raise DeltaProtocolError(f"column mapping mode {cm_mode!r} not supported")
    fields, pns, fids = [], {}, {}
    for i, f in enumerate(schema.fields):
        md = dict(f.metadata or {})
        md["delta.columnMapping.id"] = i + 1
        md["delta.columnMapping.physicalName"] = f"col-{uuid.uuid4()}"
        pns[f.name], fids[f.name] = md["delta.columnMapping.physicalName"], i + 1
        fields.append(StructField(f.name, f.dataType, f.nullable, md))
    conf = dict(conf)
    conf["delta.columnMapping.maxColumnId"] = str(len(fields))
    ns = SimpleNamespace(
        column_mapping=cm_mode,
        physical_names=pns,
        field_ids=fids,
        partition_columns=list(partition_by or []),
    )
    return StructType(fields), conf, ns


def _ict_enabled(conf: dict | None) -> bool:
    return (conf or {}).get(
        "delta.enableInCommitTimestamps", ""
    ).lower() == "true"


def _creation_protocol(
    schema, cm: bool, row_tracking: bool = False, clustering: bool = False,
    ict: bool = False,
) -> dict:
    """The legacy protocol floor a fresh table needs: column mapping ->
    reader 2 / writer 5, identity columns -> writer 6, generated
    columns -> writer 4. Row tracking is a TABLE FEATURE (writer 7):
    it lifts the protocol to the feature form and declares
    rowTracking + domainMetadata."""
    min_reader, min_writer = 1, 2
    if cm:
        min_reader, min_writer = 2, 5
    if _generation_exprs(schema):
        min_writer = max(min_writer, 4)
    if _identity_spec(schema):
        min_writer = max(min_writer, 6)
    variant = _has_variant(schema)
    defaults = bool(_column_defaults(schema))
    ntz = _schema_has_type(schema, "timestamp_ntz")
    base = fx.protocol_action(min_reader=min_reader, min_writer=min_writer)
    if row_tracking or clustering or ict or variant or defaults or ntz:
        # the version-7 feature form must list EVERY writer feature in
        # use, including the legacy ones the numeric floor implied
        legacy = ["appendOnly", "invariants"]
        if cm:
            legacy.append("columnMapping")
        if _generation_exprs(schema):
            legacy.append("generatedColumns")
        if _identity_spec(schema):
            legacy.append("identityColumns")
        feats = ["domainMetadata", *legacy] if (row_tracking or clustering or ict) else [*legacy]
        if row_tracking:
            feats.append("rowTracking")
        if clustering:
            feats.append("clustering")
        if ict:
            feats.append("inCommitTimestamp")
        if defaults:
            # writer-only feature: defaults change what INSERTs mean,
            # readers see ordinary materialized values
            feats.append("allowColumnDefaults")
        reader_feats = ["columnMapping"] if cm else []
        if variant:
            # variantType is a READER-WRITER feature (protocol
            # "Variant Data Type"): readers that don't understand the
            # shredded binary encoding must refuse the table
            feats.append("variantType")
            reader_feats.append("variantType")
        if ntz:
            # TIMESTAMP_NTZ is a reader-writer feature too: a reader
            # unaware of it would read NTZ micros as TZ-adjusted
            # timestamps and silently shift every value
            feats.append("timestampNtz")
            reader_feats.append("timestampNtz")
        return _merged_protocol(
            base["protocol"],
            tuple(reader_feats),
            tuple(feats),
        )
    return base


def _schema_has_type(schema, type_name: str) -> bool:
    """True when any (arbitrarily nested) field of the schema has the
    given ``typeName()`` — a recursive walk over the actual dataTypes,
    NOT a substring match on the JSON dump: a column comment or metadata
    value equal to the type name must not false-positive and declare a
    reader feature the table doesn't use (ADVICE r08)."""
    from pyspark.sql import types as T

    def walk(dt) -> bool:
        if dt.typeName() == type_name:
            return True
        if isinstance(dt, T.StructType):
            return any(walk(f.dataType) for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return walk(dt.elementType)
        if isinstance(dt, T.MapType):
            return walk(dt.keyType) or walk(dt.valueType)
        return False

    return walk(schema)


def _has_variant(schema) -> bool:
    """True when any (arbitrarily nested) field of the schema is the
    VARIANT semi-structured type."""
    return _schema_has_type(schema, "variant")


def _refuse_cm_with_row_tracking(conf: dict) -> None:
    """Column mapping + row tracking together are unsupported here
    (scan_with_row_ids refuses column-mapped tables), so reject the
    pairing at CREATION instead of after data exists, when the first
    MERGE/UPDATE/DELETE/OPTIMIZE would be the thing that raises
    (ADVICE r07 #4)."""
    from pos_dlt_spark.sources import delta_rowtracking as rt

    if (
        (conf.get("delta.columnMapping.mode") or "none") != "none"
        and rt.row_tracking_enabled(conf)
    ):
        raise ValueError(
            "delta.columnMapping.mode and delta.enableRowTracking together "
            "are not supported by this writer: the row-id-resolving scan "
            "refuses column-mapped tables, so every later DML on such a "
            "table would raise — create the table with one or the other"
        )


def delta_create_table(
    spark,
    path: str,
    schema,
    partition_by: list[str] | None = None,
    configuration: dict[str, str] | None = None,
    cluster_by: list[str] | None = None,
) -> int:
    """CREATE TABLE without data: commit 0 holds protocol + metaData and
    zero adds — the DDL half real pipelines run before their first
    INSERT, and the only way to declare a GENERATED ALWAYS identity
    column (its values are writer-assigned, so no data frame could carry
    the declaring metadata). Identity / generated-column / CHECK /
    column-mapping metadata all ride the schema or configuration;
    subsequent ``write_delta`` appends enforce them. Returns 0."""
    log_dir = os.path.join(path, "_delta_log")
    if os.path.isdir(log_dir) and any(
        n.endswith(".json") or n.endswith(".parquet") for n in os.listdir(log_dir)
    ):
        raise ValueError(f"{path} is already a Delta table")
    schema, conf, cm = _creation_layout(schema, dict(configuration or {}), partition_by)
    actions = [
        fx.commit_info_action("CREATE TABLE", {"partitionBy": list(partition_by or [])}),
        *_creation_actions(schema, conf, partition_by, cluster_by, cm is not None),
    ]
    if not _try_commit(log_dir, 0, actions):
        raise DeltaCommitConflict("commit 0 appeared concurrently during create")
    # data-less CREATE on a UniForm table: emit an EMPTY Iceberg
    # snapshot so the table is discoverable before its first row
    _uniform_after_commit(spark, path, conf)
    return 0


def _creation_layout(schema, conf: dict, partition_by):
    """A new table's schema, configuration and minted column mapping
    (None without one), checked as CREATE checks them: column mapping
    with row tracking refuses, row tracking mints its materialized
    columns (so every future rewrite preserves ids under one agreed
    physical column), and a UniForm table refuses every shape whose
    later evolution the Iceberg rendering could not follow."""
    from pos_dlt_spark.sources import delta_rowtracking as rt
    from pos_dlt_spark.sources import iceberg_uniform as uf

    _refuse_cm_with_row_tracking(conf)
    cm = None
    if (conf.get("delta.columnMapping.mode") or "none") != "none":
        schema, conf, cm = _mint_column_mapping(schema, conf, partition_by)
    if rt.row_tracking_enabled(conf):
        conf = rt.mint_materialized_columns(conf)
    if uf.uniform_enabled(conf):
        uf.refuse_unsupported_uniform(conf, schema, partition_by)
    return schema, conf, cm


def _creation_actions(schema, conf: dict, partition_by, cluster_by, cm: bool) -> list[dict]:
    """Version 0's protocol, metaData and CLUSTER BY domain — shared by
    CREATE TABLE and the first write."""
    from pos_dlt_spark.sources import delta_clustering as cl
    from pos_dlt_spark.sources import delta_rowtracking as rt

    actions = [
        _creation_protocol(
            schema, cm,
            row_tracking=rt.row_tracking_enabled(conf),
            clustering=cluster_by is not None,
            ict=_ict_enabled(conf),
        ),
        fx.metadata_action(
            schema, partition_columns=list(partition_by or []),
            configuration=conf or None,
        ),
    ]
    if cluster_by is not None:
        cl.validate_cluster_by(cluster_by, schema, partition_by)
        # domain stores PHYSICAL names (rename-proof under cm)
        ns = {f.name: f for f in schema.fields}
        phys = [
            (ns[c].metadata or {}).get("delta.columnMapping.physicalName", c)
            for c in cluster_by
        ]
        actions.append(cl.clustering_domain_action(phys))
    return actions


def _writer_supports(snap: DeltaSnapshot) -> None:
    """Column-mapping writes: both 'name' and 'id' modes are SUPPORTED —
    'name' only needs logical->physical renames on the way out (files and
    partitionValues carry physical names; the logical schema lives in
    metaData), and 'id' additionally stamps the mapping's parquet field
    ids on every staged file (alias metadata ``parquet.field.id`` +
    ``spark.sql.parquet.fieldId.write.enabled``, Spark's native field-id
    emission) so id-mode readers resolve columns rename-proof. A table
    whose id mapping is INCOMPLETE (a column without a field id) still
    refuses: a file staged without ids silently resolves to all-null
    under id-mode reads elsewhere — loud refusal beats that. See
    :func:`_to_physical`."""
    if snap.column_mapping == "id":
        missing = [
            f.name for f in snap.schema.fields if f.name not in snap.field_ids
        ]
        if missing:
            from pos_dlt_spark.sources.delta import DeltaProtocolError

            raise DeltaProtocolError(
                "table uses column mapping 'id' but columns "
                f"{missing} carry no delta.columnMapping.id — a conformant "
                "write must stamp every column's parquet field id"
            )


def _to_physical(df: DataFrame, snap: DeltaSnapshot) -> DataFrame:
    """Rename a LOGICAL-named frame to the table's PHYSICAL column names
    for staging (no-op for mode 'none'). Data files of a column-mapping
    table must carry physical names — that is the mode's contract. When
    the mapping declares field ids they are stamped as alias metadata
    (``parquet.field.id``) and Spark's parquet writer emits them into
    the file schema (``spark.sql.parquet.fieldId.write.enabled``) — the
    id-mode read contract, harmless extra metadata under name mode."""
    if snap.column_mapping == "none":
        return df
    from pyspark.sql import functions as F

    if snap.field_ids:
        df.sparkSession.conf.set(
            "spark.sql.parquet.fieldId.write.enabled", "true"
        )
    return df.select(
        *[
            F.col(f"`{c}`").alias(
                snap.physical_names.get(c, c),
                metadata=(
                    {"parquet.field.id": snap.field_ids[c]}
                    if c in snap.field_ids
                    else {}
                ),
            )
            for c in df.columns
        ]
    )


def _physical_partition_by(snap: DeltaSnapshot) -> list[str] | None:
    """The table's partition columns under their PHYSICAL names — what
    partition directories and add.partitionValues keys must use."""
    if not snap.partition_columns:
        return None
    return [snap.physical_names.get(c, c) for c in snap.partition_columns]


def _file_stats(path: str) -> str:
    """Per-file column stats from the parquet footer (driver-side, one
    footer read per file): numRecords + min/max/nullCount for leaf
    columns with primitive types. Strings are truncated to 32 chars for
    min (protocol writers bound stats size); truncated max values are
    DROPPED rather than emitted wrong (a truncated max underestimates).

    Returns None when the footer cannot be parsed by this pyarrow —
    Spark stamps VARIANT columns with a parquet LogicalType pyarrow 16
    does not know and it raises on the whole footer. Such files carry
    no stats: skipping/merge-pruning treat them conservatively (always
    scanned) and row tracking — which NEEDS numRecords — refuses loudly
    at assignment."""
    import pyarrow.parquet as pq

    try:
        md = pq.read_metadata(path)
    except Exception:  # noqa: BLE001 — unknown logical type in footer
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested leaves: skip (reader skips them too)
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            try:
                mn, mx = st.min, st.max
            except Exception:  # noqa: BLE001 — pyarrow can't decode some
                continue  # physical types (e.g. FLBA decimals): skip column
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                except UnicodeDecodeError:
                    continue
            if isinstance(mn, str) and len(mn) > 32:
                mn = mn[:32]
            if isinstance(mx, str) and len(mx) > 32:
                mx = None  # cannot truncate a max safely
            cur_mn = mins.get(name)
            mins[name] = mn if cur_mn is None or (mn is not None and mn < cur_mn) else cur_mn
            cur_mx = maxs.get(name)
            if mx is not None:
                maxs[name] = mx if cur_mx is None or mx > cur_mx else cur_mx
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count

    def _js(v):
        import datetime

        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        return v

    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": {k: _js(v) for k, v in mins.items() if v is not None},
            "maxValues": {k: _js(v) for k, v in maxs.items() if v is not None},
            "nullCount": nulls,
        }
    )


def _prior_in_commit_timestamp(log_dir: str, version: int) -> int | None:
    """The previous commit's inCommitTimestamp (None when absent or the
    file is gone). Our writers put commitInfo first, so this reads one
    line; foreign layouts fall back to a full scan of that commit."""
    if version <= 0:
        return None
    p = os.path.join(log_dir, f"{version - 1:020d}.json")
    try:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                a = json.loads(line)
                if "commitInfo" in a:
                    ict = a["commitInfo"].get("inCommitTimestamp")
                    return None if ict is None else int(ict)
    except (OSError, ValueError):
        return None
    return None


def _try_commit(
    log_dir: str, version: int, actions: list[dict], conf: dict | None = None
) -> bool:
    """Atomic put-if-absent of version.json (POSIX O_EXCL). False if a
    concurrent writer owns this version.

    IN-COMMIT TIMESTAMPS (writer feature): when this commit's metaData
    declares ``delta.enableInCommitTimestamps`` — or, absent a metaData
    action, the previous commit already carried one — the commitInfo is
    stamped with ``inCommitTimestamp = max(now_ms, prior + 1)``:
    strictly monotonic per the spec, immune to clock skew between
    writers and to log-file copies changing mtimes. Enforced at the one
    commit choke point so every DML/DDL inherits it; the enablement
    commit's metaData also gets its EnablementTimestamp pinned to the
    stamped value."""
    import time as _time

    meta_conf = None
    meta_action = None
    for a in actions:
        if "metaData" in a:
            meta_action = a
            meta_conf = dict(a["metaData"].get("configuration") or {})
    prior_ict = _prior_in_commit_timestamp(log_dir, version)
    if meta_conf is not None:
        enabled = (
            meta_conf.get("delta.enableInCommitTimestamps", "").lower() == "true"
        )
    elif conf is not None:
        # the caller's folded table configuration — survives log cleanup
        # deleting the prior commit JSON (prior-ict inheritance alone
        # would silently stop stamping there)
        enabled = conf.get("delta.enableInCommitTimestamps", "").lower() == "true"
    else:
        enabled = prior_ict is not None
    if enabled:
        ict = max(int(_time.time() * 1000), (prior_ict or -1) + 1)
        for a in actions:
            if "commitInfo" in a and a["commitInfo"].get("inCommitTimestamp") is None:
                a["commitInfo"]["inCommitTimestamp"] = ict
        if (
            meta_action is not None
            and meta_conf.get("delta.inCommitTimestampEnablementVersion")
            == str(version)
        ):
            meta_conf["delta.inCommitTimestampEnablementTimestamp"] = str(ict)
            meta_action["metaData"]["configuration"] = meta_conf

    os.makedirs(log_dir, exist_ok=True)
    path = os.path.join(log_dir, f"{version:020d}.json")
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
    except FileExistsError:
        return False
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
            fh.flush()
            os.fsync(fh.fileno())
        _emit_crc(log_dir, version, actions)
        return True
    except BaseException:
        os.unlink(path)
        raise


def _emit_crc(log_dir: str, version: int, actions: list[dict]) -> None:
    """Per-commit VERSION CHECKSUM: write ``{version}.crc`` next to the
    commit JSON — the post-commit table totals (tableSizeBytes,
    numFiles, numMetadata/numProtocol, live domainMetadata) that real
    Delta writers emit so readers and fsck can cheaply cross-check a
    fold against what the committer believed. Computed INCREMENTALLY
    from the previous version's checksum + this commit's actions
    (O(actions), never O(table)); the chain requires every remove of a
    live file to carry ``size`` (this engine's writers do) and restarts
    from the full folded state at every checkpoint (see
    :func:`_maybe_checkpoint`), so a foreign size-less commit only
    breaks it until the next checkpoint. Emission failures never fail
    the commit — the checksum is advisory metadata."""
    try:
        if version == 0:
            prev: dict = {
                "tableSizeBytes": 0, "numFiles": 0, "domainMetadata": {},
            }
        else:
            pp = os.path.join(log_dir, f"{version - 1:020d}.crc")
            if not os.path.exists(pp):
                return  # broken/foreign chain; checkpoint emission restarts it
            with open(pp, encoding="utf-8") as fh:
                prev = json.load(fh)
        size = int(prev["tableSizeBytes"])
        n = int(prev["numFiles"])
        domains = dict(prev.get("domainMetadata") or {})
        for a in actions:
            if "add" in a:
                n += 1
                size += int(a["add"].get("size") or 0)
            elif "remove" in a:
                s = a["remove"].get("size")
                if s is None:
                    return  # cannot account; skip (chain resumes at checkpoint)
                n -= 1
                size -= int(s)
            elif "domainMetadata" in a:
                dm = a["domainMetadata"]
                if dm.get("removed"):
                    domains.pop(dm.get("domain"), None)
                elif dm.get("domain") is not None:
                    domains[dm["domain"]] = dm.get("configuration") or ""
        _write_crc(log_dir, version, size, n, domains)
    except Exception:  # noqa: BLE001 — advisory; never fail the commit
        pass


def _write_crc(
    log_dir: str, version: int, table_size: int, num_files: int,
    domains: dict[str, str],
) -> None:
    payload = json.dumps(
        {
            "tableSizeBytes": int(table_size),
            "numFiles": int(num_files),
            "numMetadata": 1,
            "numProtocol": 1,
            "domainMetadata": dict(sorted(domains.items())),
        }
    )
    tmp = os.path.join(log_dir, f".{version:020d}.crc.tmp.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(payload)
    os.replace(tmp, os.path.join(log_dir, f"{version:020d}.crc"))


def _discard_staged(
    path: str, actions: list[dict], remove_adds: bool = True
) -> None:
    """Remove the files a commit attempt staged when it fails or loses its
    O_EXCL race, so the retry (or the caller's re-run) never leaks
    unreferenced data: staged cdc change files; for an add carrying a
    deletion vector — a re-add of a PRE-EXISTING file, whose data stays —
    the DV sidecar minted this attempt (prior descriptors, still
    referenced by the committed log, point at different sidecar files);
    and, with ``remove_adds``, the staged data file of every other add."""
    from pos_dlt_spark.sources.dv import dv_relative_path

    for a in actions:
        rel = None
        if "cdc" in a:
            rel = a["cdc"]["path"]
        elif "add" in a:
            dvd = a["add"].get("deletionVector")
            if dvd:
                rel = dv_relative_path(dvd)  # None: inline or absolute DV
            elif remove_adds:
                rel = a["add"]["path"]
        if rel:
            try:
                os.remove(_abs_file(path, rel))
            except OSError:
                pass


def _replace_where_guard(df: DataFrame, predicate: str):
    """Attach a violation counter for ``replaceWhere``'s write-side
    contract — every written row must satisfy the predicate (otherwise
    the "overwrite exactly this slice" promise silently widens). Same
    zero-extra-scan Observation ride as CHECK constraints; ``check()``
    raises after the staging job. NULL predicate results violate (the
    row is provably not inside the replaced slice)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df = df.observe(
        obs,
        F.sum(
            F.when(F.coalesce(F.expr(predicate), F.lit(False)), 0).otherwise(1)
        ).cast("bigint").alias("rw_violations"),
    )

    def check() -> None:
        bad = int(obs.get["rw_violations"] or 0)
        if bad:
            raise DeltaConstraintViolation(
                f"replaceWhere: {bad} written row(s) do not satisfy "
                f"{predicate!r} — the incoming data must lie entirely "
                "inside the replaced slice"
            )

    return df, check


def _partition_exact_rels(spark, snap: DeltaSnapshot, predicate: str):
    """``None`` when the predicate cannot be decided from partition
    values alone; else the list of live rels whose partition tuple
    satisfies it — for those, EVERY row matches, so replaceWhere removes
    the whole file with no scan and no DV (the O(metadata) path a
    date-slice reload takes at 100 TB). Decided by evaluating the FULL
    predicate with Spark over the distinct partition tuples (cast to the
    table's column types — the same rendering the read path recovers),
    so any analyzable predicate over partition columns qualifies, not
    just the conservative skipping grammar; a reference to a data column
    fails analysis and falls back to the scan path. OPTIMIZE WHERE
    selects its partitions the same way."""
    from pyspark.errors import AnalysisException

    from pos_dlt_spark.tables import local_df

    pcols = list(snap.partition_columns)
    if not pcols:
        return None
    ptypes = {f.name: f.dataType for f in snap.schema.fields if f.name in pcols}
    tuples = sorted(
        {tuple((pv or {}).get(c) for c in pcols) for _, pv in snap.files},
        key=lambda t: tuple((v is None, v) for v in t),
    )
    if not tuples:
        return []
    from pyspark.sql import functions as F

    # each tuple rides with its index so the match set is decided by row
    # identity, never by round-tripping the typed values back to strings
    # (Spark's cast-to-string and Hive's dir rendering can drift)
    raw = local_df(
        spark,
        [(str(i),) + tuple(t) for i, t in enumerate(tuples)],
        ", ".join(["__tix string"] + [f"`{c}` string" for c in pcols]),
    ).select("__tix", *[F.col(f"`{c}`").cast(ptypes[c]).alias(c) for c in pcols])
    try:
        hit_ix = {
            int(r["__tix"])
            for r in raw.filter(F.expr(predicate)).select("__tix").collect()
        }
    except AnalysisException:
        return None  # predicate references non-partition columns
    matched_tuples = {tuples[i] for i in hit_ix}
    return [
        rel
        for rel, pv in snap.files
        if tuple((pv or {}).get(c) for c in pcols) in matched_tuples
    ]


def _replace_where_actions(
    spark, snap: DeltaSnapshot, path: str, predicate: str, inline_threshold: int
) -> tuple[list[dict], list[str]]:
    """The remove/re-add half of a ``replaceWhere`` commit: delete
    exactly the live rows matching ``predicate``. Returns ``(DV re-add
    actions, rels removed whole)``.

    - Partition-decidable predicate → whole-file removes, no scan.
    - Else: stats-prune to candidate files (provably-disjoint files are
      never read and SURVIVE — the gate asserts this), scan candidates
      once for matching ``(__fid, __ri)``, and per file either remove it
      whole (every live row matched — bitmap cardinality equals the
      footer's numRecords) or re-add it behind a deletion vector
      covering the matches (straddling files, merge-on-read: kilobytes
      of bitmap instead of rewriting the file). DV re-adds carry
      dataChange=true and declare the deletionVectors feature."""
    from pos_dlt_spark.sources.delta import scan_live_rows

    if not snap.files:
        return [], []
    exact = _partition_exact_rels(spark, snap, predicate)
    if exact is not None:
        return [], exact
    from pyspark.sql import functions as F

    from pos_dlt_spark.sources.dv import bitmap_cardinality

    scan_snap = _stats_candidates(snap, predicate)
    if not scan_snap.files:
        return [], []
    scan = scan_live_rows(
        spark, snap, [rel for rel, _ in scan_snap.files], with_meta=True
    )
    matches = scan.filter(F.expr(predicate)).select("__fid", "__ri")
    partial, whole = [], []
    for r in _encode_dv_groups(spark, snap, path, matches):
        rel = snap.files[r["__fid"]][0]
        add = snap.adds[rel]
        nrec = None
        try:
            nrec = json.loads(add.get("stats") or "{}").get("numRecords")
        except (TypeError, ValueError):
            pass
        if nrec is not None and bitmap_cardinality(bytes(r["dv"])) >= int(nrec):
            # every row of the file is now dead: drop it whole (no DV
            # descriptor is minted, no sidecar written)
            whole.append(rel)
        else:
            partial.append(r)
    return _dv_readd_actions(snap, path, partial, inline_threshold), whole


_SHRED_TYPES = {
    "boolean", "int", "long", "float", "double", "string", "date", "timestamp",
}
_SHRED_FIELD_RE = None  # compiled lazily


def _validate_shred_spec(spec: dict, schema) -> None:
    """Creation-time validation of a variant-shredding spec: every
    shredded column must be a VARIANT field of the schema, every field
    name a plain identifier (it is interpolated into a variant_get
    path), every type from the closed SQL-type set."""
    import re as _re

    global _SHRED_FIELD_RE
    if _SHRED_FIELD_RE is None:
        _SHRED_FIELD_RE = _re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
    names = {f.name: f.dataType for f in schema.fields}
    for col, fields in spec.items():
        dt = names.get(col)
        if dt is None or dt.typeName() != "variant":
            raise ValueError(
                f"shred_variant: {col!r} is not a VARIANT column of the schema"
            )
        if not fields or not isinstance(fields, dict):
            raise ValueError(f"shred_variant[{col!r}] must be a non-empty dict")
        for fld, typ in fields.items():
            if not _SHRED_FIELD_RE.fullmatch(fld):
                raise ValueError(
                    f"shred_variant field {fld!r} is not a plain identifier"
                )
            if typ not in _SHRED_TYPES:
                raise ValueError(
                    f"shred_variant type {typ!r} not in {sorted(_SHRED_TYPES)}"
                )


def _with_shred_columns(df: DataFrame, spec: dict) -> DataFrame:
    """Append the typed shredded twins (``variant_get`` of each declared
    field) for STAGING only — they become extra physical parquet columns
    the logical schema never mentions, so any protocol-conformant reader
    still reads the table while this engine's scans skip files on their
    stats."""
    from pyspark.sql import functions as F

    from pos_dlt_spark.sources.delta import variant_shred_col

    for col, fields in spec.items():
        if col not in df.columns:
            continue
        for fld, typ in fields.items():
            df = df.withColumn(
                variant_shred_col(col, fld),
                F.expr(f"variant_get(`{col}`, '$.{fld}', '{typ}')"),
            )
    return df


def _backfill_shred_stats(spark, path: str, adds: list[dict], spec: dict) -> None:
    """Per-file stats for staged files whose footers pyarrow cannot
    parse (variant logical type): ONE distributed aggregation over the
    just-staged files computes numRecords + min/max/nullCount of the
    shredded typed columns, grouped by file — executor-side, bounded by
    the commit's own bytes (the same data the write job just produced),
    collecting one row per staged file. This is what makes a selective
    variant predicate skip files instead of full-scanning a 100 TB
    variant table; non-shredded variant tables keep the honest
    stats-less posture."""
    from pyspark.sql import functions as F

    from pos_dlt_spark.sources.delta import variant_shred_col

    todo = [a for a in adds if a["add"].get("stats") is None]
    if not todo:
        return
    base_map = {os.path.basename(a["add"]["path"]): a for a in todo}
    paths = [_abs_file(path, a["add"]["path"]) for a in todo]
    shred_cols = [
        variant_shred_col(c, f) for c, fs in spec.items() for f in fs
    ]
    scan = spark.read.parquet(*paths)
    present = [c for c in shred_cols if c in scan.columns]
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in present:
        aggs.append(F.min(c).alias(f"__mn_{c}"))
        aggs.append(F.max(c).alias(f"__mx_{c}"))
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"__nl_{c}")
        )
    rows = (
        scan.groupBy(
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("__base")
        )
        .agg(*aggs)
        .collect()
    )

    def _js(v):
        import datetime

        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        return v

    for r in rows:
        a = base_map.get(r["__base"])
        if a is None:
            continue
        mins = {
            c: _js(r[f"__mn_{c}"]) for c in present if r[f"__mn_{c}"] is not None
        }
        maxs = {
            c: _js(r[f"__mx_{c}"]) for c in present if r[f"__mx_{c}"] is not None
        }
        a["add"]["stats"] = json.dumps(
            {
                "numRecords": int(r["__n"]),
                "minValues": mins,
                "maxValues": maxs,
                "nullCount": {c: int(r[f"__nl_{c}"]) for c in present},
            }
        )


def _stage_and_move(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None,
    rel_dir: str = "",
    partition_values: dict | None = None,
):
    """Distributed write into a staging dir, then rename into the table
    root (Hive-style ``col=value/`` subdirs when partitioned — the layout
    Delta writers produce and the reader's single-scan fast path expects)
    under fresh unique names. Returns add actions with partitionValues
    parsed back from the directory segments. ``rel_dir`` and
    ``partition_values`` place an unpartitioned frame into one existing
    partition (OPTIMIZE's per-partition rewrite)."""
    staging = os.path.join(path, f"_staging_{uuid.uuid4().hex[:12]}")
    w = df.write
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staging)
    adds = []
    for root, n, segs in _parquet_files(staging):
        pvals = {**(partition_values or {}), **_hive_values(segs)}
        sub_dir = "/".join([rel_dir] + segs if rel_dir else segs)
        rel = (sub_dir + "/" if sub_dir else "") + f"part-{uuid.uuid4().hex}.parquet"
        dest = os.path.join(path, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.replace(os.path.join(root, n), dest)
        adds.append(
            fx.add_action(
                _rel_uri(rel),
                size=os.path.getsize(dest),
                partition_values=pvals or None,
                stats=_file_stats(dest),
            )
        )
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    return adds


def _maybe_checkpoint(
    spark, path: str, version: int, interval: int, fmt: str = "classic"
) -> None:
    """Write a checkpoint when ``version`` crosses the cadence — shared
    by EVERY committing operation (write/merge/delete/optimize/restore),
    so CDC-heavy tables whose commits are all merges still fold from a
    checkpoint instead of replaying an ever-growing JSON chain. The
    checkpoint REPLACES the JSON chain for later readers: its metaData
    must carry the full table identity (partitionColumns above all —
    folding [] here would make any post-checkpoint snapshot of a
    partitioned table read its partition column as all-null and flag
    every subsequent append as partitioning drift), and it carries the
    FOLDED protocol (plus v2Checkpoint when writing that format) — a
    narrower protocol here would undeclare features still in use
    (deletionVectors above all)."""
    if not interval or version <= 0 or version % interval != 0:
        return
    final = delta_snapshot(spark, path, version)
    top_actions = (
        [
            _merged_protocol(
                final.protocol,
                *((("v2Checkpoint",), ("v2Checkpoint",))
                  if fmt == "v2" else ((), ())),
            ),
            fx.metadata_action(
                final.schema,
                partition_columns=final.partition_columns,
                table_id=final.table_id,
                configuration=final.configuration,
            ),
        ]
        + [fx.txn_action(a, v) for a, v in sorted(final.txns.items())]
        # domainMetadata (row-tracking watermark above all) must survive
        # the checkpoint: the JSON chain it replaces carried them
        + [
            fx.domain_metadata_action(d, c)
            for d, c in sorted(final.domain_metadata.items())
        ]
    )
    if fmt == "v2":
        # sidecar-bucketed, INCREMENTALLY reused: adds are never
        # materialized wholesale here — only touched buckets' are
        _write_v2_checkpoint_incremental(path, version, final, top_actions)
    else:
        ckpt_actions = top_actions + [{"add": dict(a)} for a in final.adds.values()]
        # multi-part past 500k files — the layout real writers use so no
        # single checkpoint file balloons (the reader folds complete
        # part sets; an interrupted write leaves an incomplete set that
        # readers skip in favor of the previous checkpoint/JSON chain)
        parts = -(-len(final.files) // 500_000)
        fx.write_checkpoint(path, version, ckpt_actions, parts=max(1, parts))
    # re-anchor the version-checksum chain from the FULL folded state:
    # a foreign size-less commit (or a raw fixture write) stops the
    # incremental .crc emission; the checkpoint already paid for the
    # fold, so the recompute is free here
    try:
        tls = (
            final.adds.total_live_size()
            if hasattr(final.adds, "total_live_size")
            else None
        )
        if tls is None:  # plain-dict adds (JSON-only fold) or foreign layout
            tls = sum(
                int(final.adds[rel].get("size") or 0) for rel, _ in final.files
            )
        _write_crc(
            os.path.join(path, "_delta_log"),
            version,
            tls,
            len(final.files),
            dict(final.domain_metadata),
        )
    except Exception:  # noqa: BLE001 — advisory
        pass


# live adds per v2-checkpoint sidecar at a full (re)spread: small
# enough that rewriting one sidecar is cheap, large enough that a 10M-
# file table needs only ~100 sidecars. Tests shrink it to force
# multi-sidecar layouts.
V2_SIDECAR_TARGET_ADDS = 100_000


def _write_v2_checkpoint_incremental(
    path: str, version: int, final, top_actions: list[dict]
) -> None:
    """V2 checkpoint with INCREMENTALLY REUSED sidecars — the metadata
    write path that survives decade-scale tables. The first v2
    checkpoint spreads the live adds over ~``V2_SIDECAR_TARGET_ADDS``-
    sized sidecar files; every later checkpoint replays only the commit
    WINDOW since the previous v2 manifest:

    - a prior sidecar containing none of the window's touched paths is
      re-referenced verbatim — never read beyond its path column, never
      rewritten (the pure-append common case reuses every one);
    - a sidecar holding a touched path (remove, or a RE-add — dv-mode
      DML, OPTIMIZE) is rewritten without those rows;
    - the window's net live adds land in ONE new sidecar.

    Which sidecars are affected is decided from a columnar path-column
    scan of the prior sidecars (pyarrow, O(live) bytes but no dict
    materialization) — at 10M adds the scan is seconds while the
    classic path's full materialization was measured at multi-GB driver
    RSS (SCALE.md r9 decade harness). When accumulated append sidecars
    outnumber ``max(4, 2x the respread need)``, or the window is not
    replayable (compacted commits, no prior v2 manifest, unreadable
    sidecars), the checkpoint falls back to one full respread.

    Sidecars referenced by a retained checkpoint are never deleted (log
    cleanup removes only commit JSONs and checksums), so reuse is safe
    by construction; sidecars orphaned by superseded manifests are cheap
    cold metadata (a GC would need manifest refcounts — noted, not
    silently claimed). Foreign sidecars carrying remove tombstones are
    rewritten without them (this engine's vacuum replays the log window
    instead of reading checkpoint tombstones)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pos_dlt_spark.sources.delta import (
        _CKPT_V2_RE,
        _commit_actions,
        _list_log,
    )

    log_dir = os.path.join(path, "_delta_log")
    sc_dir = os.path.join(log_dir, "_sidecars")
    os.makedirs(sc_dir, exist_ok=True)
    n_live = len(final.files)
    need = max(1, -(-n_live // V2_SIDECAR_TARGET_ADDS))
    schema = fx._action_arrow_schema()

    def _write_sidecar(adds: list[dict]) -> dict:
        name = f"{uuid.uuid4()}.parquet"
        p = os.path.join(sc_dir, name)
        pq.write_table(
            pa.Table.from_pylist(fx._action_rows(adds, schema), schema=schema), p
        )
        return {
            "path": name,
            "sizeInBytes": os.path.getsize(p),
            "modificationTime": 0,
        }

    commits, checkpoints = _list_log(log_dir)
    commit_map = dict(commits)
    refs_out: list[dict] | None = None
    prior_vs = [
        v
        for v, parts in checkpoints.items()
        if v < version
        and any(_CKPT_V2_RE.match(os.path.basename(p)) for p in parts)
    ]
    if prior_vs:
        prior_v = max(prior_vs)
        manifest = next(
            p
            for p in checkpoints[prior_v]
            if _CKPT_V2_RE.match(os.path.basename(p))
        )
        try:
            rows = pq.read_table(manifest, columns=["sidecar"]).to_pylist()
            prior_refs = [
                dict(r["sidecar"])
                for r in rows
                if r.get("sidecar") and r["sidecar"].get("path")
            ]
            # window replay: every path added OR removed since prior_v.
            # An add of a path already live at prior_v is a RE-add (dv-
            # mode DML, OPTIMIZE) — its old row must leave its sidecar,
            # so adds and removes are treated alike here.
            touched: set[str] = set()
            ok = True
            for v in range(prior_v + 1, version + 1):
                cp = commit_map.get(v)
                if cp is None:  # compacted away: window not replayable
                    ok = False
                    break
                for a in _commit_actions(cp):
                    if "add" in a:
                        touched.add(a["add"]["path"])
                    elif "remove" in a:
                        touched.add(a["remove"]["path"])
            if ok and len(prior_refs) + 1 <= max(4, 2 * need):
                import pyarrow.compute as pc

                touched_arr = pa.array(sorted(touched), type=pa.string())
                refs_out = []
                for ref in prior_refs:
                    sp = os.path.join(sc_dir, ref["path"])
                    cols = pq.read_table(sp, columns=["add", "remove"])
                    pcol = pc.struct_field(cols.column("add"), "path")
                    tombs = pc.struct_field(cols.column("remove"), "path").null_count
                    has_tombstones = tombs < len(cols)
                    # Arrow-side membership: the path column never
                    # materializes as Python strings unless rewriting
                    in_touched = pc.is_in(pcol, value_set=touched_arr)
                    hit = has_tombstones or bool(
                        pc.any(in_touched).as_py() or False
                    )
                    if not hit:
                        refs_out.append({"sidecar": ref})
                        continue
                    keep_mask = pc.and_kleene(
                        pc.invert(in_touched), pc.is_valid(pcol)
                    )
                    keep = pcol.filter(
                        pc.fill_null(keep_mask, False)
                    ).to_pylist()
                    if keep:
                        refs_out.append(
                            {
                                "sidecar": _write_sidecar(
                                    [{"add": dict(final.adds[p])} for p in keep]
                                )
                            }
                        )
                live_new = sorted(
                    p for p in touched if final.adds.get(p) is not None
                )
                if live_new:
                    refs_out.append(
                        {
                            "sidecar": _write_sidecar(
                                [{"add": dict(final.adds[p])} for p in live_new]
                            )
                        }
                    )
        except (OSError, ValueError, KeyError):
            refs_out = None
    if refs_out is None:  # full (re)spread into ~need equal slices
        rels = sorted(rel for rel, _ in final.files)
        per = -(-len(rels) // need) if rels else 0
        refs_out = []
        for i in range(need):
            chunk = rels[i * per : (i + 1) * per] if per else []
            if not chunk:
                break
            refs_out.append(
                {
                    "sidecar": _write_sidecar(
                        [{"add": dict(final.adds[rel])} for rel in chunk]
                    )
                }
            )

    smap = pa.map_(pa.string(), pa.string())
    manifest_schema = pa.schema(
        list(schema)
        + [
            pa.field(
                "sidecar",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("sizeInBytes", pa.int64()),
                        ("modificationTime", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "checkpointMetadata",
                pa.struct([("version", pa.int64()), ("tags", smap)]),
            ),
        ]
    )
    manifest_actions = (
        [{"checkpointMetadata": {"version": version, "tags": {}}}]
        + top_actions
        + refs_out
    )
    mpath = os.path.join(log_dir, f"{version:020d}.checkpoint.{uuid.uuid4()}.parquet")
    pq.write_table(
        pa.Table.from_pylist(
            fx._action_rows(manifest_actions, manifest_schema),
            schema=manifest_schema,
        ),
        mpath,
    )
    with open(os.path.join(log_dir, "_last_checkpoint"), "w", encoding="utf-8") as fh:
        fh.write(json.dumps({"version": version, "size": len(manifest_actions)}))


def write_delta(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    checkpoint_interval: int = 10,
    max_retries: int = 20,
    precommit=None,
    txn: tuple[str, int] | None = None,
    configuration: dict[str, str] | None = None,
    checkpoint_format: str = "classic",
    cluster_by: list[str] | None = None,
    replace_where: str | None = None,
    inline_threshold: int = 512,
    shred_variant: dict[str, dict[str, str]] | None = None,
    merge_schema: bool = False,
) -> int:
    """Write ``df`` to the Delta table at ``path`` (created if absent).
    Returns the committed version.

    Every commit after the create (version 0) goes through
    :func:`_apply_and_commit`, the commit core DELETE, UPDATE, MERGE,
    OPTIMIZE and REORG share; whatever a refused or raising write staged
    is removed. ``mode='append'`` adds files; on a lost commit race it
    retries at the next version with the same staged files, row ids
    re-stamped (blind appends never conflict) — unless it assigned
    identity values, which were allocated against the stale watermark:
    then it raises :class:`DeltaCommitConflict`. ``mode='overwrite'``
    removes every live file and adds the new ones; a lost race raises
    :class:`DeltaCommitConflict`. Schema: first commit pins the
    DataFrame's schema in metaData (and ``partition_by`` as the table's
    partitionColumns); appends require an identical schema and must not
    change the partitioning (fail-fast — evolution is the reader's job
    on old files, the writer's job is to not drift silently).

    ``merge_schema=True`` is delta's ``mergeSchema`` write option —
    OPT-IN automatic evolution: NEW DataFrame columns append to the
    table schema (nullable, one metadata action riding the same
    commit; existing files null-fill at scan), and the DataFrame may
    OMIT existing columns (the staged files simply lack them). Type
    conflicts still refuse — silent coercion is not evolution — as does
    column mapping (physical names would need minting).

    ``replace_where`` (with ``mode='overwrite'`` only) scopes the
    overwrite to a SQL predicate — Delta's ``replaceWhere`` selective
    overwrite, the idempotent-partition-reload surface (at 100 TB you
    atomically replace a date-slice, never the table). Semantics: one
    commit that (a) deletes exactly the live rows matching the predicate
    — whole-file removes when the file provably lies inside the slice
    (partition-decidable predicates never scan data; otherwise the
    footer-stats prune + one candidate scan decide, and files straddling
    the predicate keep their non-matching rows behind a deletion vector
    instead of being rewritten) — and (b) adds the incoming rows, every
    one of which must satisfy the predicate (violations abort before any
    commit, like CHECK constraints). Files provably disjoint from the
    predicate are untouched — their file entries survive byte-identical.
    With CDF enabled the commit carries explicit change files (deletes =
    replaced live rows, inserts = incoming rows). A lost commit race is
    absorbed: this attempt's change files/DV sidecars are cleaned and
    the replace re-derives against the fresh snapshot (MERGE's retry
    discipline), because the predicate — unlike a full overwrite — makes
    the intended slice well-defined under concurrency.

    ``precommit`` (optional callable) runs AFTER the distributed write job
    (so ``DataFrame.observe`` metrics are populated) but BEFORE the commit:
    if it raises, the staged files are removed and no version is committed,
    leaving the previous snapshot untouched — Delta-native atomic abort
    (the pipeline's ``expect_or_fail`` rides this).

    ``txn=(app_id, version)`` makes the write IDEMPOTENT via the protocol's
    SetTransaction action: if the table has already committed this appId at
    or beyond this version, the call is a no-op (returns the current table
    version, writes nothing) — exactly-once micro-batch appends under
    foreachBatch replay, the same mechanism delta's own streaming sink
    uses. The watermark survives checkpoints.

    ``configuration`` (creation only) sets the table properties in
    metaData. Two are ENFORCED as the protocol obliges writers to:
    ``delta.appendOnly='true'`` refuses any data-changing remove
    (overwrite/merge/delete); ``delta.constraints.<name>='<sql expr>'``
    CHECK constraints are validated on every written row (violation
    counts ride the staging write job via observe — zero extra scans)
    and a violation aborts before any commit.

    ``checkpoint_format='v2'`` writes V2 checkpoints (uuid manifest +
    sidecars, with the v2Checkpoint feature declared) instead of classic
    single-file ones — the layout modern delta-spark produces; both fold
    identically through this reader."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if replace_where is not None and mode != "overwrite":
        raise ValueError("replace_where requires mode='overwrite'")
    if checkpoint_format not in ("classic", "v2"):
        raise ValueError(f"checkpoint_format must be classic|v2, got {checkpoint_format!r}")
    spark = df.sparkSession
    log_dir = os.path.join(path, "_delta_log")
    exists = os.path.isdir(log_dir) and any(
        n.endswith(".json") or n.endswith(".parquet") for n in os.listdir(log_dir)
    )
    if exists and configuration is not None:
        raise ValueError("configuration is set at table creation only")
    if exists and cluster_by is not None:
        raise ValueError(
            "cluster_by is set at table creation only; use "
            "delta_alter_cluster_by to re-cluster an existing table"
        )
    prior: DeltaSnapshot | None = None
    created_schema, conf, cm_new = df.schema, configuration or {}, None
    if not exists:
        created_schema, conf, cm_new = _creation_layout(df.schema, conf, partition_by)
    else:
        prior = delta_snapshot(spark, path)
        _writer_supports(prior)
        conf = prior.configuration
        if txn is not None and prior.txns.get(txn[0], -1) >= txn[1]:
            return prior.version  # already committed: replay skipped
        if mode == "overwrite" and _append_only(conf):
            from pos_dlt_spark.sources.delta import DeltaProtocolError

            raise DeltaProtocolError(
                "table is delta.appendOnly: overwrite would remove data"
            )
    from pos_dlt_spark.sources import delta_rowtracking as rt
    from pos_dlt_spark.sources import iceberg_uniform as uf

    # VARIANT SHREDDING: spec fixed at creation (rides configuration, so
    # every later append shreds identically); appends inherit it
    from pos_dlt_spark.sources.delta import SHRED_CONF_PREFIX, variant_shred_spec

    if not exists:
        if shred_variant:
            if (conf.get("delta.columnMapping.mode") or "none") != "none":
                raise ValueError(
                    "shred_variant with column mapping is not supported"
                )
            _validate_shred_spec(shred_variant, df.schema)
            conf = dict(conf)
            for scol, sfields in shred_variant.items():
                conf[SHRED_CONF_PREFIX + scol] = json.dumps(sfields)
        shred_spec = dict(shred_variant or {})
    else:
        shred_spec = variant_shred_spec(conf)
        if shred_variant is not None and shred_variant != shred_spec:
            raise ValueError(
                "shred_variant is set at table creation only; this table "
                f"declares {shred_spec!r}"
            )
    # IDENTITY columns: assign when absent (advancing the high watermark
    # in the same commit); explicitly-provided values are only legal on
    # GENERATED BY DEFAULT columns (allowExplicitInsert) and advance it
    # from the staged files' stats
    idents = _identity_spec(prior.schema if prior is not None else created_schema)
    assigned = [name for name in idents if name not in df.columns]
    hwm_updates: dict[str, int] = {}
    for name, spec in idents.items():
        if name in df.columns:
            if not spec["allowExplicitInsert"]:
                from pos_dlt_spark.sources.delta import DeltaProtocolError

                raise DeltaProtocolError(
                    f"identity column {name!r} is GENERATED ALWAYS: writers "
                    "must not supply values (allowExplicitInsert=false)"
                )
        else:
            df, new_hwm = _assign_identity(df, name, spec)
            if new_hwm is not None:
                hwm_updates[name] = int(new_hwm)
    df = _apply_column_defaults(
        df, prior.schema if prior is not None else created_schema
    )
    df, check_generated = _generated(
        df, prior.schema if prior is not None else df.schema
    )
    df, check_constraints = _constrained(df, conf)
    check_replace = None
    if replace_where is not None:
        from pos_dlt_spark.sources.delta_cdf import cdf_enabled

        if prior is not None and cdf_enabled(prior):
            # the frozen rows are re-read for the insert change files —
            # a non-deterministic source must stage and change-log the
            # SAME rows (the dv-mode DML freeze discipline)
            df = df.localCheckpoint(eager=True)
        df, check_replace = _replace_where_guard(df, replace_where)
    checks = (check_generated, check_constraints, check_replace, precommit)

    def stage(layout) -> list[dict]:
        """Stage ``df`` in the table's layout: a column-mapped table's
        files and partition dirs carry PHYSICAL names."""
        frame = _with_shred_columns(df, shred_spec) if shred_spec else df
        files = _stage_and_move(
            frame if layout is None else _to_physical(frame, layout), path,
            partition_by if layout is None else _physical_partition_by(layout),
        )
        if shred_spec:
            # variant footers defeat pyarrow; derive the shredded
            # columns' stats with one distributed pass over the staged
            # files so selective variant predicates can skip files
            _backfill_shred_stats(spark, path, files, shred_spec)
        return files

    adds: list[dict] | None = None
    raced = False  # a commit race was lost: the create's, or an attempt's
    if not exists:
        adds = stage(cm_new)
        try:
            for pre in checks:
                if pre is not None:
                    pre()
            phys = cm_new.physical_names if cm_new is not None else {}
            hwms = {**_staged_hwms(created_schema, phys, adds), **hwm_updates}
            actions = [
                fx.commit_info_action(
                    "WRITE", {"mode": mode, "partitionBy": list(partition_by or [])}
                ),
                *_creation_actions(
                    _schema_with_hwm(created_schema, hwms), conf, partition_by,
                    cluster_by, cm_new is not None,
                ),
                *adds,
            ]
            if txn is not None:
                actions.insert(1, fx.txn_action(txn[0], txn[1]))
            if rt.row_tracking_enabled(conf):
                # fresh row ids from footer numRecords, and the watermark
                actions.append(rt.hwm_action(rt.assign_base_row_ids(adds, 0, -1)))
            created = _try_commit(log_dir, 0, actions, conf=conf)
        except BaseException:
            # abort before any commit: the path holds no table, as before
            _discard_staged(path, adds)
            raise
        if created:
            _maybe_checkpoint(spark, path, 0, checkpoint_interval, checkpoint_format)
            _uniform_after_commit(spark, path, conf)
            return 0
        # lost the create race: write into the winner's table instead,
        # re-staged in its layout
        _discard_staged(path, adds)
        adds, raced = None, True

    def plan(snap: DeltaSnapshot, want_changes: bool) -> _DmlPlan:
        nonlocal adds, raced
        if raced and mode == "overwrite" and replace_where is None:
            raise DeltaCommitConflict(
                f"version {snap.version} was committed concurrently; "
                "overwrite cannot be replayed safely"
            )
        if raced and assigned:
            # our identity values were allocated against a now-stale
            # watermark; a concurrent assigner may have claimed the same
            # range — the append must re-run (and re-assign), not replay
            raise DeltaCommitConflict(
                f"version {snap.version} was committed concurrently and "
                "this append assigned identity values against the prior "
                "watermark; re-run the append"
            )
        raced = True
        # names + types, nullability excluded: file sources surface
        # everything nullable, so a strict equality would flag every
        # append of a computed (non-null) column as drift
        schema = None
        if merge_schema:
            if snap.column_mapping != "none":
                raise ValueError(
                    "merge_schema with column mapping is not supported "
                    "(new physical names would need minting)"
                )
            tbl_types = {f.name: f.dataType for f in snap.schema.fields}
            conflicts = [
                f.name
                for f in df.schema.fields
                if f.name in tbl_types and tbl_types[f.name] != f.dataType
            ]
            if conflicts:
                raise ValueError(
                    f"merge_schema: type conflict on {conflicts} — "
                    "silent coercion is not evolution; use "
                    "delta_alter_column_type for widening"
                )
            from pyspark.sql.types import StructField

            new_fields = [
                StructField(f.name, f.dataType, True)
                for f in df.schema.fields
                if f.name not in tbl_types
            ]
            if new_fields:
                schema = StructType(list(snap.schema.fields) + new_fields)
                if uf.uniform_enabled(conf):
                    # a non-renderable new column must refuse BEFORE
                    # the commit, not in the post-commit sync
                    uf.refuse_unsupported_uniform(
                        conf, schema, snap.partition_columns
                    )
            # omitted existing columns are fine: the staged files
            # simply lack them and the scan null-fills
        elif sorted(
            [(f.name, f.dataType) for f in snap.schema.fields]
        ) != sorted([(f.name, f.dataType) for f in df.schema.fields]):
            raise ValueError(
                "schema drift: table "
                f"{[f.name for f in snap.schema.fields]} vs dataframe "
                f"{[f.name for f in df.schema.fields]} — writer refuses "
                "silent evolution (merge_schema=True opts in)"
            )
        if list(partition_by or []) != list(snap.partition_columns):
            raise ValueError(
                f"partitioning drift: table {snap.partition_columns} vs "
                f"write {partition_by or []}"
            )
        if hwm_updates:
            # assigned identity values advance the watermark, merged with
            # any a concurrent writer advanced (stats-less files included)
            schema = _schema_with_hwm(
                schema or snap.schema,
                _merge_hwms(hwm_updates, _identity_spec(snap.schema)),
            )
        out, dv_readds = _DmlPlan(schema=schema), []
        if mode == "overwrite" and replace_where is None:
            out.removes = [rel for rel, _ in snap.files]
        elif replace_where is not None:
            # derived per attempt: a lost race re-derives the replaced
            # slice against the fresh snapshot
            dv_readds, out.removes = _replace_where_actions(
                spark, snap, path, replace_where, inline_threshold
            )
            if want_changes:
                # with ANY cdc action in the commit, the reader uses
                # change files as THE change set — so they must hold
                # BOTH halves: the replaced live rows (deletes) and the
                # incoming rows (inserts, re-read from the frozen plan)
                from pyspark.sql import functions as F

                from pos_dlt_spark.sources.delta import scan_live_rows
                from pos_dlt_spark.sources.delta_cdf import CHANGE_TYPE

                live = scan_live_rows(spark, snap)
                ins = df.select(
                    *[F.col(f"`{f.name}`") for f in snap.schema.fields]
                ).withColumn(CHANGE_TYPE, F.lit("insert"))
                out.changes = ins if live is None else live.filter(
                    F.expr(replace_where)
                ).withColumn(CHANGE_TYPE, F.lit("delete")).unionByName(ins)
        if adds is None:  # staged last: the core owns the files from here
            adds, out.checks = stage(snap), checks
        out.staged = dv_readds + adds
        return out

    return _apply_and_commit(
        spark, path, "WRITE",
        {"mode": mode, "partitionBy": list(partition_by or [])}, plan,
        txn=txn, checkpoint_interval=checkpoint_interval,
        max_retries=max_retries, inline_threshold=inline_threshold,
        checkpoint_format=checkpoint_format,
    )[0]


def _merge_touched_files(
    spark, snap: DeltaSnapshot, updates: DataFrame, key: str, range_join_threshold: int
) -> tuple[list[str], bool]:
    """The files a MERGE batch must touch on ``key`` (= ``keys[0]``), and
    whether the batch is empty.

    EXACT per-file pruning, not the update batch's min/max hull: a
    single insert at the top of the keyspace would widen the hull over
    every file (measured: 95/100 files touched where 3 suffice). Build
    the per-file [min, max] table from the log stats, broadcast it
    against the DISTINCT update keys with a BETWEEN join, and collect
    the touched file ids — driver cost bounded by FILE COUNT. Files
    without usable stats are always touched (conservative). Past
    ``range_join_threshold`` stat-ful files (integral keys), the
    broadcast BETWEEN join — O(files x distinct keys) comparisons —
    switches to a BUCKETIZED interval equi-join (the rangejoin.py
    pattern on the numeric domain): bucket width = widest file
    interval, each file lands in <= 2 buckets, keys hash to their
    bucket, and the residual BETWEEN applies after the equi-join —
    same exact touched set, shuffle-partitioned instead of all-pairs.

    The touched-file query answers emptiness too; only the branches
    without one probe the batch for a row."""
    from pyspark.sql import functions as F

    empty: bool | None = None
    _PARTITION_RENDER_SAFE = {"string", "tinyint", "smallint", "int", "bigint", "boolean", "date"}
    if key in snap.partition_columns:
        key_type = {f.name: f.dataType.simpleString() for f in snap.schema.fields}[key]
        if key_type in _PARTITION_RENDER_SAFE:
            # partition-keyed merge: the EXACT touched set comes straight
            # from the log's partitionValues (files never store the column,
            # so footer stats cannot help here). Distinct update partition
            # values collect bounded by the batch's partition spread.
            # Restricted to types whose Spark string cast provably matches
            # the partition-directory rendering — a timestamp's fractional
            # seconds or a double's scientific notation can differ, which
            # would SKIP files that hold the key and leave duplicates.
            # Pruning is an OPTIMIZATION: a full-table merge on a
            # high-cardinality partition key would pull millions of
            # strings to the driver here, so a cheap approx_count_distinct
            # bails out to touch-all first (the collect stays bounded by
            # the threshold, never by the batch).
            approx = updates.agg(
                F.approx_count_distinct(key).alias("__n")
            ).first()["__n"]
            if approx > PRUNE_MAX_DISTINCT_KEYS:
                touched = [rel for rel, _pv in snap.files]
            else:
                vals = {
                    r["__p"]
                    for r in updates.select(
                        F.col(key).cast("string").alias("__p")
                    ).distinct().collect()
                }
                empty = not vals  # a null key collects as None
                touched = [rel for rel, pv in snap.files if pv.get(key) in vals]
        else:
            touched = [rel for rel, _pv in snap.files]  # conservative: all
        ranges = []
    else:
        ranges = []
        touched_always = []
        # stats in column-mapping tables are keyed by PHYSICAL names
        skey = snap.physical_names.get(key, key)
        for rel, _pv in snap.files:
            raw = snap.adds.get(rel, {}).get("stats")
            try:
                st = json.loads(raw) if isinstance(raw, str) else (raw or {})
                lo = (st.get("minValues") or {}).get(skey)
                hi = (st.get("maxValues") or {}).get(skey)
            except (TypeError, ValueError):
                lo = hi = None
            if lo is None or hi is None:
                touched_always.append(rel)
            else:
                ranges.append((rel, lo, hi))
        touched = list(touched_always)
    if ranges:
        try:
            from pos_dlt_spark.tables import local_df

            kt = updates.select(F.col(key).alias("__k")).distinct()
            key_type = dict(
                (f.name, f.dataType.simpleString()) for f in snap.schema.fields
            )[key]
            integral = key_type in ("tinyint", "smallint", "int", "bigint")
            if integral and len(ranges) > range_join_threshold:
                # bucketized interval equi-join (the scale path). Shift by
                # the global min so both sides' bucket arithmetic stays
                # non-negative (Spark's DIV truncates toward zero,
                # Python's // floors — they agree only on non-negatives;
                # keys below the shift sit outside every file interval,
                # so their bucket is moot). Bucket width = the widest
                # file interval, so each file expands to <= 2 bucket rows.
                base = min(int(lo) for _, lo, _ in ranges)
                width = max(int(hi) - int(lo) for _, lo, hi in ranges) + 1
                rows = []
                for rel, lo, hi in ranges:
                    for b in {(int(lo) - base) // width, (int(hi) - base) // width}:
                        rows.append((rel, lo, hi, b))
                rng = local_df(
                    spark, rows,
                    f"__rel string, __lo {key_type}, __hi {key_type}, __rb bigint",
                )
                kt = kt.withColumn(
                    "__b",
                    F.expr(f"CAST((CAST(__k AS BIGINT) - {base}) DIV {width} AS BIGINT)"),
                )
                in_file = (F.col("__b") == F.col("__rb")) & F.col("__k").between(
                    F.col("__lo"), F.col("__hi")
                )
            else:
                rng = F.broadcast(local_df(
                    spark, ranges, f"__rel string, __lo {key_type}, __hi {key_type}"
                ))
                in_file = F.col("__k").between(F.col("__lo"), F.col("__hi"))
            # LEFT join: a key outside every file still yields a (null)
            # row, so no rows at all means an empty batch
            hit = kt.join(rng, in_file, "left").select("__rel").distinct().collect()
            empty = not hit
            touched += [r["__rel"] for r in hit if r["__rel"] is not None]
        except Exception:
            # pruning is an optimization, never a correctness dependency:
            # a key type whose JSON stats rendering does not round-trip
            # into the column type (exotic timestamps, decimals beyond
            # pandas) falls back to touching every stat-ful file
            touched += [rel for rel, _lo, _hi in ranges]
    if empty is None:
        empty = updates.limit(1).count() == 0
    return touched, empty


def delta_merge(
    spark,
    path: str,
    updates: DataFrame,
    keys: list[str],
    sequence_by: str,
    tiebreakers: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    range_join_threshold: int = 100_000,
    checkpoint_interval: int = 10,
    max_retries: int = 3,
    delete_predicate: str | None = None,
    write_change_files: bool = True,
    mode: str = "rewrite",
    inline_threshold: int = 512,
) -> int:
    """Latest-per-key MERGE (upsert) into a Delta table — the operation
    the reference's CDC rides (`03_Bronze-to-Silver ETL.py:379-384`,
    Delta MERGE), rebuilt on the protocol primitives:

    1. **File pruning from log stats**: only files whose per-file
       min/max on ``keys[0]`` can overlap the update batch's key range
       are TOUCHED; provably-disjoint files are never read or rewritten
       (the same skipping machinery reads use). Conservative: files
       without stats are touched.
    2. Touched rows ∪ updates go through one latest-per-key window
       (``sequence_by`` DESC + tiebreakers — out-of-order updates LOSE
       to newer rows already in the table, so replays are idempotent),
       new files are written distributed, and the commit is one atomic
       remove(touched)+add(new) JSON — readers see the old or the new
       snapshot, never a mix.
    3. A lost commit race RE-RUNS the whole merge against the fresh
       snapshot (see :func:`_apply_and_commit`) — never a blind replay
       of the stale result, which could resurrect overwritten rows. The
       re-run is always safe: the merge is deterministic in (snapshot,
       updates) and commits atomically or not at all; SetTransaction
       idempotence is re-checked per attempt, so a concurrent writer
       sharing the appId short-circuits. After ``max_retries`` lost
       races :class:`DeltaCommitConflict` raises.

    Keys absent from the table INSERT; keys present UPDATE (newest
    sequence wins; an EQUAL sequence — after any explicit tiebreakers —
    resolves update-wins, matching DLT apply_changes' sequencing, so the
    outcome is deterministic without caller-supplied tiebreakers).
    Precondition: the table's live rows are unique per
    key (the invariant every merge commit preserves; the window dedups
    a violated precondition too, keeping the newest row).

    ``delete_predicate`` is MERGE's whenMatchedDelete / DLT's
    apply_as_deletes: an update row matching the SQL predicate is a
    DELETE tombstone — when it wins the per-key sequence ordering the
    key is REMOVED from the table (a stale tombstone loses like any
    stale update). The predicate is evaluated on the RAW update batch
    (it may reference columns outside the table schema, e.g. an op
    marker — extra columns never reach the files); tombstones are not
    retained across calls, so deletes assume per-key monotone
    sequences. With CDF enabled, removed keys emit ``delete`` change
    rows (their preimage) alongside the usual update/insert changes.
    The change rows are classified on the merge's own key window and
    staged from the same frozen ranked frame as the data files; a null
    key groups with the table's null-key row, as in the merge itself.

    Returns the committed version."""
    tiebreakers = list(tiebreakers or [])

    def plan(snap: DeltaSnapshot, want_changes: bool) -> _DmlPlan | None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from pos_dlt_spark.sources import delta_rowtracking as rtm
        from pos_dlt_spark.sources.delta import scan_live_rows
        from pos_dlt_spark.sources.delta_cdf import CHANGE_TYPE

        _ident_always = [
            n for n, s in _identity_spec(snap.schema).items()
            if not s["allowExplicitInsert"]
        ]
        if _ident_always:
            from pos_dlt_spark.sources.delta import DeltaProtocolError

            raise DeltaProtocolError(
                f"MERGE into a table whose identity column(s) {_ident_always} "
                "are GENERATED ALWAYS would supply explicit values; use "
                "allowExplicitInsert (GENERATED BY DEFAULT) for merge targets"
            )
        if not set(keys + [sequence_by] + tiebreakers) <= {f.name for f in snap.schema.fields}:
            raise ValueError("merge keys/sequence columns missing from table schema")

        # column defaults apply to MERGE-supplied rows the same as appends:
        # an updates frame that omits a defaulted column materializes it
        # (the SQL MERGE INSERT-without-column path). Every attempt starts
        # from the caller's raw batch: tombstone flagging, generated
        # columns and the casts below are re-derived per snapshot.
        batch = _apply_column_defaults(updates, snap.schema)
        touched, empty = _merge_touched_files(
            spark, snap, batch, keys[0], range_join_threshold
        )
        if empty:
            return None  # empty update batch: nothing to commit

        cols = [f.name for f in snap.schema.fields]
        # tombstone flag FIRST, on the RAW batch (the predicate may reference
        # op-marker columns outside the table schema)
        if delete_predicate is not None:
            batch = batch.withColumn(
                "__del", F.coalesce(F.expr(delete_predicate), F.lit(False))
            )
        # generated columns: compute any the update batch omitted, validate
        # any it provided (check runs after the staging job; tombstone rows
        # are exempt — their payloads never reach the table)
        batch, check_generated = _generated(
            batch, snap.schema,
            exempt_col="__del" if delete_predicate is not None else None,
        )
        # cast the update batch to the TABLE's column types (update batches
        # often arrive widened, e.g. int64 from pandas against an int
        # column; writing them as-is would poison the files against the
        # pinned log schema). ANSI mode errors on lossy casts. Extra source
        # columns (op markers) are dropped here.
        tbl_types = {f.name: f.dataType for f in snap.schema.fields}
        flag = ["__del"] if delete_predicate is not None else []
        batch = batch.select(
            *[F.col(n).cast(tbl_types[n]).alias(n) for n in cols], *flag
        )
        rt_on = rtm.row_tracking_enabled(snap.configuration)
        rt_nulls = (
            [
                F.lit(None).cast("bigint").alias(rtm.ROW_ID_COL),
                F.lit(None).cast("bigint").alias(rtm.ROW_VER_COL),
            ]
            if rt_on
            else []
        )
        if touched:
            # the live rows of the touched files: deletion vectors applied
            # (a merge that read a DV'd file raw would resurrect its deleted
            # rows into the rewrite); on a ROW-TRACKING table with each old
            # row's id/commit-version resolved so the rewrite keeps them.
            # dv mode needs each old row's (__fid, __ri).
            keep_meta = mode == "dv"
            if rt_on:
                old = rtm.scan_with_row_ids(spark, snap, touched, with_meta=keep_meta)
            else:
                old = scan_live_rows(spark, snap, touched, with_meta=keep_meta)
            old_in = old.withColumn("__upd", F.lit(0))
            if delete_predicate is not None:
                old_in = old_in.withColumn("__del", F.lit(False))
            meta_nulls = (
                [
                    F.lit(None).cast("int").alias("__fid"),
                    F.lit(None).cast("bigint").alias("__ri"),
                ]
                if mode == "dv"
                else []
            )
            merged_in = old_in.unionByName(
                batch.select(*cols, *flag, *rt_nulls, *meta_nulls).withColumn(
                    "__upd", F.lit(1)
                )
            )
        else:
            merged_in = batch.select(*cols, *flag, *rt_nulls).withColumn(
                "__upd", F.lit(1)
            )
        # equal-sequence (and equal-tiebreaker) ties resolve UPDATE-WINS —
        # DLT apply_changes' documented sequencing — via an implicit
        # is-update tiebreaker, so replays and ties are deterministic without
        # requiring the caller to supply explicit tiebreakers.
        order = (
            [F.col(sequence_by).desc()]
            + [F.col(t).desc() for t in tiebreakers]
            + [F.col("__upd").desc()]
        )
        w = Window.partitionBy(*keys).orderBy(*order)
        # the whole key group, computed in the same window operator as __rn
        key_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ranked = merged_in.withColumn("__rn", F.row_number().over(w))
        if rt_on:
            # an UPDATE that wins an existing key keeps the OLD row's id
            ranked = ranked.withColumn(
                "__oldrid",
                F.max(F.when(F.col("__upd") == 0, F.col(rtm.ROW_ID_COL))).over(key_all),
            )
        if want_changes:
            # the change class of every row, from the same key window: did
            # the key have an old row, and did a live update (__wupd) or a
            # tombstone (__wdel) win it
            live_upd = F.col("__upd") == 1
            if delete_predicate is not None:
                ranked = ranked.withColumn(
                    "__wdel", F.first(live_upd & F.col("__del")).over(key_all)
                )
                live_upd = live_upd & ~F.col("__del")
            ranked = ranked.withColumn(
                "__had_old", F.max(F.col("__upd") == 0).over(key_all)
            ).withColumn("__wupd", F.first(live_upd).over(key_all))
        # the data files, the change files and (dv mode) the deletion vectors
        # all read the ranked frame; freeze it once so they see one ranking
        # (equal-order ties or a non-deterministic source could otherwise
        # rank differently per read); the core releases it once all is staged
        frozen = None
        dv_losers = None
        if mode == "dv" and touched:
            # dv mode freezes eagerly (ADVICE r08): a localCheckpoint cannot
            # be recomputed from lineage, so a lost block fails the merge
            # instead of re-ranking. Scope: matched files + batch, not the
            # table. Its release handle is the checkpointed RDD.
            ranked = ranked.localCheckpoint(eager=True)
            frozen = ranked._jdf.queryExecution().logical().rdd()
            # every OLD row that did not win its key's window is replaced
            # (by an update winner) or deleted (by a tombstone winner): those
            # are the rows to deletion-vector in place. Old winners (stale
            # batch) stay untouched in their files; batch losers vanish.
            dv_losers = ranked.filter(
                (F.col("__rn") > 1) & F.col("__fid").isNotNull()
            ).select("__fid", "__ri")
            ranked = ranked.drop("__fid", "__ri")
        elif want_changes:
            # filled by the data stage's own job: no action of its own
            ranked = frozen = ranked.persist()

        merged_tagged = ranked.filter(F.col("__rn") == 1).drop(
            "__rn", "__had_old", "__wupd", "__wdel"
        )
        if mode == "dv":
            # only BATCH winners land in new files; carried old rows stay in
            # their original files (behind a DV when they lost)
            stage_base = merged_tagged.filter(F.col("__upd") == 1).drop("__upd")
        else:
            stage_base = merged_tagged.drop("__upd")
        if delete_predicate is not None:
            # a tombstone that won the ordering removes its key from the table
            stage_base = stage_base.filter(~F.col("__del")).drop("__del")
        stage_base, check_constraints = _constrained(stage_base, snap.configuration)
        stage_df = stage_base
        if rt_on:
            # id resolution: carried rows already hold theirs; an update
            # that won an existing key takes the old id (__oldrid) with
            # THIS commit's version; brand-new keys stay null and take
            # fresh ids from the new files' baseRowId at read time
            stage_df = rtm.to_materialized(
                stage_base.withColumn(
                    rtm.ROW_ID_COL,
                    F.coalesce(F.col(rtm.ROW_ID_COL), F.col("__oldrid")),
                ).withColumn(
                    rtm.ROW_VER_COL,
                    F.coalesce(
                        F.col(rtm.ROW_VER_COL),
                        F.lit(snap.version + 1).cast("bigint"),
                    ),
                ),
                snap,
            )

        changes = None
        if want_changes:
            # a key won by a live update emits its winner (update_postimage
            # when the key had an old row, else insert) and its old rows
            # (update_preimage); a key won by a tombstone emits its old
            # rows as delete. Stale updates, batch losers and tombstones
            # for absent keys emit nothing.
            upd_won = F.col("__wupd")
            kind = F.when(
                upd_won & (F.col("__rn") == 1),
                F.when(F.col("__had_old"), "update_postimage").otherwise("insert"),
            ).when(upd_won & (F.col("__upd") == 0), "update_preimage")
            if delete_predicate is not None:
                kind = kind.when(F.col("__wdel") & (F.col("__upd") == 0), "delete")
            changes = ranked.select(*cols, kind.alias(CHANGE_TYPE)).filter(
                F.col(CHANGE_TYPE).isNotNull()
            )
        return _DmlPlan(
            new_rows=stage_df,
            removes=touched if mode == "rewrite" else [],
            dv_losers=dv_losers,
            changes=changes,
            checks=(check_generated, check_constraints),
            release=None if frozen is None else (lambda: frozen.unpersist(False)),
        )

    return _apply_and_commit(
        spark, path, "MERGE", {"keys": keys, "sequenceBy": sequence_by}, plan,
        mode=mode, write_change_files=write_change_files, txn=txn,
        checkpoint_interval=checkpoint_interval, max_retries=max_retries,
        inline_threshold=inline_threshold,
    )[0]


def delta_optimize(
    spark,
    path: str,
    target_files: int = 1,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 12,
    checkpoint_interval: int = 10,
    where: str | None = None,
    full: bool = False,
    min_cube_bytes: int | None = None,
) -> int:
    """OPTIMIZE (bin-pack compaction): rewrite each PARTITION's live
    files into at most ``target_files`` larger files (one group for an
    unpartitioned table; compaction never crosses a partition boundary)
    and commit remove(old)+add(new) with
    ``dataChange: false`` — the protocol's marker that no ROWS changed,
    so streaming replays (:func:`pos_dlt_spark.sources.delta.replay_adds`)
    skip the rewrite and batch readers see identical content in fewer,
    bigger files (the small-files problem is the single most common
    operational Delta chore). Files carrying DELETION VECTORS are always
    rewritten minus their deleted rows (this is also delta's REORG/PURGE:
    compaction materializes the deletes and drops the DV), still under
    ``dataChange: false`` — the logical rows are unchanged. The rewrite
    commits through :func:`_apply_and_commit` as pre-staged adds and
    removes; a lost commit race removes them and raises
    :class:`DeltaCommitConflict` (a plan from a stale snapshot may
    rewrite files a concurrent commit removed) — re-run against the new
    snapshot; compaction is always safe to retry.

    ``zorder_by`` is OPTIMIZE ZORDER BY: within each partition the
    rewrite range-partitions AND sorts on the Morton interleave of the
    given (numeric) columns (``storage.zorder_key``, each column
    bucketized to ``zorder_bits`` bits over its observed span — one tiny
    stats pass per group), so the rewritten files' footer min/max stats
    are tight on EVERY z-column and ``skip_files``/``delta_merge``
    pruning works for predicates on any of them — multi-dimensional
    clustering, the one thing bin-packing alone cannot give. With
    ``zorder_by`` every multi-file group is rewritten even at or below
    ``target_files`` (re-clustering is the point).

    ``where`` is OPTIMIZE WHERE: a predicate over the PARTITION columns
    restricting which partitions compact (``"day >= '2026-01-01'"``) —
    at a 100 TB table the routine chore is compacting yesterday's
    partition, not rewriting history. Evaluated driver-side against the
    (bounded) distinct partition tuples via Spark's own expression
    engine; referencing a non-partition column refuses loudly, exactly
    like the SQL command.

    On a CLUSTERED table (``delta.clustering`` domain) OPTIMIZE is
    INCREMENTAL: only files not stamped as clustered on the CURRENT
    clustering columns — new appends, files stamped before an ``ALTER
    ... CLUSTER BY``, DV-carrying files — are rewritten (into their own
    internally-z-ordered ZCube, stamped via ``add.tags``); everything
    already current is left untouched, so routine maintenance is
    O(new data) at any table size. ``full=True`` is OPTIMIZE FULL: the
    whole table re-clusters into one fresh cube. ``min_cube_bytes``
    is the incremental mode's SMALL-CUBE CONSOLIDATION knob (real
    Liquid's ZCube target size): previously-stamped cubes totalling
    fewer bytes join the rewrite, so many tiny incremental runs
    coalesce instead of accreting forever; cubes at or above the
    threshold stay untouched. See
    :mod:`pos_dlt_spark.sources.delta_clustering`.

    Returns the committed version."""
    raced = False

    def plan(snap: DeltaSnapshot, _want_changes: bool) -> _DmlPlan | None:
        nonlocal raced, zorder_by
        if raced:
            # compaction planned against a stale snapshot may rewrite
            # files a concurrent commit removed: re-run it instead
            raise DeltaCommitConflict(
                f"version {snap.version} committed concurrently; re-run optimize"
            )
        raced = True
        from pyspark.sql import functions as F

        from pos_dlt_spark.sources import delta_clustering as cl
        from pos_dlt_spark.sources import delta_rowtracking as rt

        cluster_phys: list[str] = []
        if zorder_by is None:
            # clustered table: OPTIMIZE re-clusters on the declared columns,
            # incrementally unless full=True (see docstring)
            ccols = cl.clustering_columns(snap)
            if ccols:
                zorder_by = ccols
                cluster_phys = cl.clustering_physical_columns(snap)
        incremental = bool(cluster_phys) and not full

        rt_on = rt.row_tracking_enabled(snap.configuration)
        if rt_on:
            rt.require_materialized_columns(snap)
        from pos_dlt_spark.sources.delta import variant_shred_spec

        shred_spec = variant_shred_spec(snap.configuration)

        # group live files per partition tuple (one group, (), when the
        # table is unpartitioned); compaction never crosses a partition
        # boundary — each group with more files than the target is rewritten
        # within its own directory, everything else is untouched.
        groups: dict[tuple, list[str]] = {}
        pv_by_group: dict[tuple, dict] = {}
        for rel, pv in snap.files:
            k = tuple(pv.get(c) for c in snap.partition_columns)
            groups.setdefault(k, []).append(rel)
            pv_by_group[k] = pv
        if where is not None:
            hit = (
                _partition_exact_rels(spark, snap, where)
                if snap.partition_columns
                else None
            )
            if hit is None:
                raise ValueError(
                    "OPTIMIZE WHERE must reference the partition columns "
                    f"{snap.partition_columns} only (and needs a partitioned table)"
                )
            hit = set(hit)
            groups = {k: rels for k, rels in groups.items() if rels[0] in hit}
        removes: list[str] = []
        adds: list[dict] = []
        skipped_current = 0
        for k, rels in sorted(groups.items(), key=lambda kv: tuple(map(str, kv[0]))):
            stamp: dict[str, str] | None = None
            if cluster_phys:
                stamp = cl.zcube_stamp(cluster_phys, uuid.uuid4().hex)
            group_target = target_files
            if incremental:
                # skip files already clustered on the CURRENT columns; the
                # rest (new appends / stale stamps / DV'd files) form this
                # run's ZCube — O(new data), the Liquid maintenance contract
                cand = [
                    r for r in rels
                    if not cl.is_current_cluster_file(
                        snap.adds.get(r, {}), cluster_phys
                    )
                ]
                if min_cube_bytes:
                    # SMALL-CUBE CONSOLIDATION (real Liquid's ZCube target
                    # size): stamped cubes below the byte threshold join the
                    # rewrite so many tiny incremental runs coalesce instead
                    # of accreting forever; cubes at/above it stay untouched
                    cand_set = set(cand)
                    cubes: dict[str, list[str]] = {}
                    for r in rels:
                        if r in cand_set:
                            continue
                        tags = snap.adds[r].get("tags") or {}
                        if isinstance(tags, list):
                            tags = dict(tags)
                        cubes.setdefault(
                            tags.get(cl.ZCUBE_ID_TAG, ""), []
                        ).append(r)
                    for members in cubes.values():
                        if sum(
                            snap.adds[r].get("size") or 0 for r in members
                        ) < min_cube_bytes:
                            cand.extend(members)
                skipped_current += len(rels) - len(cand)
                if not cand:
                    continue
                # size the cube's file count by its BYTE share so a small
                # incremental slice doesn't shatter into target_files tiny
                # files (target_files describes the whole group's layout)
                tot = sum(snap.adds[r].get("size") or 0 for r in rels) or 1
                cb = sum(snap.adds[r].get("size") or 0 for r in cand)
                group_target = max(
                    1, min(target_files, round(target_files * cb / tot))
                )
                rels = cand
            dv_rels = [r for r in rels if snap.adds.get(r, {}).get("deletionVector")]
            reorder = bool(zorder_by) and (len(rels) > 1 or incremental)
            if len(rels) <= group_target and not dv_rels and not reorder:
                continue  # DV'd files always compact: OPTIMIZE is also PURGE
            data_cols = [f.name for f in snap.data_schema.fields]
            if rt_on:
                # ROW TRACKING preservation: the rewrite scans with each
                # row's resolved id/commit-version and writes them into the
                # table's MATERIALIZED physical columns — rewritten rows keep
                # their ids; the group's new files still get fresh baseRowIds
                # below (the materialized values take precedence on read)
                data = rt.to_materialized(
                    rt.scan_with_row_ids(spark, snap, rels), snap, data_cols
                )
            elif not dv_rels and snap.column_mapping == "none":
                data = spark.read.schema(snap.data_schema).parquet(
                    *[_abs_file(path, rel) for rel in rels]
                )
            else:
                # cm files carry physical names and DV'd files drop their dead
                # rows: the shared live-row scanner resolves both
                from pos_dlt_spark.sources.delta import scan_live_rows

                data = scan_live_rows(spark, snap, rels).select(*data_cols)
            if shred_spec:
                # a compaction of a shredded-variant table must RE-SHRED:
                # dropping the typed twins here would silently demote every
                # optimized file back to the stats-less full-scan posture
                data = _with_shred_columns(data, shred_spec)
            if zorder_by:
                from pyspark.sql import functions as F

                from pos_dlt_spark.storage import zorder_key

                missing = [c for c in zorder_by if c not in data_cols]
                if missing:
                    raise ValueError(
                        f"zorder_by columns {missing} not data columns "
                        "(partition columns are already directory-clustered)"
                    )
                stats_row = data.agg(
                    *[F.min(c).alias(f"mn_{c}") for c in zorder_by],
                    *[F.max(c).alias(f"mx_{c}") for c in zorder_by],
                ).collect()[0]
                bucketized = []
                for c in zorder_by:
                    lo, hi = stats_row[f"mn_{c}"], stats_row[f"mx_{c}"]
                    span = max(int(hi) - int(lo), 0) + 1
                    # scale each column to the FULL 2^bits range (not floor-
                    # divide by a width): a narrow column (say 8 bits of span)
                    # next to a wide one would otherwise leave its high morton
                    # bits always zero and the z-curve degenerates into a sort
                    # on the wide column alone — no skipping on the narrow one
                    if span * (1 << zorder_bits) < (1 << 62):
                        bucketized.append(
                            f"LEAST(((CAST({c} AS BIGINT) - {int(lo)}) * "
                            f"{1 << zorder_bits}) DIV {span}, {(1 << zorder_bits) - 1})"
                        )
                    else:  # overflow-safe fallback for astronomically wide spans
                        width = max(-(-span // (1 << zorder_bits)), 1)
                        bucketized.append(f"((CAST({c} AS BIGINT) - {int(lo)}) div {width})")
                data = (
                    data.withColumn("__z", zorder_key(bucketized, bits=zorder_bits))
                    .repartitionByRange(max(group_target, 1), "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            else:
                data = data.coalesce(group_target)
            # partition directories and partitionValues keys use PHYSICAL names
            rel_dir = "/".join(
                _hive_segment(snap.physical_names.get(c, c), v)
                for c, v in zip(snap.partition_columns, k)
            )
            pvals_out = {
                snap.physical_names.get(c, c): v for c, v in pv_by_group[k].items()
            }
            for a in _stage_and_move(
                _to_physical(data, snap), path, None, rel_dir, pvals_out
            ):
                a["add"]["dataChange"] = False
                if stamp:
                    a["add"]["tags"] = stamp
                adds.append(a)
            removes += rels
        if not removes:
            return None
        if shred_spec:
            _backfill_shred_stats(spark, path, adds, shred_spec)
        params["zOrderBy"] = list(zorder_by or [])
        if cluster_phys:
            params["clusterBy"] = cluster_phys
            params["auto"] = not full
            params["clusteredFiles"] = len(removes)
            params["skippedFiles"] = skipped_current
        return _DmlPlan(removes=removes, staged=adds, data_change=False)

    # filled in by the plan: the commitInfo rides the one attempt
    params: dict = {"zOrderBy": [], "where": where or ""}
    return _apply_and_commit(
        spark, path, "OPTIMIZE", params, plan,
        checkpoint_interval=checkpoint_interval,
    )[0]


def delta_vacuum(
    spark,
    path: str,
    retain_versions: int = 1,
    grace_seconds: float = 0.0,
    dry_run: bool = False,
) -> list[str]:
    """VACUUM: physically delete data files referenced by NO retained
    snapshot (the live sets of the last ``retain_versions + 1``
    versions). Time travel to vacuumed versions then fails on read —
    delta's own retention semantics, by version count here instead of
    tombstone age (deterministic for tests; both are policies over the
    same referenced-set computation). Never touches ``_delta_log``.

    In-flight-writer protection: ``_stage_and_move`` renames data files
    into the table root BEFORE the commit is attempted, so an
    unreferenced-but-new file may belong to a writer about to commit.
    Files whose mtime is not strictly older than the newest log entry
    (minus ``grace_seconds``) are SKIPPED — real Delta's retention window
    serves the same purpose. This protects the common staged-then-commit
    sequence; a writer that staged before a competing commit landed and
    is still retrying is only safe under ``grace_seconds`` sized above
    the longest plausible stage-to-commit latency (set it on shared
    tables; single-writer pipelines can keep 0).

    ``dry_run=True`` reports what WOULD be deleted without touching any
    file — the SQL command's ``VACUUM ... DRY RUN``.

    Returns the deleted (or, dry-run, deletable) relative paths."""
    latest = delta_snapshot(spark, path)
    log_dir = os.path.join(path, "_delta_log")
    cutoff = max(
        (
            os.path.getmtime(os.path.join(log_dir, n))
            for n in os.listdir(log_dir)
            if n.endswith(".json") or n.endswith(".parquet")
        ),
        default=float("-inf"),
    ) - grace_seconds
    keep_versions = range(max(0, latest.version - retain_versions), latest.version + 1)
    from pos_dlt_spark.sources.dv import dv_relative_path

    # the referenced side is kept as 64-bit path DIGESTS, not path
    # strings: at 1M files the string set alone cost +319 MB driver RSS
    # (SCALE.md r7). The digests accumulate in a flat array("Q") (8
    # bytes/entry — a Python int SET of 10M digests would cost ~0.7 GB
    # of object headers alone); duplicates are harmless (membership
    # tests only). A digest collision can only make an unreferenced
    # file LOOK referenced — i.e. keep a deletable file for one more
    # run — never delete a live one, so the compaction is safe by
    # construction (p ~ 2.7e-6 at 10M paths anyway).
    import hashlib
    from array import array
    from urllib.parse import unquote

    def _ref(rel: str) -> int:
        return int.from_bytes(
            hashlib.blake2b(rel.encode("utf-8"), digest_size=8).digest(), "big"
        )

    def _ref_log(uri: str) -> int:
        # a log path is URI-encoded; the walk below sees on-disk names
        return _ref(unquote(uri).replace("/", os.sep))

    referenced = array("Q")

    def _ref_dv(dv: dict) -> None:
        dvrel = dv_relative_path(dv)
        if dvrel:
            referenced.append(_ref(dvrel.replace("/", os.sep)))
        elif dv.get("storageType") == "p":
            # absolute-path DVs normally live OUTSIDE the table root
            # (shallow clones pointing at the source), but a DEEP clone
            # copies sidecars INSIDE its own root with 'p' storage —
            # protect those from the walk below
            ap = os.path.abspath(dv.get("pathOrInlineDv", ""))
            rootp = os.path.abspath(path)
            if ap.startswith(rootp + os.sep):
                referenced.append(_ref(os.path.relpath(ap, rootp)))

    # The referenced set is (live at latest) UNION (every path removed —
    # and every DV sidecar added — by a commit INSIDE the retention
    # window]: a file live at some retained version v < latest but not
    # at latest was removed by exactly one commit in (v, latest], and a
    # file both added and dropped within the window is covered by its
    # own remove. This replaces the old per-retained-version fold —
    # reconstructing v-1 of a 1M-file table from the JSON chain
    # materialized ~1M add dicts (+318 MB driver RSS and half the dry-run
    # wall at the SCALE.md decade); the window replay reads only the
    # retained commits' JSONs and keeps 8-byte digests.
    for rel, _ in latest.files:
        referenced.append(_ref_log(rel))
    latest_dvs = (
        latest.adds.dv_paths()
        if hasattr(latest.adds, "dv_paths")
        else [r for r, a in latest.adds.items() if a.get("deletionVector")]
    )
    for rel in latest_dvs:
        dv = (latest.adds.get(rel) or {}).get("deletionVector")
        if dv:
            _ref_dv(dv)
    # DV sidecars SUPERSEDED inside the window: a sidecar live at the
    # oldest retained version whose file gets a NEW descriptor (dv-mode
    # DML re-add) or is purged (REORG) in-window appears in NO window
    # action — removes record only the data path — yet retained-version
    # time travel still reads it. Fold that one snapshot and protect its
    # descriptors; dv_paths() is columnar (no per-add dict
    # materialization), so the cost is one log fold + O(DV'd files),
    # not the +318 MB per-version fold this replay replaced. A
    # version made unreconstructable by log cleanup is skipped — the
    # same posture the per-version fold took.
    # gated on the DECLARED feature: a table whose latest protocol never
    # declared deletionVectors cannot reference a sidecar at any version
    # (every DV commit merges the feature in and features are never
    # dropped), so the plain-parquet 10M-file decade skips this fold
    # entirely — its wall/RSS numbers are unchanged. DV tables checkpoint
    # on cadence, so the window-start fold below rides a columnar
    # checkpoint, not a full JSON materialization.
    _lat_feats = set(latest.protocol.get("readerFeatures") or ())
    if "deletionVectors" in _lat_feats and min(keep_versions) < latest.version:
        try:
            snap0 = delta_snapshot(spark, path, version=min(keep_versions))
            adds0 = snap0.adds
            dv0 = (
                adds0.dv_paths()
                if hasattr(adds0, "dv_paths")
                else [r for r, a in adds0.items() if a.get("deletionVector")]
            )
            for rel in dv0:
                dv = (adds0.get(rel) or {}).get("deletionVector")
                if dv:
                    _ref_dv(dv)
        except (FileNotFoundError, ValueError):
            pass
    from pos_dlt_spark.sources.delta import (
        _commit_actions,
        _list_compacted,
        _list_log,
    )

    commit_map = dict(_list_log(log_dir)[0])
    segments = _list_compacted(log_dir)
    seen_segments: set[str] = set()
    for v in range(min(keep_versions) + 1, latest.version + 1):
        p = commit_map.get(v)
        if p is None:
            # covered by a minor-compaction segment? removes from the
            # WHOLE overlapping segment are included (over-protection
            # only keeps extra files — never deletes a referenced one);
            # neither json nor segment = version unreconstructable, the
            # same posture the per-version fold took (FileNotFoundError
            # -> skip)
            seg = next(
                (
                    sp
                    for s0, (e0, sp) in segments.items()
                    if s0 <= v <= e0
                ),
                None,
            )
            if seg is None or seg in seen_segments:
                continue
            seen_segments.add(seg)
            p = seg
        for a in _commit_actions(p):
            if "remove" in a:
                referenced.append(_ref_log(a["remove"]["path"]))
            elif "add" in a:
                dv = a["add"].get("deletionVector")
                if dv:
                    _ref_dv(dv)
            elif "cdc" in a:
                # change-data (CDF) files of RETAINED commits stay
                # readable; those of vacuumed-out history are collected
                # with their data files
                referenced.append(_ref_log(a["cdc"]["path"]))
    # the oldest retained version's OWN commit may carry cdc files too
    p0 = commit_map.get(min(keep_versions))
    if p0 is not None:
        for a in _commit_actions(p0):
            if "cdc" in a:
                referenced.append(_ref_log(a["cdc"]["path"]))
    if len(latest.files) >= VACUUM_PARALLEL_WALK_MIN:
        deletable = _vacuum_walk_parallel(spark, path, referenced, cutoff)
    else:
        refset = set(referenced)  # <100k entries: the set is cheap here
        deletable = []
        for root, dirs, files in os.walk(path):
            rel_root = os.path.relpath(root, path)
            parts = [] if rel_root == "." else rel_root.split(os.sep)
            if any(p == "_delta_log" or p.startswith("_staging") for p in parts):
                continue
            if parts and parts[0] == "metadata":
                # UniForm Iceberg metadata dir: its delete-*.parquet
                # position-delete files are referenced by Iceberg
                # manifests, not the Delta log; uniform_expire_snapshots
                # owns their retention (hive partition dirs always
                # contain '=', so a top-level 'metadata' dir cannot be
                # data)
                continue
            for n in files:
                if not (n.endswith(".parquet") or (n.startswith("deletion_vector_") and n.endswith(".bin"))):
                    continue
                full = os.path.join(root, n)
                rel = os.path.relpath(full, path)
                if _ref(rel) not in refset and os.path.getmtime(full) < cutoff:
                    deletable.append(rel)
    if not dry_run:
        for rel in deletable:
            try:
                os.remove(os.path.join(path, rel))
            except OSError:
                pass
    return deletable


# big tables walk their directory tree EXECUTOR-side (below this many
# live files the driver walk is already sub-second and the job overhead
# would dominate)
VACUUM_PARALLEL_WALK_MIN = 100_000


def _vacuum_walk_parallel(
    spark, path: str, referenced, cutoff: float
) -> list[str]:
    """The candidate walk of :func:`delta_vacuum`, distributed: the
    driver lists ONLY the table root's immediate entries (one scandir),
    then each top-level subdirectory becomes a task that recursively
    walks its own subtree, digests every data/sidecar path it finds and
    filters against the broadcast referenced-digest array (sorted
    uint64, 8 bytes/file — the same collision-safe-by-construction set
    the sequential walk uses: a collision can only KEEP a deletable
    file, never delete a live one). Root-level files are chunked into
    name-batch tasks. Only DELETABLE relative paths stream back to the
    driver — wall rides max(subtree)/parallelism instead of total file
    count, driver RSS rides the deletable set. A 10M-file table that is
    one FLAT directory degrades to a single listing task (documented;
    real tables that large are partitioned)."""
    import numpy as np

    ref = np.sort(np.fromiter(referenced, dtype=np.uint64, count=len(referenced)))
    bc = spark.sparkContext.broadcast(ref)
    subdirs: list[str] = []
    root_files: list[str] = []
    with os.scandir(path) as it:
        for e in it:
            if e.name == "_delta_log" or e.name.startswith("_staging"):
                continue
            if e.name == "metadata" and e.is_dir(follow_symlinks=False):
                # UniForm Iceberg metadata (incl. position-delete
                # parquet): retention owned by uniform_expire_snapshots
                continue
            if e.is_dir(follow_symlinks=False):
                subdirs.append(e.name)
            else:
                root_files.append(e.name)
    chunk = 100_000
    tasks: list[tuple[str, list[str] | None]] = [
        ("", root_files[i : i + chunk]) for i in range(0, len(root_files), chunk)
    ] + [(d, None) for d in subdirs]
    if not tasks:
        return []

    def run(item):
        import hashlib as _hl

        import numpy as _np

        sub, names = item
        refs = bc.value
        nref = len(refs)
        out: list[str] = []

        def check(rel: str, full: str) -> None:
            base = os.path.basename(rel)
            if not (
                rel.endswith(".parquet")
                or (base.startswith("deletion_vector_") and rel.endswith(".bin"))
            ):
                return
            d = int.from_bytes(
                _hl.blake2b(rel.encode("utf-8"), digest_size=8).digest(), "big"
            )
            i = int(_np.searchsorted(refs, _np.uint64(d)))
            if i < nref and int(refs[i]) == d:
                return  # referenced: keep
            try:
                if os.path.getmtime(full) < cutoff:
                    out.append(rel)
            except OSError:
                pass  # raced away: nothing to delete

        if names is not None:
            for n in names:
                check(n, os.path.join(path, n))
        else:
            for root, dirs, files in os.walk(os.path.join(path, sub)):
                dirs[:] = [
                    d for d in dirs
                    if d != "_delta_log" and not d.startswith("_staging")
                ]
                for n in files:
                    full = os.path.join(root, n)
                    check(os.path.relpath(full, path), full)
        return out

    return [
        rel
        for part in spark.sparkContext.parallelize(tasks, len(tasks)).map(run).collect()
        for rel in part
    ]


def _encode_dv_groups(spark, snap, path: str, matches: DataFrame):
    """Roaring deletion-vector bitmaps for the matched ``(__fid, __ri)``
    rows, built EXECUTOR-SIDE: matched row indices group per file (one
    shuffle on the file id), each group unions with the file's prior DV
    and encodes there; the driver collects only (file, compressed
    bytes, newly-deleted count) — driver memory rides bitmap size, never
    row count (the read path's bound, symmetric on the write path). A
    predicate concentrating hundreds of millions of rows in ONE file
    strains that file's single executor group and belongs in
    ``mode='rewrite'``, which stays fully distributed. Shared by every
    DV-producing DML (:func:`_apply_and_commit`, replaceWhere)."""
    import numpy as np

    from pos_dlt_spark.sources.dv import (
        decode_dv_numpy,
        encode_dv_bitmap_np,
        read_dv_bytes,
    )

    prior_blobs: dict[int, bytes] = {}
    for fid, (rel, _pv) in enumerate(snap.files):
        dvd = snap.adds[rel].get("deletionVector")
        if dvd:
            prior_blobs[fid] = read_dv_bytes(path, dvd)
    bc_prior = spark.sparkContext.broadcast(prior_blobs)

    def _encode_group(pdf):
        import pandas as pd

        fid = int(pdf["__fid"].iloc[0])
        new_idx = np.unique(pdf["__ri"].to_numpy(dtype="int64"))
        prior_bytes = bc_prior.value.get(fid)
        if prior_bytes is not None:
            prior_arr = decode_dv_numpy(prior_bytes)
            n_new = int(
                len(new_idx) - np.isin(new_idx, prior_arr, assume_unique=True).sum()
            )
            union = np.union1d(new_idx, prior_arr)
        else:
            n_new, union = len(new_idx), new_idx
        return pd.DataFrame(
            {"__fid": [fid], "dv": [encode_dv_bitmap_np(union)], "n_new": [n_new]}
        )

    return (
        matches.select("__fid", "__ri")
        .groupBy("__fid")
        .applyInPandas(_encode_group, schema="__fid int, dv binary, n_new long")
        .collect()
    )


def _dv_readd_actions(snap, path: str, rows, inline_threshold: int) -> list[dict]:
    """The commit shape of every DV-producing DML for the encoded groups:
    the protocol declaring deletionVectors, then per file a remove +
    re-add of the same path with the updated DV descriptor (a sidecar
    file is minted here when the bitmap exceeds ``inline_threshold``).
    Empty for no groups."""
    from pos_dlt_spark.sources.dv import bitmap_cardinality, make_dv_descriptor_bytes

    if not rows:
        return []
    actions: list[dict] = [
        _merged_protocol(snap.protocol, ("deletionVectors",), ("deletionVectors",))
    ]
    for rel, data in sorted((snap.files[r["__fid"]][0], bytes(r["dv"])) for r in rows):
        add = dict(snap.adds[rel])
        add["deletionVector"] = make_dv_descriptor_bytes(
            path, data, bitmap_cardinality(data), inline_threshold=inline_threshold
        )
        # the prior add may carry dataChange=false (OPTIMIZE/compaction
        # re-adds); this re-add IS a DML row change — streaming replay
        # and derived CDF key on dataChange, so a verbatim copy would
        # hide the commit's row changes from them (spec: DML re-adds
        # carry dataChange=true, matching the paired remove)
        add["dataChange"] = True
        actions.append(
            fx.remove_action(rel, size=(snap.adds.get(rel) or {}).get("size"))
        )
        actions.append({"add": add})
    return actions


def _staged_hwms(schema, physical_names: dict, adds: list[dict]) -> dict[str, int]:
    """BY DEFAULT identity columns of ``schema`` whose staged values pass
    the declared watermark: the new watermark per column, from the staged
    files' footer stats (the column is primitive — stats are exact)."""
    hwms: dict[str, int] = {}
    for name, spec in _identity_spec(schema).items():
        phys = physical_names.get(name, name)
        cand = _hwm_candidate(spec, [a["add"].get("stats") for a in adds], phys)
        if cand is not None:
            hwms[name] = cand
    return hwms


def _identity_hwm_actions(
    snap: DeltaSnapshot, adds: list[dict], schema=None
) -> list[dict]:
    """The commit's metaData action: ``schema`` (a write's evolved
    schema; the table's when None) with each identity column's watermark
    advanced past every staged value, so a later assigning append can
    never collide. Empty when there is no new schema and no staged value
    passes a watermark."""
    base = snap.schema if schema is None else schema
    hwms = _staged_hwms(base, snap.physical_names, adds)
    if schema is None and not hwms:
        return []
    return [
        fx.metadata_action(
            _schema_with_hwm(base, hwms),
            partition_columns=snap.partition_columns,
            table_id=snap.table_id,
            configuration=snap.configuration or None,
        )
    ]


@dataclass
class _DmlPlan:
    """What one attempt of a data-staging write changes, as its verb
    derives it from the attempt's snapshot; :func:`_apply_and_commit`
    stages and commits it.

    - ``new_rows``: rows for fresh data files (logical column names; on
      a row-tracking table plus the materialized row-id columns);
    - ``removes``: files removed whole;
    - ``dv_losers``: ``(__fid, __ri)`` rows to deletion-vector in place
      (dv mode);
    - ``changes``: change-feed rows (table columns + ``_change_type``);
    - ``staged``: actions the verb staged itself, committed as they are
      (fresh adds; an add carrying a deletion vector re-adds an existing
      file). After a lost race the core keeps those the next attempt's
      plan hands back and removes the rest; a write that ends without
      committing them removes them all;
    - ``data_change``: the commit's ``dataChange`` flag on its removes
      and new-row adds — False for a rewrite that changes no rows
      (OPTIMIZE, REORG), which a ``delta.appendOnly`` table allows;
    - ``schema``: a new metaData schema (``merge_schema`` evolution);
      the core stamps the identity watermarks onto it;
    - ``checks``: raise after the staging job (generated columns, CHECK
      constraints, a caller's precommit); None entries are skipped;
    - ``release``: frees a frozen frame once everything is staged;
    - ``rows``: the row count to report; None reports the rows the
      deletion vectors newly delete."""

    new_rows: DataFrame | None = None
    removes: list[str] = field(default_factory=list)
    dv_losers: DataFrame | None = None
    changes: DataFrame | None = None
    staged: list[dict] = field(default_factory=list)
    data_change: bool = True
    schema: StructType | None = None
    checks: tuple = ()
    release: Callable[[], object] | None = None
    rows: int | None = None


def _apply_and_commit(
    spark,
    path: str,
    op: str,
    params: dict,
    plan_fn: Callable[[DeltaSnapshot, bool], _DmlPlan | None],
    mode: str = "rewrite",
    write_change_files: bool = True,
    txn: tuple[str, int] | None = None,
    checkpoint_interval: int = 10,
    max_retries: int = 3,
    inline_threshold: int = 512,
    checkpoint_format: str = "classic",
) -> tuple[int, int]:
    """The one commit core of every Delta write that stages data files:
    WRITE (append, overwrite, replaceWhere), DELETE, UPDATE, MERGE,
    OPTIMIZE and REORG. Every attempt folds a fresh snapshot and asks
    ``plan_fn(snap, want_changes)`` for the attempt's :class:`_DmlPlan`
    (None: nothing to do), then:

    1. guards, before anything is staged: the mode, the writer
       features, the ``write_change_files`` refusals, ``txn``
       idempotence; after matching, an append-only table refuses a
       data-changing plan that removes or deletion-vectors existing rows;
    2. dv mode encodes the losers' bitmaps executor-side; a
       deletion-vector plan that newly deletes no row and writes or
       removes nothing else commits nothing;
    3. stages the new rows and runs the plan's checks, stages the change
       rows, and releases the plan's frozen frame;
    4. commits commitInfo, txn, the metaData (new schema and identity
       watermarks), the cdc files, the DV re-adds, the removes, the
       verb-staged actions, the adds and the row-tracking watermark as
       ``snap.version + 1`` (put-if-absent), then checkpoints on the
       cadence and syncs UniForm.

    Whatever an attempt staged is removed when it fails or loses the
    commit race (staged adds, cdc files, DV sidecars minted this
    attempt); a lost race then re-runs the whole attempt against the new
    snapshot — never a replay of the stale result, which could resurrect
    overwritten rows. The verb's ``plan_fn`` owns its lost-race policy:
    re-derive, hand back what it staged, or raise. After ``max_retries``
    lost races :class:`DeltaCommitConflict` raises.

    Returns ``(version, rows)`` — ``plan.rows``, or the newly
    deletion-vectored row count when the plan leaves it None; a no-op
    returns the current version and 0."""
    from pos_dlt_spark.sources import delta_rowtracking as rtm
    from pos_dlt_spark.sources.delta import DeltaProtocolError
    from pos_dlt_spark.sources.delta_cdf import cdf_enabled, stage_change_files

    if mode not in ("dv", "rewrite"):
        raise ValueError(f"mode must be dv|rewrite, got {mode!r}")
    if not write_change_files and mode == "dv":
        raise ValueError(
            "write_change_files=False (merge-on-read CDF) requires "
            "mode='rewrite': the derived feed does not classify "
            f"DV-{op.lower()} commit shapes"
        )
    held: list[dict] = []  # verb-staged actions not committed yet
    try:
        for _attempt in range(max(max_retries, 1)):
            snap = delta_snapshot(spark, path)
            _writer_supports(snap)
            rt_on = rtm.row_tracking_enabled(snap.configuration)
            if not rt_on and not write_change_files:
                raise ValueError(
                    "write_change_files=False needs row tracking: without stable "
                    "row ids the change feed cannot derive update pairs"
                )
            if txn is not None and snap.txns.get(txn[0], -1) >= txn[1]:
                return snap.version, 0  # batch already applied: replay skipped
            plan = plan_fn(snap, cdf_enabled(snap) and write_change_files)
            if plan is None:
                return snap.version, 0
            kept = {id(a) for a in plan.staged}
            _discard_staged(path, [a for a in held if id(a) not in kept])
            held = plan.staged
            version = snap.version + 1
            part_by = _physical_partition_by(snap)
            staged: list[dict] = []
            try:
                try:
                    if (
                        plan.data_change
                        and _append_only(snap.configuration)
                        and (plan.removes or plan.dv_losers is not None)
                    ):
                        raise DeltaProtocolError(
                            f"table is delta.appendOnly: {op} would change "
                            "existing rows (only pure inserts are allowed)"
                        )
                    dv_rows = (
                        _encode_dv_groups(spark, snap, path, plan.dv_losers)
                        if plan.dv_losers is not None
                        else []
                    )
                    n_dv = sum(int(r["n_new"]) for r in dv_rows)
                    if plan.dv_losers is not None and not (
                        n_dv or plan.new_rows is not None or plan.removes
                    ):
                        return snap.version, 0  # nothing matched, or all dead already
                    adds: list[dict] = []
                    if plan.new_rows is not None:
                        adds = _stage_and_move(
                            _to_physical(plan.new_rows, snap), path, part_by
                        )
                        staged += adds
                        for a in adds:
                            a["add"]["dataChange"] = plan.data_change
                    for check in plan.checks:
                        if check is not None:
                            check()
                    cdc: list[dict] = []
                    if plan.changes is not None:
                        # change files carry PHYSICAL column names under column
                        # mapping, like data files; _change_type is unmapped
                        cdc = stage_change_files(
                            _to_physical(plan.changes, snap), path, part_by
                        )
                        staged += cdc
                finally:
                    if plan.release is not None:
                        plan.release()
                dv_actions = _dv_readd_actions(snap, path, dv_rows, inline_threshold)
                staged += dv_actions
                fresh = adds + [
                    a for a in plan.staged
                    if "add" in a and not a["add"].get("deletionVector")
                ]
                actions = [fx.commit_info_action(op, params)]
                if txn is not None:
                    actions.append(fx.txn_action(txn[0], txn[1]))
                actions += _identity_hwm_actions(snap, fresh, plan.schema)
                actions += cdc + dv_actions
                actions += [
                    fx.remove_action(
                        rel, data_change=plan.data_change,
                        size=(snap.adds.get(rel) or {}).get("size"),
                    )
                    for rel in plan.removes
                ]
                actions += plan.staged + adds
                if rt_on and (plan.new_rows is not None or plan.dv_losers is None):
                    # every plan that can add files stamps fresh row ids
                    # on them (a lost race re-stamps) and carries the
                    # watermark; a pure deletion-vector plan adds none
                    actions.append(
                        rtm.hwm_action(
                            rtm.assign_base_row_ids(
                                fresh, version, rtm.row_id_high_water_mark(snap)
                            )
                        )
                    )
                committed = _try_commit(
                    os.path.join(path, "_delta_log"), version, actions,
                    conf=snap.configuration,
                )
            except BaseException:
                _discard_staged(path, staged)
                raise
            if committed:
                held = []
                _maybe_checkpoint(
                    spark, path, version, checkpoint_interval, checkpoint_format
                )
                _uniform_after_commit(spark, path, snap.configuration)
                return version, n_dv if plan.rows is None else plan.rows
            _discard_staged(path, staged)
        raise DeltaCommitConflict(
            f"version {version} was committed concurrently and retries "
            f"are exhausted; {op.lower()} must re-run against the new snapshot"
        )
    finally:
        _discard_staged(path, held)


def _stats_candidates(snap: DeltaSnapshot, predicate: str) -> DeltaSnapshot:
    """The snapshot cut to the files whose log stats cannot exclude a
    match of ``predicate`` (see :func:`_skipping_predicates`)."""
    from pos_dlt_spark.sources.delta import skip_files

    preds = _skipping_predicates(predicate)
    return skip_files(snap, preds)[0] if preds else snap


def _match_scan(spark, snap: DeltaSnapshot, predicate: str):
    """The DML match scan: ``(matches, candidates)`` — the ``(__fid,
    __ri)`` of every PHYSICAL row matching ``predicate`` (rows a DV
    already deleted included), over the files of the
    :func:`_stats_candidates` snapshot; ``__fid`` indexes ``snap.files``.
    ``(None, candidates)`` when the stats exclude every file: no scan
    task is scheduled."""
    from pyspark.sql import functions as F

    from pos_dlt_spark.sources.delta import scan_rels

    cand = _stats_candidates(snap, predicate)
    if not cand.files:
        return None, cand
    scan = scan_rels(spark, snap, [rel for rel, _ in cand.files], with_meta=True)
    return scan.filter(F.expr(predicate)).select("__fid", "__ri"), cand


def _hit_files(snap: DeltaSnapshot, matches: DataFrame) -> list[str]:
    """The sorted live rels holding >= 1 of the match scan's rows."""
    return sorted(
        snap.files[r["__fid"]][0] for r in matches.select("__fid").distinct().collect()
    )


def delta_delete(
    spark,
    path: str,
    predicate: str,
    mode: str = "dv",
    inline_threshold: int = 512,
    checkpoint_interval: int = 10,
    max_retries: int = 3,
) -> tuple[int, int]:
    """DELETE rows matching the SQL ``predicate`` — the operation that
    makes real-world tables carry deletion vectors.

    ``mode='dv'`` (default, delta's modern path): NO data file is
    rewritten. Matching rows' file-absolute indices are computed in one
    distributed scan (``_metadata.row_index``), encoded as roaring-bitmap
    deletion vectors (sources/dv.py — inline below ``inline_threshold``
    serialized bytes, a ``deletion_vector_<uuid>.bin`` sidecar above),
    and the commit re-adds each affected file with its descriptor
    (remove + add of the same path, protocol upgraded to
    readerFeatures=[deletionVectors]). A file already carrying a DV gets
    the UNION of old and new indices. At 100 TB this is the difference
    between rewriting terabytes and writing kilobytes of bitmap.

    ``mode='rewrite'`` (classic copy-on-write): affected files are
    rewritten without the matching rows; no DV machinery involved.

    The bitmaps are built EXECUTOR-SIDE (matched indices shuffle to one
    group per file, union with the prior DV, encode there); the driver
    collects only the COMPRESSED bitmap bytes per touched file — driver
    memory rides bitmap size, never deleted-row count, symmetric with
    the read path. A delete concentrating hundreds of millions of rows
    in ONE file strains that file's single executor group and belongs
    in ``mode='rewrite'``, which stays fully distributed.

    With CDF enabled the commit carries ``delete`` change files: the
    live rows (prior DVs applied — already-dead rows are not deleted
    again) of the touched files that match the predicate.

    Returns ``(committed version, rows deleted)``. A lost commit race is
    ABSORBED: staged files (rewrites, cdc, fresh DV sidecars) are
    removed and the whole DELETE re-runs on the fresh snapshot (see
    :func:`_apply_and_commit`), so multi-writer callers never see an
    exception a platform runtime would have retried for them. After
    ``max_retries`` lost races :class:`DeltaCommitConflict` raises."""

    def plan(snap: DeltaSnapshot, want_changes: bool) -> _DmlPlan | None:
        from pyspark.sql import functions as F

        from pos_dlt_spark.sources import delta_rowtracking as rtm
        from pos_dlt_spark.sources.delta import scan_live_rows
        from pos_dlt_spark.sources.delta_cdf import CHANGE_TYPE

        if not snap.files:
            return None
        matches, cand = _match_scan(spark, snap, predicate)
        if matches is None:
            return None
        hit = F.coalesce(F.expr(predicate), F.lit(False))
        if mode == "dv":
            plan = _DmlPlan(dv_losers=matches)
            gone = scan_live_rows(spark, cand).filter(hit) if want_changes else None
        else:
            # classic copy-on-write: rewrite each file that has >=1 match,
            # keeping only non-matching rows; a file left without rows is
            # removed with no replacement add
            hit_rels = _hit_files(snap, matches)
            if not hit_rels:
                return None
            rt_on = rtm.row_tracking_enabled(snap.configuration)
            # ROW TRACKING: the rewrite materializes surviving rows'
            # resolved ids so they stay stable across the copy
            old = (
                rtm.scan_with_row_ids(spark, snap, hit_rels)
                if rt_on
                else scan_live_rows(spark, snap, hit_rels)
            )
            keep = old.filter(~hit)
            gone = old.filter(hit)
            plan = _DmlPlan(
                new_rows=rtm.to_materialized(keep, snap) if rt_on else keep,
                removes=hit_rels,
                rows=gone.count(),
            )
        if want_changes:
            cols = [f.name for f in snap.schema.fields]
            plan.changes = gone.select(*cols).withColumn(CHANGE_TYPE, F.lit("delete"))
        return plan

    return _apply_and_commit(
        spark, path, "DELETE", {"predicate": predicate, "mode": mode}, plan,
        mode=mode, checkpoint_interval=checkpoint_interval,
        max_retries=max_retries, inline_threshold=inline_threshold,
    )


def _skipping_predicates(predicate: str) -> list[tuple[str, str, object]]:
    """Extract stats-skippable conjuncts from a SQL predicate string —
    the DML-side half of data skipping (delta's DataSkippingReader does
    the same conversion): DELETE/UPDATE prune provably-disjoint files
    from the log's per-file min/max BEFORE scheduling any scan task,
    which at 100 TB is the difference between a full-table match scan
    and touching the dozen files that can match. STRICTLY conservative:
    only top-AND-level conjuncts of the shapes ``col <cmp> literal``,
    ``col BETWEEN lit AND lit`` and ``col IN (lit, ...)`` contribute;
    any OR / NOT / function / non-literal makes that conjunct (or the
    whole predicate) contribute nothing, so pruning can only drop files
    the real filter — which still runs — could never match."""
    import re

    s = predicate.strip()
    if re.search(r"(?i)(?<![a-z0-9_])(or|not)(?![a-z0-9_])", s):
        return []

    def lit(tok: str):
        tok = tok.strip()
        m = re.fullmatch(r"'((?:[^']|'')*)'", tok)
        if m:
            return m.group(1).replace("''", "'")
        try:
            return int(tok)
        except ValueError:
            try:
                return float(tok)
            except ValueError:
                return None

    out: list[tuple[str, str, object]] = []

    # split on top-level AND, re-joining the AND that belongs to a
    # BETWEEN (its bounds are separated by the same keyword). The
    # BETWEEN shape is then accepted ONLY when the WHOLE conjunct
    # fullmatches `col BETWEEN lit AND lit` — an unanchored rewrite
    # would attribute `a + b BETWEEN 1 AND 2`'s bounds to the trailing
    # bare identifier and prune files that can contain real matches.
    _LIT = r"'(?:[^']|'')*'|[^\s()']+"
    parts = re.split(r"(?i)\s+and\s+", s)
    conjs: list[str] = []
    i = 0
    while i < len(parts):
        p = parts[i]
        if (
            re.search(r"(?i)(?<![a-z0-9_])between(?![a-z0-9_])", p)
            and i + 1 < len(parts)
        ):
            p = p + " AND " + parts[i + 1]
            i += 2
        else:
            i += 1
        conjs.append(p.strip())
    for conj in conjs:
        while conj.startswith("(") and conj.endswith(")"):
            conj = conj[1:-1].strip()
        m = re.fullmatch(
            rf"(?i)([A-Za-z_]\w*)\s+between\s+({_LIT})\s+and\s+({_LIT})", conj
        )
        if m:
            a, b = lit(m.group(2)), lit(m.group(3))
            if a is not None and b is not None:
                out.append((m.group(1), ">=", a))
                out.append((m.group(1), "<=", b))
            continue
        if re.search(r"(?i)(?<![a-z0-9_])between(?![a-z0-9_])", conj):
            continue  # non-simple BETWEEN conjunct: contributes nothing
        m = re.fullmatch(r"([A-Za-z_]\w*)\s*(==|=|<=|>=|<|>)\s*(.+)", conj)
        if m:
            v = lit(m.group(3))
            if v is not None:
                out.append((m.group(1), "=" if m.group(2) == "==" else m.group(2), v))
            continue
        m = re.fullmatch(r"(?i)([A-Za-z_]\w*)\s+in\s*\(([^()]*)\)", conj)
        if m:
            vals = [lit(t) for t in m.group(2).split(",")]
            if vals and all(v is not None for v in vals):
                out.append((m.group(1), "in", vals))
    return out


def delta_update(
    spark,
    path: str,
    predicate: str,
    set_exprs: dict[str, str],
    checkpoint_interval: int = 10,
    max_retries: int = 3,
    write_change_files: bool = True,
    mode: str = "rewrite",
    inline_threshold: int = 512,
) -> tuple[int, int]:
    """UPDATE rows matching the SQL ``predicate``, assigning each column
    in ``set_exprs`` its SQL expression — classic copy-on-write: only
    files holding >=1 match are rewritten (stats-equivalent pruning via
    the same matched-file scan DELETE uses), untouched files stay. SET
    expressions see the OLD row (standard UPDATE semantics — all
    assignments evaluate simultaneously against the pre-update values).
    Updating a partition column moves rows across partition directories
    naturally (the rewrite re-partitions by the table's layout).

    Generated columns not explicitly assigned are RECOMPUTED on the
    updated rows (their bases may have changed); explicitly assigned
    ones are validated row-by-row like every write. CHECK constraints
    apply to the updated rows. With CDF enabled the commit carries
    ``update_preimage``/``update_postimage`` change files —
    ``write_change_files=False`` (row-tracking tables only) skips them
    and the change feed derives the pairs MERGE-ON-READ by joining old
    and new file contents on the stable row id (delta_cdf.
    rt_rewrite_frames): the 100 TB answer to change-file write
    amplification on wide updates.

    ``mode='dv'`` is MERGE-ON-READ UPDATE (what modern engines do for
    narrow updates over huge files): NO untouched row is rewritten —
    matched rows are deletion-vectored in place in their ORIGINAL files
    (roaring bitmaps, built executor-side exactly like dv-mode DELETE)
    and only the UPDATED rows land in new files. Updating 0.1% of the
    rows of a 100 TB table writes kilobytes of bitmap plus the changed
    rows instead of rewriting every touched file. Row-tracking tables
    keep each updated row's id via the materialized columns (the row
    moves files, the id doesn't). CDF change files work as in rewrite
    mode; ``write_change_files=False`` requires ``mode='rewrite'`` (the
    derived feed does not classify DV-update commit shapes).

    Returns ``(committed version, rows updated)``. A lost commit race is
    ABSORBED: staged files (rewrites + cdc + fresh DV sidecars) are
    removed and the whole UPDATE re-runs on the fresh snapshot — the
    same retry discipline MERGE and DELETE have (see
    :func:`_apply_and_commit`). After ``max_retries`` lost races
    :class:`DeltaCommitConflict` raises."""

    def plan(snap: DeltaSnapshot, want_changes: bool) -> _DmlPlan | None:
        from pyspark.sql import functions as F

        from pos_dlt_spark.sources import delta_rowtracking as rtm
        from pos_dlt_spark.sources.delta import DeltaProtocolError, scan_live_rows
        from pos_dlt_spark.sources.delta_cdf import CHANGE_TYPE

        field_names = [f.name for f in snap.schema.fields]
        unknown = sorted(set(set_exprs) - set(field_names))
        if unknown:
            raise ValueError(f"SET assigns columns not in the table schema: {unknown}")
        if not set_exprs:
            raise ValueError("SET is empty: nothing to update")
        _ident_always = [
            n for n, s in _identity_spec(snap.schema).items()
            if n in set_exprs and not s["allowExplicitInsert"]
        ]
        if _ident_always:
            raise DeltaProtocolError(
                f"UPDATE cannot SET GENERATED ALWAYS identity column(s) "
                f"{_ident_always}"
            )
        if not snap.files:
            return None
        matches, _cand = _match_scan(spark, snap, predicate)
        if matches is None:
            return None
        hit_rels = _hit_files(snap, matches)
        if not hit_rels:
            return None

        # live rows of the touched files (prior DVs applied — dead rows are
        # neither updated nor carried into the rewrite). On a ROW-TRACKING
        # table the scan resolves each row's id/commit-version so the
        # rewrite can materialize them: carried rows keep both, updated rows
        # keep their id and take THIS commit's version (the spec's
        # stable-id / last-update-version contract).
        rt_on = rtm.row_tracking_enabled(snap.configuration)
        rt_cols = [rtm.ROW_ID_COL, rtm.ROW_VER_COL] if rt_on else []
        keep_meta = mode == "dv"  # dv mode needs each match's (__fid, __ri)
        if rt_on:
            old = rtm.scan_with_row_ids(spark, snap, hit_rels, with_meta=keep_meta)
        else:
            old = scan_live_rows(spark, snap, hit_rels, with_meta=keep_meta)
        hit = F.coalesce(F.expr(predicate), F.lit(False))
        upd_src = old.filter(hit)
        if mode == "dv":
            # dv mode consumes the matched rows TWICE (stage the updated
            # copies; DV the originals via (__fid, __ri)) — freeze them once
            # so non-deterministic SET expressions or sources cannot make
            # the two lineages disagree (ADVICE r08). Scope: matched rows.
            upd_src = upd_src.localCheckpoint(eager=True)
        n_updated = upd_src.count()
        if n_updated == 0:
            # files matched on the raw scan but every match was DV-dead
            return None
        upd_old = upd_src.select(*field_names, *rt_cols)
        # one simultaneous projection: every RHS sees the OLD row
        upd_new = upd_old.select(
            *[
                F.expr(set_exprs[c]).alias(c) if c in set_exprs else F.col(f"`{c}`")
                for c in field_names
            ],
            *(
                [
                    F.col(rtm.ROW_ID_COL),
                    F.lit(snap.version + 1).cast("bigint").alias(rtm.ROW_VER_COL),
                ]
                if rt_on
                else []
            ),
        )
        # generated columns whose bases may have moved: recompute unless the
        # caller assigned them explicitly (then validate, like any write)
        gens = _generation_exprs(snap.schema)
        recompute = [g for g in gens if g not in set_exprs]
        if recompute:
            upd_new = upd_new.drop(*recompute)
        upd_new, check_generated = _generated(upd_new, snap.schema)
        upd_new, check_constraints = _constrained(upd_new, snap.configuration)
        # cast SET results to the TABLE's column types: a literal like 0.0
        # is DECIMAL(1,1) and would otherwise stage a decimal-typed file
        # into a double column — rewrite mode happened to coerce via the
        # union with kept rows, dv mode stages the updated rows ALONE and
        # must pin the types itself (ANSI mode errors on lossy casts)
        tbl_types = {f.name: f.dataType for f in snap.schema.fields}
        upd_new = upd_new.select(
            *[F.col(f"`{c}`").cast(tbl_types[c]).alias(c) for c in field_names],
            *rt_cols,
        )

        if mode == "dv":
            # untouched rows stay in their original files behind the DV;
            # only the updated rows' new versions land in fresh files
            new_data = upd_new
        else:
            new_data = old.filter(~hit).select(*field_names, *rt_cols).unionByName(
                upd_new
            )
        changes = None
        if want_changes:
            # change files carry the TABLE schema only — rt helper columns out
            changes = upd_old.select(*field_names).withColumn(
                CHANGE_TYPE, F.lit("update_preimage")
            ).unionByName(
                upd_new.select(*field_names).withColumn(
                    CHANGE_TYPE, F.lit("update_postimage")
                )
            )
        return _DmlPlan(
            # rt ids land in the table's materialized physical columns
            new_rows=rtm.to_materialized(new_data, snap) if rt_on else new_data,
            removes=hit_rels if mode == "rewrite" else [],
            dv_losers=upd_src.select("__fid", "__ri") if mode == "dv" else None,
            changes=changes,
            checks=(check_generated, check_constraints),
            rows=n_updated,
        )

    return _apply_and_commit(
        spark, path, "UPDATE",
        {"predicate": predicate, "set": dict(sorted(set_exprs.items()))}, plan,
        mode=mode, write_change_files=write_change_files,
        checkpoint_interval=checkpoint_interval, max_retries=max_retries,
        inline_threshold=inline_threshold,
    )


def delta_reorg_purge(
    spark, path: str, checkpoint_interval: int = 10
) -> tuple[int, int]:
    """REORG TABLE ... APPLY (PURGE): rewrite every file carrying a
    deletion vector into clean files with the dead rows physically
    dropped — the maintenance companion to ``delta_delete(mode='dv')``.
    Both the removes and the replacement adds commit with
    ``dataChange=false`` (the logical rows are unchanged — streaming
    replay and CDF ignore the commit, exactly like OPTIMIZE); a later
    VACUUM collects the purged files and their DV sidecars. Files whose
    DV kills every row are removed without a replacement.

    Commits through :func:`_apply_and_commit`: a lost commit race
    removes this attempt's staged files and re-plans against the fresh
    snapshot, re-reading its DV files (as DELETE does).

    Returns ``(committed version, files purged)`` — ``(version, 0)``
    without a commit when no live file carries a DV."""
    params = {"applyPurge": True, "files": 0}

    def plan(snap: DeltaSnapshot, _want_changes: bool) -> _DmlPlan | None:
        from pos_dlt_spark.sources import delta_rowtracking as rtm
        from pos_dlt_spark.sources.delta import scan_live_rows

        dv_rels = sorted(
            rel for rel, _ in snap.files
            if snap.adds.get(rel, {}).get("deletionVector")
        )
        if not dv_rels:
            return None
        if rtm.row_tracking_enabled(snap.configuration):
            live = rtm.to_materialized(rtm.scan_with_row_ids(spark, snap, dv_rels), snap)
        else:
            live = scan_live_rows(spark, snap, dv_rels)
        params["files"] = len(dv_rels)
        return _DmlPlan(
            new_rows=live, removes=dv_rels, data_change=False, rows=len(dv_rels)
        )

    return _apply_and_commit(
        spark, path, "REORG", params, plan, checkpoint_interval=checkpoint_interval
    )


def _column_referenced(name: str, snap: DeltaSnapshot) -> list[str]:
    """CHECK constraints / generation expressions that mention ``name``
    as a standalone identifier — conservative word-boundary scan; a hit
    refuses the ALTER (renaming or dropping a referenced column would
    silently break the invariant for every later writer)."""
    import re

    pat = re.compile(
        rf"(?<![A-Za-z0-9_]){re.escape(name)}(?![A-Za-z0-9_])", re.IGNORECASE
    )
    hits = []
    for cname, expr in _table_constraints(snap.configuration).items():
        if pat.search(expr):
            hits.append(f"CHECK constraint '{cname}': {expr}")
    for gname, expr in _generation_exprs(snap.schema).items():
        if pat.search(expr):
            hits.append(f"generated column '{gname}': {expr}")
    return hits


def _commit_metadata_change(
    spark,
    path: str,
    snap: DeltaSnapshot,
    schema,
    configuration: dict[str, str],
    partition_columns: list[str],
    operation: str,
    params: dict,
    extra_actions: list[dict] | None = None,
    checkpoint_interval: int = 10,
) -> int:
    """One metadata-only commit (no data files touched): the new
    metaData action — same table id, evolved schema/configuration — plus
    optional protocol actions. Shared by the ALTER TABLE family."""
    actions = (
        [fx.commit_info_action(operation, params)]
        + list(extra_actions or [])
        + [
            fx.metadata_action(
                schema,
                partition_columns=partition_columns,
                table_id=snap.table_id,
                configuration=configuration,
            )
        ]
    )
    from pos_dlt_spark.sources import iceberg_uniform as uf

    if uf.uniform_enabled(configuration):
        # validate BEFORE the commit — both the SET TBLPROPERTIES that
        # ENABLES uniform and any schema evolution on an already-enabled
        # table (e.g. adding a nested column with no Iceberg rendering)
        # must refuse while the table is still untouched
        uf.refuse_unsupported_uniform(configuration, schema, partition_columns)
    version = snap.version + 1
    if not _try_commit(
        os.path.join(path, "_delta_log"), version, actions,
        conf=snap.configuration,
    ):
        raise DeltaCommitConflict(
            f"version {version} committed concurrently; re-run the ALTER"
        )
    _maybe_checkpoint(spark, path, version, checkpoint_interval)
    # UniForm: schema/property ALTERs re-emit the Iceberg metadata in
    # the same call (schema changes append an evolved schema-id there)
    _uniform_after_commit(spark, path, configuration)
    return version


def delta_alter_add_column(
    spark,
    path: str,
    name: str,
    data_type,
    comment: str | None = None,
    checkpoint_interval: int = 10,
) -> int:
    """ALTER TABLE ... ADD COLUMN — metadata-only: existing files simply
    lack the column and every pinned-schema scan surfaces it as NULL
    (the protocol's schema-evolution contract; no file is rewritten).
    Under column mapping the new column mints a fresh physical name and
    field id (``delta.columnMapping.maxColumnId`` + 1), so it can never
    collide with a column that ever existed before. ``data_type`` is a
    Spark DataType or a DDL string (``'string'``, ``'decimal(10,2)'``).
    Returns the committed version."""
    from pyspark.sql.types import DataType, StructField, StructType

    snap = delta_snapshot(spark, path)
    _writer_supports(snap)
    if name in {f.name for f in snap.schema.fields}:
        raise ValueError(f"column {name!r} already exists")
    if isinstance(data_type, DataType):
        dt = data_type
    else:
        dt = StructType.fromDDL(f"`{name}` {data_type}").fields[0].dataType
    md: dict = {}
    if comment is not None:
        md["comment"] = comment
    conf = dict(snap.configuration)
    if snap.column_mapping != "none":
        known = list(snap.field_ids.values()) or [0]
        next_id = max(
            int(conf.get("delta.columnMapping.maxColumnId") or 0), max(known)
        ) + 1
        md["delta.columnMapping.id"] = next_id
        md["delta.columnMapping.physicalName"] = f"col-{uuid.uuid4()}"
        conf["delta.columnMapping.maxColumnId"] = str(next_id)
    schema = StructType(
        list(snap.schema.fields) + [StructField(name, dt, True, md)]
    )
    extra = None
    if _has_variant(StructType([StructField(name, dt)])):
        # first variant column on the table: declare the reader-writer
        # feature (readers without the shredded-binary codec must refuse)
        extra = [
            _merged_protocol(snap.protocol, ("variantType",), ("variantType",))
        ]
    return _commit_metadata_change(
        spark, path, snap, schema, conf, snap.partition_columns,
        "ADD COLUMNS", {"column": name, "type": dt.simpleString()},
        extra_actions=extra, checkpoint_interval=checkpoint_interval,
    )


def delta_alter_cluster_by(
    spark, path: str, cluster_by: list[str], checkpoint_interval: int = 10
) -> int:
    """ALTER TABLE ... CLUSTER BY — one metadata commit swapping the
    ``delta.clustering`` domain (and declaring the clustering +
    domainMetadata writer features on first use). ``[]`` is CLUSTER BY
    NONE. Existing files re-cluster lazily at the next OPTIMIZE, exactly
    the documented ALTER semantics — no data is rewritten here."""
    from pos_dlt_spark.sources import delta_clustering as cl

    snap = delta_snapshot(spark, path)
    _writer_supports(snap)
    if cluster_by:
        cl.validate_cluster_by(cluster_by, snap.schema, snap.partition_columns)
    phys = [snap.physical_names.get(c, c) for c in cluster_by]
    extra = [
        _merged_protocol(snap.protocol, (), ("clustering", "domainMetadata")),
        cl.clustering_domain_action(phys),
    ]
    return _commit_metadata_change(
        spark, path, snap, snap.schema, dict(snap.configuration),
        snap.partition_columns, "CLUSTER BY", {"clusterBy": list(cluster_by)},
        extra_actions=extra, checkpoint_interval=checkpoint_interval,
    )


def delta_alter_rename_column(
    spark, path: str, old: str, new: str, checkpoint_interval: int = 10
) -> int:
    """ALTER TABLE ... RENAME COLUMN — metadata-only, REQUIRES column
    mapping (the logical name changes while the physical name / field id
    stays, so every existing file keeps resolving; without a mapping the
    rename would orphan the data). Plain tables: run
    :func:`delta_enable_column_mapping` first. Refuses when a CHECK
    constraint or generation expression references the old name."""
    from pyspark.sql.types import StructField, StructType

    snap = delta_snapshot(spark, path)
    if snap.column_mapping == "none":
        from pos_dlt_spark.sources.delta import DeltaProtocolError

        raise DeltaProtocolError(
            "RENAME COLUMN requires column mapping (physical names decouple "
            "from logical) — run delta_enable_column_mapping(path) first"
        )
    names = {f.name for f in snap.schema.fields}
    if old not in names:
        raise ValueError(f"column {old!r} does not exist")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    refs = _column_referenced(old, snap)
    if refs:
        raise ValueError(
            f"column {old!r} is referenced; drop/redefine these first: {refs}"
        )
    schema = StructType(
        [
            StructField(new if f.name == old else f.name, f.dataType,
                        f.nullable, dict(f.metadata or {}))
            for f in snap.schema.fields
        ]
    )
    parts = [new if c == old else c for c in snap.partition_columns]
    return _commit_metadata_change(
        spark, path, snap, schema, dict(snap.configuration), parts,
        "RENAME COLUMN", {"from": old, "to": new},
        checkpoint_interval=checkpoint_interval,
    )


def delta_alter_column_default(
    spark, path: str, column: str, default_sql: str | None,
    checkpoint_interval: int = 10,
) -> int:
    """ALTER TABLE ... ALTER COLUMN ... SET DEFAULT / DROP DEFAULT
    (protocol ``allowColumnDefaults`` writer feature): metadata-only.
    The default is a SQL expression stored in the field's
    ``CURRENT_DEFAULT`` metadata; later APPENDS that omit the column
    materialize it (see :func:`_apply_column_defaults`) — existing rows
    are NEVER backfilled (that is the spec's line between defaults and
    generated columns). ``default_sql=None`` drops the default. The
    expression must be self-contained (no column references — it is
    validated against a one-row frame) and is cast to the column's
    type. Generated and identity columns refuse (their values are
    already writer-computed)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    snap = delta_snapshot(spark, path)
    _writer_supports(snap)
    fields = {f.name: f for f in snap.schema.fields}
    if column not in fields:
        raise ValueError(f"column {column!r} does not exist")
    if column in _generation_exprs(snap.schema):
        raise ValueError(f"column {column!r} is generated; it cannot also have a default")
    if column in _identity_spec(snap.schema):
        raise ValueError(f"column {column!r} is an identity column; it cannot also have a default")
    if default_sql is not None:
        try:
            # a one-row frame with only a reserved column: any reference
            # to a table column fails analysis (defaults must be
            # self-contained expressions)
            spark.range(1).select(F.lit(1).alias("__default_probe")).select(
                F.expr(default_sql).cast(fields[column].dataType)
            ).collect()
        except Exception as e:
            raise ValueError(
                f"default expression {default_sql!r} must be self-contained "
                f"and castable to {fields[column].dataType.simpleString()}: {e}"
            ) from e
    out_fields = []
    for f in snap.schema.fields:
        if f.name != column:
            out_fields.append(f)
            continue
        md = dict(f.metadata or {})
        if default_sql is None:
            md.pop(DEFAULT_MD_KEY, None)
        else:
            md[DEFAULT_MD_KEY] = default_sql
        out_fields.append(StructField(f.name, f.dataType, f.nullable, md))
    extra = None
    if default_sql is not None:
        extra = [_merged_protocol(snap.protocol, (), ("allowColumnDefaults",))]
    return _commit_metadata_change(
        spark, path, snap, StructType(out_fields),
        dict(snap.configuration), snap.partition_columns,
        "ALTER COLUMN DEFAULT",
        {"column": column, "default": default_sql or "DROPPED"},
        extra_actions=extra, checkpoint_interval=checkpoint_interval,
    )


# the protocol's typeWidening feature: widening-only conversions, so
# every existing (narrower) parquet file still reads losslessly under
# the latest metadata's wider type — Spark's parquet reader upcasts at
# scan (int32 pages into a long column etc.); nothing rewrites.
_TYPE_WIDENINGS: dict[str, tuple[str, ...]] = {
    "byte": ("short", "integer", "long", "double"),
    "short": ("integer", "long", "double"),
    "integer": ("long", "double"),
    "float": ("double",),
}


def delta_alter_column_type(
    spark, path: str, column: str, new_type, checkpoint_interval: int = 10
) -> int:
    """ALTER TABLE ... ALTER COLUMN ... TYPE — TYPE WIDENING (the
    protocol's ``typeWidening`` reader+writer feature): metadata-only
    change of a column to a strictly WIDER type (byte->short->int->long,
    float->double, int->double). Existing data files keep their narrower
    parquet type and upcast at scan under the latest schema — that is
    the feature's whole point: no rewrite, old and new files coexist.
    The change is recorded in the field's ``delta.typeChanges`` metadata
    (fromType/toType/tableVersion, per the spec) so other readers can
    see which files may be narrower, and the typeWidening feature is
    declared in BOTH feature lists (readers that don't understand
    upcasting must not open the table). Narrowing or unrelated
    conversions refuse loudly — they would corrupt existing data.
    Partition columns refuse (their values live as strings in
    partitionValues keyed by the declared type)."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    snap = delta_snapshot(spark, path)
    _writer_supports(snap)
    if isinstance(new_type, str):
        new_type = _parse_datatype_string(new_type)
    fields = {f.name: f for f in snap.schema.fields}
    if column not in fields:
        raise ValueError(f"column {column!r} does not exist")
    if column in snap.partition_columns:
        raise ValueError(
            f"cannot widen partition column {column!r}: partitionValues "
            "are stored as strings keyed by the declared type"
        )
    refs = _column_referenced(column, snap)
    if refs:
        raise ValueError(
            f"cannot widen {column!r}: referenced by {refs} — the "
            "expression's result type would silently change for every "
            "later writer; drop/redefine these first"
        )
    old_name = fields[column].dataType.typeName()
    new_name = new_type.typeName()
    if new_name not in _TYPE_WIDENINGS.get(old_name, ()):
        allowed = _TYPE_WIDENINGS.get(old_name, ())
        raise ValueError(
            f"type change {old_name} -> {new_name} is not a widening "
            f"conversion (allowed from {old_name}: {list(allowed) or 'none'})"
            " — narrowing would corrupt existing files"
        )
    out_fields = []
    for f in snap.schema.fields:
        if f.name != column:
            out_fields.append(f)
            continue
        md = dict(f.metadata or {})
        changes = list(md.get("delta.typeChanges") or [])
        changes.append(
            {
                "fromType": old_name,
                "toType": new_name,
                "tableVersion": snap.version + 1,
            }
        )
        md["delta.typeChanges"] = changes
        out_fields.append(StructField(f.name, new_type, f.nullable, md))
    return _commit_metadata_change(
        spark, path, snap, StructType(out_fields),
        dict(snap.configuration), snap.partition_columns,
        "CHANGE COLUMN", {"column": column, "from": old_name, "to": new_name},
        extra_actions=[
            _merged_protocol(snap.protocol, ("typeWidening",), ("typeWidening",))
        ],
        checkpoint_interval=checkpoint_interval,
    )


def delta_alter_drop_column(
    spark, path: str, name: str, checkpoint_interval: int = 10
) -> int:
    """ALTER TABLE ... DROP COLUMN — metadata-only, REQUIRES column
    mapping (the data stays in the files; the mapping simply stops
    exposing it, and a later re-add mints a FRESH physical name so the
    old bytes can never resurface). Refuses partition columns, the last
    remaining column, and columns referenced by constraints or
    generation expressions."""
    from pyspark.sql.types import StructType

    snap = delta_snapshot(spark, path)
    if snap.column_mapping == "none":
        from pos_dlt_spark.sources.delta import DeltaProtocolError

        raise DeltaProtocolError(
            "DROP COLUMN requires column mapping — run "
            "delta_enable_column_mapping(path) first"
        )
    if name not in {f.name for f in snap.schema.fields}:
        raise ValueError(f"column {name!r} does not exist")
    if name in snap.partition_columns:
        raise ValueError(f"column {name!r} is a partition column")
    if len(snap.schema.fields) == 1:
        raise ValueError("cannot drop the table's last column")
    refs = _column_referenced(name, snap)
    if refs:
        raise ValueError(
            f"column {name!r} is referenced; drop/redefine these first: {refs}"
        )
    schema = StructType([f for f in snap.schema.fields if f.name != name])
    return _commit_metadata_change(
        spark, path, snap, schema, dict(snap.configuration),
        snap.partition_columns, "DROP COLUMNS", {"column": name},
        checkpoint_interval=checkpoint_interval,
    )


def delta_enable_column_mapping(
    spark, path: str, checkpoint_interval: int = 10
) -> int:
    """Upgrade a plain table to column mapping mode 'name' (the
    protocol's upgrade path): every existing column's physical name is
    set to its CURRENT name — existing files keep resolving untouched —
    and field ids are minted 1..n. Unlocks RENAME / DROP COLUMN. No-op
    (returns the current version) when the table already maps names;
    id-mode tables are left as-is."""
    from pyspark.sql.types import StructField, StructType

    snap = delta_snapshot(spark, path)
    if snap.column_mapping != "none":
        return snap.version
    from pos_dlt_spark.sources import delta_rowtracking as rtm

    if rtm.row_tracking_enabled(snap.configuration):
        raise ValueError(
            "cannot enable column mapping on a row-tracking table: the "
            "row-id-resolving scan does not support column-mapped tables "
            "(see _refuse_cm_with_row_tracking)"
        )
    fields = []
    for i, f in enumerate(snap.schema.fields):
        md = dict(f.metadata or {})
        md["delta.columnMapping.id"] = i + 1
        md["delta.columnMapping.physicalName"] = f.name
        fields.append(StructField(f.name, f.dataType, f.nullable, md))
    conf = dict(snap.configuration)
    conf["delta.columnMapping.mode"] = "name"
    conf["delta.columnMapping.maxColumnId"] = str(len(fields))
    return _commit_metadata_change(
        spark, path, snap, StructType(fields), conf, snap.partition_columns,
        "UPGRADE COLUMN MAPPING", {"mode": "name"},
        extra_actions=[
            _merged_protocol(snap.protocol, ("columnMapping",), ("columnMapping",))
        ],
        checkpoint_interval=checkpoint_interval,
    )


def delta_enable_row_tracking(
    spark, path: str, checkpoint_interval: int = 10
) -> int:
    """Upgrade an existing table to ROW TRACKING (the protocol's
    enablement path — what ``ALTER TABLE ... SET TBLPROPERTIES
    ('delta.enableRowTracking'='true')`` does on a real writer): ONE
    commit that declares the rowTracking + domainMetadata writer
    features, mints the materialized-column name properties, BACKFILLS
    ``baseRowId`` / ``defaultRowCommitVersion`` onto every live file
    (pure metadata — re-add actions from footer numRecords, no data
    rewrite, ``dataChange: false``) and seeds the watermark domain.
    Rows get ids as-of this commit; ids are stable from here on.
    No-op when already (fully) enabled. Bare SET TBLPROPERTIES of the
    flag is refused (``_PROTECTED_PROPS``) because it would land the
    table half-enabled — features undeclared, no materialized columns,
    no baseRowId — where every subsequent DML raises (ADVICE r07 #1)."""
    snap = delta_snapshot(spark, path)
    _writer_supports(snap)
    from pos_dlt_spark.sources import delta_rowtracking as rtm

    if rtm.row_tracking_enabled(snap.configuration):
        rtm.require_materialized_columns(snap)  # loud on half-enabled
        return snap.version
    if snap.column_mapping != "none":
        raise ValueError(
            "cannot enable row tracking on a column-mapped table "
            "(see _refuse_cm_with_row_tracking)"
        )
    conf = rtm.mint_materialized_columns(
        {**snap.configuration, rtm.ENABLE_PROP: "true"}
    )
    version = snap.version + 1
    adds = [
        {"add": {**dict(snap.adds[rel]), "dataChange": False}}
        for rel, _ in snap.files
    ]
    # remove-before-re-add of each path keeps the fold identical AND the
    # incremental version checksum exact (a blind same-path re-add would
    # double-count numFiles/tableSizeBytes at the commit choke point)
    removes = [
        fx.remove_action(
            rel, data_change=False, size=(snap.adds.get(rel) or {}).get("size")
        )
        for rel, _ in snap.files
    ]
    hwm = rtm.assign_base_row_ids(
        adds, version, rtm.row_id_high_water_mark(snap)
    )
    return _commit_metadata_change(
        spark, path, snap, snap.schema, conf, snap.partition_columns,
        "ENABLE ROW TRACKING", {"files": len(adds)},
        extra_actions=[
            _merged_protocol(snap.protocol, (), ("rowTracking", "domainMetadata")),
            *removes,
            *adds,
            rtm.hwm_action(hwm),
        ],
        checkpoint_interval=checkpoint_interval,
    )


def delta_add_constraint(
    spark, path: str, name: str, expr: str, checkpoint_interval: int = 10
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT: validate the CHECK expression
    against EVERY existing live row first (one distributed scan — a
    constraint that existing data violates must not land, or every
    subsequent writer inherits an unsatisfiable obligation), then commit
    ``delta.constraints.<name>`` metadata-only."""
    from pyspark.sql import functions as F

    from pos_dlt_spark.sources.delta import read_delta

    snap = delta_snapshot(spark, path)
    key = f"delta.constraints.{name}"
    if key in snap.configuration:
        raise ValueError(f"constraint {name!r} already exists")
    if snap.files:
        bad = (
            read_delta(spark, path)
            .filter(~F.coalesce(F.expr(expr), F.lit(False)))
            .limit(1)
            .count()
        )
        if bad:
            raise DeltaConstraintViolation(
                f"existing rows violate CHECK ({expr}); constraint not added"
            )
    conf = dict(snap.configuration)
    conf[key] = expr
    return _commit_metadata_change(
        spark, path, snap, snap.schema, conf, snap.partition_columns,
        "ADD CONSTRAINT", {"name": name, "expr": expr},
        checkpoint_interval=checkpoint_interval,
    )


def delta_drop_constraint(
    spark, path: str, name: str, checkpoint_interval: int = 10
) -> int:
    """ALTER TABLE ... DROP CONSTRAINT — metadata-only."""
    snap = delta_snapshot(spark, path)
    key = f"delta.constraints.{name}"
    if key not in snap.configuration:
        raise ValueError(f"constraint {name!r} does not exist")
    conf = {k: v for k, v in snap.configuration.items() if k != key}
    return _commit_metadata_change(
        spark, path, snap, snap.schema, conf, snap.partition_columns,
        "DROP CONSTRAINT", {"name": name},
        checkpoint_interval=checkpoint_interval,
    )


_PROTECTED_PROPS = {
    # changing the mapping would orphan files
    "delta.columnMapping.": "use delta_enable_column_mapping",
    # flipping the flag without minting materialized columns, declaring
    # the rowTracking/domainMetadata features and backfilling baseRowId
    # leaves every subsequent DML raising (ADVICE r07 #1)
    "delta.enableRowTracking": "use delta_enable_row_tracking",
    "delta.rowTracking.": "use delta_enable_row_tracking",
}


def delta_set_properties(
    spark, path: str, props: dict[str, str], checkpoint_interval: int = 10
) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES — metadata-only merge of the
    given properties. Structural properties (column-mapping keys) are
    refused: flipping them without rewriting files would orphan the
    data; use the dedicated upgrade path. ``delta.constraints.*`` go
    through delta_add_constraint (which validates existing rows)."""
    snap = delta_snapshot(spark, path)
    for k in props:
        for p, hint in _PROTECTED_PROPS.items():
            if k.startswith(p):
                raise ValueError(f"property {k!r} is structural; {hint}")
        if k.startswith("delta.constraints."):
            raise ValueError(
                f"property {k!r}: use delta_add_constraint (validates "
                "existing rows)"
            )
    conf = dict(snap.configuration)
    was_ict = _ict_enabled(conf)
    conf.update({k: str(v) for k, v in props.items()})
    extra = None
    if _ict_enabled(conf) and not was_ict:
        # enablement commit: declare the writer feature and record WHEN
        # (version now; _try_commit pins the timestamp to the stamped
        # inCommitTimestamp of this very commit)
        conf["delta.inCommitTimestampEnablementVersion"] = str(snap.version + 1)
        extra = [
            _merged_protocol(snap.protocol, (), ("inCommitTimestamp",))
        ]
    return _commit_metadata_change(
        spark, path, snap, snap.schema, conf, snap.partition_columns,
        "SET TBLPROPERTIES", {"properties": dict(sorted(props.items()))},
        extra_actions=extra, checkpoint_interval=checkpoint_interval,
    )


def delta_unset_properties(
    spark, path: str, keys: list[str], checkpoint_interval: int = 10
) -> int:
    """ALTER TABLE ... UNSET TBLPROPERTIES — metadata-only removal
    (missing keys are ignored, matching the SQL command's IF EXISTS
    posture); structural keys refuse like SET."""
    snap = delta_snapshot(spark, path)
    for k in keys:
        if any(k.startswith(p) for p in _PROTECTED_PROPS):
            raise ValueError(f"property {k!r} is structural; cannot unset")
    conf = {k: v for k, v in snap.configuration.items() if k not in set(keys)}
    return _commit_metadata_change(
        spark, path, snap, snap.schema, conf, snap.partition_columns,
        "UNSET TBLPROPERTIES", {"keys": sorted(keys)},
        checkpoint_interval=checkpoint_interval,
    )


class _EmptyBatch(Exception):
    pass


def delta_stream_sink(path: str, app_id: str, partition_by: list[str] | None = None):
    """Exactly-once streaming Delta sink: a ``foreachBatch`` function
    whose per-micro-batch APPEND commit carries a SetTransaction
    (``appId=app_id, version=batch_id``) — a replay of an
    already-committed batch (crash between sink-write and checkpoint
    advance) is a NO-OP instead of duplicate rows, the same idempotence
    contract delta's own streaming sink implements. The staging write
    computes and counts the batch once; an empty one commits nothing::

        q = (stream.writeStream
             .foreachBatch(delta_stream_sink(table, "my_app"))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
    """
    from pyspark.sql import Observation, functions as F

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        obs = Observation()
        def nonempty() -> None:
            if not obs.get["n"]:
                raise _EmptyBatch

        with contextlib.suppress(_EmptyBatch):
            write_delta(
                batch_df.observe(obs, F.count(F.lit(1)).alias("n")), path, mode="append",
                partition_by=partition_by, txn=(app_id, int(batch_id)), precommit=nonempty,
            )

    return sink


def delta_log_compact(
    spark, path: str, start: int | None = None, end: int | None = None
) -> str:
    """MINOR LOG COMPACTION: aggregate the commit JSONs of versions
    ``[start, end]`` (default: the whole surviving chain) into one
    ``{start}.{end}.compacted.json`` the snapshot fold prefers over the
    span's per-commit files — the protocol's answer to slow JSON replay
    BETWEEN checkpoints (a checkpoint folds everything; compaction keeps
    segments cheap without freezing a full table image).

    Reconciliation, per the spec's reader rule (the compacted file must
    fold to the same state as replaying the span):

    - one entry per path — the LAST add or remove in the span wins
      (remove tombstones are preserved: they must still cancel adds
      from BEFORE the span),
    - the newest metaData / protocol in the span (if any),
    - per-app maximum SetTransaction versions,
    - the newest domainMetadata per domain (removal markers kept),
    - cdc / commitInfo actions are NOT carried (CDF and history read the
      per-commit JSONs, which compaction never deletes).

    Written via temp+rename: the content is a deterministic function of
    the span, so concurrent compactors converge. Returns the file
    path."""
    from pos_dlt_spark.sources.delta import _commit_actions, _list_log

    log_dir = os.path.join(path, "_delta_log")
    commits, _ = _list_log(log_dir)
    cmap = dict(commits)
    if not cmap:
        raise ValueError(f"no commit JSONs to compact in {log_dir}")
    if start is None:
        start = min(cmap)
    if end is None:
        end = max(cmap)
    if not start <= end:
        raise ValueError(f"bad compaction range [{start}, {end}]")
    missing = [v for v in range(start, end + 1) if v not in cmap]
    if missing:
        raise ValueError(
            f"compaction range [{start}, {end}] has missing commits: "
            f"{missing[:5]}"
        )
    meta = proto = None
    txns: dict[str, int] = {}
    domains: dict[str, dict] = {}
    last: dict[str, dict] = {}  # path -> the winning add/remove ACTION
    for v in range(start, end + 1):
        for a in _commit_actions(cmap[v]):
            if "add" in a:
                last[a["add"]["path"]] = {"add": dict(a["add"])}
            elif "remove" in a:
                last[a["remove"]["path"]] = {"remove": dict(a["remove"])}
            elif "metaData" in a:
                meta = a
            elif "protocol" in a:
                proto = a
            elif "txn" in a:
                t = a["txn"]
                if t.get("appId") is not None and t.get("version") is not None:
                    txns[t["appId"]] = max(
                        txns.get(t["appId"], -1), int(t["version"])
                    )
            elif "domainMetadata" in a:
                if a["domainMetadata"].get("domain") is not None:
                    domains[a["domainMetadata"]["domain"]] = a
    actions: list[dict] = []
    if proto is not None:
        actions.append(proto)
    if meta is not None:
        actions.append(meta)
    actions += [
        fx.txn_action(app, ver) for app, ver in sorted(txns.items())
    ]
    actions += [domains[d] for d in sorted(domains)]
    actions += [last[p] for p in sorted(last)]
    out = os.path.join(log_dir, f"{start:020d}.{end:020d}.compacted.json")
    tmp = out + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, out)
    return out


def delta_log_cleanup(spark, path: str) -> list[str]:
    """Metadata retention (the log half of VACUUM): delete JSON commits at
    or before the newest COMPLETE checkpoint — they are redundant for
    state reconstruction (the checkpoint IS the folded state) and real
    tables clean them on the same rule. Commits after the checkpoint are
    never touched; with no checkpoint this is a no-op. Time travel to
    cleaned versions and timestamp-based resolution over them stop
    working — the protocol's own history-retention trade.

    Returns the deleted log file names."""
    from pos_dlt_spark.sources.delta import _checkpoint_complete, _list_log

    log_dir = os.path.join(path, "_delta_log")
    commits, checkpoints = _list_log(log_dir)
    usable = [v for v in checkpoints if _checkpoint_complete(checkpoints[v])]
    if not usable:
        return []
    horizon = max(usable)
    deleted = []
    for v, p in commits:
        if v <= horizon:
            os.remove(p)
            deleted.append(os.path.basename(p))
    # superseded checkpoints below the horizon are as redundant as the
    # commits they covered (their versions are already unreachable once
    # those commits are gone — the same retention trade); the horizon's
    # checkpoint stays, so every surviving fold still has its anchor
    for v in sorted(checkpoints):
        if v < horizon:
            for p in checkpoints[v]:
                try:
                    os.remove(p)
                    deleted.append(os.path.basename(p))
                except OSError:
                    pass
    checkpoints = {v: ps for v, ps in checkpoints.items() if v >= horizon}
    # version checksums below the horizon go with their commits; the
    # horizon's own .crc stays so the incremental chain continues from
    # it (the checkpoint also re-anchors it, belt and braces)
    for n in sorted(os.listdir(log_dir)):
        if len(n) == 24 and n.endswith(".crc") and n[:-4].isdigit():
            if int(n[:-4]) < horizon:
                os.remove(os.path.join(log_dir, n))
                deleted.append(n)
    deleted += _gc_sidecars(log_dir, checkpoints)
    return deleted


def _gc_sidecars(log_dir: str, checkpoints: dict[int, list[str]]) -> list[str]:
    """Collect ``_sidecars/`` files referenced by NO remaining v2
    manifest — incremental checkpoints reuse sidecars, so superseded
    manifests leave orphans behind. Referenced names are read from
    EVERY surviving manifest (not just the newest: older retained
    checkpoints must stay foldable). A sidecar newer than the newest
    log entry is skipped — it may belong to a checkpoint whose manifest
    is still being written (same in-flight grace as vacuum's cutoff)."""
    sc_dir = os.path.join(log_dir, "_sidecars")
    if not os.path.isdir(sc_dir):
        return []
    from pos_dlt_spark.sources.delta import _CKPT_V2_RE

    import pyarrow.parquet as pq

    referenced: set[str] = set()
    for parts in checkpoints.values():
        for p in parts:
            if not _CKPT_V2_RE.match(os.path.basename(p)):
                continue
            try:
                rows = pq.read_table(p, columns=["sidecar"]).to_pylist()
            except (OSError, ValueError, KeyError):
                return []  # unreadable manifest: keep everything
            for r in rows:
                sc = r.get("sidecar")
                if sc and sc.get("path"):
                    referenced.add(os.path.basename(sc["path"]))
    cutoff = max(
        (
            os.path.getmtime(os.path.join(log_dir, n))
            for n in os.listdir(log_dir)
            if n.endswith(".json") or n.endswith(".parquet")
        ),
        default=float("-inf"),
    )
    deleted: list[str] = []
    for n in sorted(os.listdir(sc_dir)):
        if n in referenced or not n.endswith(".parquet"):
            continue
        full = os.path.join(sc_dir, n)
        try:
            if os.path.getmtime(full) >= cutoff:
                continue  # possibly an in-flight checkpoint's sidecar
            os.remove(full)
            deleted.append(os.path.join("_sidecars", n))
        except OSError:
            pass
    return deleted


def delta_restore(spark, path: str, version: int | None = None, timestamp=None) -> int:
    """RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF: commit a new version
    whose live set equals the target snapshot's — remove every currently
    live file not in it, re-add every file it had (possible while the
    files survive vacuum; a vacuumed restore target fails on the snapshot
    fold or at read, never silently). History is preserved: restore adds
    a commit, it never rewrites the log — delta's own semantics.

    Returns the committed version."""
    target = delta_snapshot(spark, path, version, timestamp=timestamp)
    current = delta_snapshot(spark, path)
    # no _writer_supports gate: restore is METADATA-ONLY (it re-points
    # the live set at existing files, writing no data), so even id-mode
    # column-mapping tables — whose data files this writer refuses to
    # produce — restore safely
    cur_live = {rel for rel, _ in current.files}
    tgt_live = {rel for rel, _ in target.files}
    # live identity includes the deletion vector: a DV delete changes the
    # table's rows without changing any file PATH
    def identity(s: DeltaSnapshot):
        return {
            (rel, json.dumps(s.adds[rel].get("deletionVector"), sort_keys=True))
            for rel, _ in s.files
        }

    if identity(current) == identity(target) and current.schema == target.schema:
        return current.version
    from pos_dlt_spark.sources.dv import dv_relative_path

    missing = [
        rel for rel in tgt_live if not os.path.exists(_abs_file(path, rel))
    ]
    for rel in sorted(tgt_live):
        dv = target.adds[rel].get("deletionVector")
        if dv:
            dvrel = dv_relative_path(dv)
            if dvrel and not os.path.exists(os.path.join(path, dvrel)):
                missing.append(dvrel)
    if missing:
        raise FileNotFoundError(
            f"restore target version {target.version} references vacuumed "
            f"files: {missing[:3]}{'...' if len(missing) > 3 else ''}"
        )
    actions = [
        fx.commit_info_action("RESTORE", {"version": target.version}),
        fx.metadata_action(
            target.schema,
            partition_columns=target.partition_columns,
            table_id=target.table_id,
            configuration=target.configuration,
        ),
    ]
    # remove the whole current live set then re-add the target's: paths
    # shared by both (possibly with different DVs) fold to the target's
    # add under path-keyed reconciliation and stay unambiguous for
    # (path, dvId)-keyed readers
    actions += [fx.remove_action(rel, size=(current.adds.get(rel) or {}).get("size")) for rel in sorted(cur_live)]
    actions += [{"add": target.adds[rel]} for rel in sorted(tgt_live)]
    new_version = current.version + 1
    if not _try_commit(os.path.join(path, "_delta_log"), new_version, actions):
        raise DeltaCommitConflict(
            f"version {new_version} was committed concurrently; re-run restore"
        )
    # gate the Iceberg side on EITHER configuration: restoring a UniForm
    # table to a version that predates uniform enablement commits a
    # non-uniform config, but the emitted metadata/version-hint still
    # point at the pre-restore snapshot — an Iceberg reader would
    # silently serve rows Delta no longer has. Target-enabled → re-sync;
    # only-current-enabled → invalidate the Iceberg metadata entirely.
    from pos_dlt_spark.sources import iceberg_uniform as _uf

    if _uf.uniform_enabled(target.configuration):
        _uniform_after_commit(spark, path, target.configuration)
    elif _uf.uniform_enabled(current.configuration):
        import shutil as _sh

        md_dir = os.path.join(path, "metadata")
        if os.path.isdir(md_dir):
            _sh.rmtree(md_dir, ignore_errors=True)
    return new_version


def delta_clone(
    spark, src: str, dst: str, version: int | None = None, timestamp=None,
    deep: bool = False,
) -> int:
    """CLONE: create a new Delta table at ``dst`` from a source snapshot.

    SHALLOW (default): commit 0 REFERENCES the source snapshot's data
    files by absolute path — zero data copied, delta's own zero-copy
    dev/test-table primitive. The clone then evolves independently:
    appends/merges/deletes write new files under ``dst`` and only drop
    REFERENCES to source files (vacuum on the clone never deletes
    outside its own root — the referenced-set walk is rooted at
    ``dst``). DV sidecars resolve against the SOURCE root, so their
    descriptors convert to absolute ('p') storage.

    DEEP (``deep=True``): data files AND DV sidecars are COPIED under
    ``dst`` (relative references, fully self-contained — survives the
    source being vacuumed or dropped). The copy fans out across
    executors (one task per file batch); stats/partitionValues carry
    over from the source log unchanged since the bytes are identical.

    ``version=``/``timestamp=`` clone a time-travel snapshot. Returns
    the committed version (0)."""
    from urllib.parse import quote, unquote

    from pos_dlt_spark.sources.dv import dv_relative_path

    snap = delta_snapshot(spark, src, version, timestamp=timestamp)
    log_dir = os.path.join(dst, "_delta_log")
    if os.path.isdir(log_dir) and os.listdir(log_dir):
        raise ValueError(f"{dst} is already a Delta table")
    adds = []
    copies: list[tuple[str, str]] = []  # (absolute source, on-disk relative dest)
    for rel, _pv in snap.files:
        add = dict(snap.adds[rel])
        dv = add.get("deletionVector")
        if deep:
            # keep the source's relative layout (partition dirs intact)
            add["path"] = rel
            copies.append((os.path.abspath(_abs_file(src, rel)), unquote(rel)))
            if dv and dv.get("storageType") in ("u", "p"):
                dvsrc = (
                    dv["pathOrInlineDv"]
                    if dv.get("storageType") == "p"
                    else os.path.abspath(os.path.join(src, dv_relative_path(dv)))
                )
                dvrel = f"deletion_vector_{uuid.uuid4().hex}.bin"
                copies.append((dvsrc, dvrel))
                add["deletionVector"] = {
                    **dv,
                    "storageType": "p",
                    # absolute under DST: self-contained, and the reader's
                    # 'p' resolution needs no table-root join
                    "pathOrInlineDv": os.path.abspath(os.path.join(dst, dvrel)),
                }
        else:
            # absolute, percent-encoded (the protocol's path encoding —
            # the reader unquotes before resolving)
            add["path"] = quote(os.path.abspath(_abs_file(src, rel)), safe="/")
            if dv and dv.get("storageType") == "u":
                dvrel = dv_relative_path(dv)
                add["deletionVector"] = {
                    **dv,
                    "storageType": "p",
                    "pathOrInlineDv": os.path.abspath(os.path.join(src, dvrel)),
                }
        adds.append({"add": add})
    if deep and copies:
        dst_abs = os.path.abspath(dst)
        for _s, r in copies:
            os.makedirs(
                os.path.dirname(os.path.join(dst_abs, r)) or dst_abs, exist_ok=True
            )

        def _copy_batch(it):
            import shutil as _sh

            n = 0
            for s, r in it:
                _sh.copyfile(s, os.path.join(dst_abs, r))
                n += 1
            yield n

        par = max(1, min(len(copies), spark.sparkContext.defaultParallelism))
        copied = sum(
            spark.sparkContext.parallelize(copies, par).mapPartitions(_copy_batch).collect()
        )
        if copied != len(copies):
            raise RuntimeError(f"deep clone copied {copied}/{len(copies)} files")
    actions = [
        fx.commit_info_action(
            "CLONE", {"source": src, "sourceVersion": snap.version}
        ),
        _merged_protocol(snap.protocol),
        fx.metadata_action(
            snap.schema,
            partition_columns=snap.partition_columns,
            configuration=snap.configuration or None,
        ),
    ]
    # domain metadata MUST carry over: dropping delta.rowTracking would
    # reset the clone's id watermark to -1 while the copied adds still
    # carry their baseRowIds — the first append would mint COLLIDING row
    # ids (breaking id stability and MoR CDF); dropping delta.clustering
    # would silently un-cluster the clone while keeping the feature
    actions += [
        fx.domain_metadata_action(d, c)
        for d, c in sorted(snap.domain_metadata.items())
    ]
    actions += adds
    if not _try_commit(log_dir, 0, actions):
        raise DeltaCommitConflict("commit 0 appeared concurrently during clone")
    # a clone of a UniForm table carries the property over: emit the
    # clone's own Iceberg metadata so commit 0 is immediately readable
    # through it (shallow clones reference source-root files by
    # absolute path, which Iceberg manifests render verbatim)
    _uniform_after_commit(spark, dst, snap.configuration or {})
    return 0


def convert_to_delta(spark, parquet_dir: str) -> int:
    """CONVERT TO DELTA: impose a Delta log on an EXISTING parquet
    directory in place — commit 0 adds every data file with
    footer-derived stats; Hive-style ``col=value/`` subdirectories become
    the table's partition columns (types inferred by Spark's partition
    discovery on one schema-only read). No data file is rewritten or
    moved — the conversion is one metadata commit, exactly delta's own
    ``CONVERT TO DELTA`` contract. Fails if a log already exists.

    Returns the committed version (0)."""
    log_dir = os.path.join(parquet_dir, "_delta_log")
    if os.path.isdir(log_dir) and os.listdir(log_dir):
        raise ValueError(f"{parquet_dir} is already a Delta table")
    full = spark.read.parquet(parquet_dir)
    schema = full.schema
    # partition columns = those Spark's discovery added beyond the files'
    # physical columns (sample one file's footer for the physical set)
    files = [
        ("/".join(segs + [n]), segs) for _d, n, segs in _parquet_files(parquet_dir)
    ]
    if not files:
        raise ValueError(f"no parquet files under {parquet_dir}")
    import pyarrow.parquet as pq

    physical = set(pq.read_schema(os.path.join(parquet_dir, files[0][0])).names)
    partition_columns = [f.name for f in schema.fields if f.name not in physical]

    adds = []
    for rel, segs in files:
        pvals = _hive_values(segs)
        missing = [c for c in partition_columns if c not in pvals]
        if missing:
            raise ValueError(
                f"file {rel} lacks partition segments for {missing}; "
                "convert requires a consistent Hive layout"
            )
        fpath = os.path.join(parquet_dir, rel)
        adds.append(
            fx.add_action(
                _rel_uri(rel),
                size=os.path.getsize(fpath),
                partition_values={c: pvals[c] for c in partition_columns} or None,
                stats=_file_stats(fpath),
            )
        )
    actions = [
        fx.commit_info_action("CONVERT", {"numFiles": len(adds)}),
        fx.protocol_action(),
        fx.metadata_action(schema, partition_columns=partition_columns),
    ] + adds
    if not _try_commit(log_dir, 0, actions):
        raise DeltaCommitConflict("commit 0 appeared concurrently during convert")
    return 0


def convert_iceberg_to_delta(spark, path: str, snapshot_id: int | None = None) -> int:
    """CONVERT TO DELTA over an ICEBERG table (delta's ``CONVERT TO
    DELTA iceberg.`path``` surface): translate one Iceberg snapshot's
    manifests into a Delta commit 0 — schema, partition columns, per-file
    partition values, and footer stats — without rewriting or moving any
    data file. Unlike the plain-parquet converter above, the file list
    comes from the MANIFESTS, not a directory walk: a stale file on disk
    that the current Iceberg snapshot no longer references (a compacted
    predecessor, an aborted write) is correctly excluded, and at 100 TB
    the conversion never lists the filesystem at all.

    ``snapshot_id`` converts a historical snapshot (the Iceberg
    time-travel contract carries over).

    Boundary (refused loudly): delete manifests / delete files,
    non-identity partition transforms, data files outside the table
    root, an existing Delta log, and tables whose data files physically
    CONTAIN their partition columns (this reader attaches partition
    values from the log; a physical twin column would collide)."""
    from pos_dlt_spark.sources import iceberg_uniform as uf

    log_dir = os.path.join(path, "_delta_log")
    if os.path.isdir(log_dir) and os.listdir(log_dir):
        raise ValueError(f"{path} is already a Delta table")
    md_dir = os.path.join(path, "metadata")
    meta = uf._read_prior_metadata(md_dir)
    if not meta:
        raise FileNotFoundError(f"no Iceberg metadata under {md_dir}")
    if int(meta.get("format-version", 0)) != 2:
        raise ValueError(
            f"unsupported Iceberg format-version {meta.get('format-version')!r}"
        )
    snap = uf._resolve_snapshot(meta, snapshot_id)
    files, delete_files = uf._snapshot_data_files(meta, snap)
    if delete_files:
        raise ValueError(
            "Iceberg snapshot carries delete files (v2 merge-on-read) — "
            "in-place conversion would resurrect their rows; compact the "
            "Iceberg table first or read it via read_iceberg instead"
        )
    if not files:
        raise ValueError("Iceberg snapshot references no data files")

    ice_schema = next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )
    from pyspark.sql.types import StructType, _parse_datatype_string

    schema = StructType()
    for f in ice_schema["fields"]:
        # DDL parser: accepts cast-style names ("int"), unlike the JSON
        # type parser StructType.add(str) routes through
        schema = schema.add(
            f["name"], _parse_datatype_string(uf._iceberg_type_to_spark(f["type"]))
        )
    spec = next(
        p for p in meta["partition-specs"] if p["spec-id"] == meta["default-spec-id"]
    )
    for pf in spec["fields"]:
        if pf["transform"] != "identity":
            raise ValueError(
                f"unsupported partition transform {pf['transform']!r} "
                "(identity only)"
            )
    by_id = {f["id"]: f["name"] for f in ice_schema["fields"]}
    partition_columns = [by_id[pf["source-id"]] for pf in spec["fields"]]

    rootp = os.path.abspath(path)
    first = os.path.abspath(files[0]["file_path"])
    if partition_columns:
        import pyarrow.parquet as pq

        physical = set(pq.read_schema(first).names)
        clash = [c for c in partition_columns if c in physical]
        if clash:
            raise ValueError(
                f"data files physically contain partition columns {clash}; "
                "this reader attaches partition values from the log, so a "
                "physical twin column would collide — not convertible here"
            )

    def _render(v) -> str | None:
        if v is None:
            return None
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    adds = []
    for f in files:
        ap = os.path.abspath(f["file_path"])
        if not ap.startswith(rootp + os.sep):
            raise ValueError(
                f"data file {f['file_path']} lies outside the table root — "
                "in-place conversion requires co-located files"
            )
        rel = os.path.relpath(ap, rootp)
        pvals = {
            c: _render((f.get("partition") or {}).get(c)) for c in partition_columns
        }
        adds.append(
            fx.add_action(
                rel.replace(os.sep, "/"),
                size=os.path.getsize(ap),
                partition_values=pvals or None,
                stats=_file_stats(ap),
            )
        )
    actions = [
        fx.commit_info_action(
            "CONVERT",
            {"numFiles": len(adds), "sourceFormat": "iceberg",
             "icebergSnapshotId": snap["snapshot-id"]},
        ),
        fx.protocol_action(),
        fx.metadata_action(schema, partition_columns=partition_columns),
    ] + adds
    if not _try_commit(log_dir, 0, actions):
        raise DeltaCommitConflict("commit 0 appeared concurrently during convert")
    return 0
