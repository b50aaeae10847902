"""Delta ROW TRACKING (protocol "Row Tracking" writer feature): stable
per-row identifiers that survive file rewrites.

Semantics re-expressed Spark-first from the public Delta protocol spec
(reference pipeline scope: databricks pos-dlt notebooks 02/03 rely on the
platform's managed-table feature set; row ids are the next protocol
feature an external modern Delta table carries after DVs / column mapping
/ CDF — see VERDICT r06 #2):

- Every ``add`` action carries ``baseRowId``; the FRESH row id of row
  ``i`` of that file is ``baseRowId + i`` (file-relative row index, the
  same ``_metadata.row_index`` deletion vectors key on).
- The table-wide high watermark lives in a ``domainMetadata`` action,
  domain ``delta.rowTracking``, configuration
  ``{"rowIdHighWaterMark": N}`` — folded newest-wins by the snapshot.
- ``defaultRowCommitVersion`` on each add is the commit version stamped
  on rows that carry no materialized override.
- REWRITES (OPTIMIZE compaction here) preserve ids by writing the old id
  into a MATERIALIZED physical column whose name is minted at enable
  time into table configuration
  (``delta.rowTracking.materializedRowIdColumnName``); reads resolve
  ``coalesce(materialized, baseRowId + row_index)`` — pure JVM, one
  broadcast of the per-file base table, no Python in the row path.

Scale shape: the per-file (path -> baseRowId) table is metadata-sized
(one row per live file) and broadcast against the scan exactly like the
DV file-id resolution; row ids themselves are computed from the scan's
own ``_metadata.row_index`` — nothing per-row ever touches the driver.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROW_TRACKING_DOMAIN = "delta.rowTracking"
ENABLE_PROP = "delta.enableRowTracking"
MAT_ROW_ID_PROP = "delta.rowTracking.materializedRowIdColumnName"
MAT_ROW_VER_PROP = "delta.rowTracking.materializedRowCommitVersionColumnName"

ROW_ID_COL = "_row_id"
ROW_VER_COL = "_row_commit_version"


def row_tracking_enabled(conf: dict | None) -> bool:
    return (conf or {}).get(ENABLE_PROP, "").lower() == "true"


def mint_materialized_columns(conf: dict) -> dict:
    """Add the materialized-column name properties to a creation config
    (idempotent). Real writers mint uuid-suffixed names so the physical
    columns can never collide with user columns."""
    out = dict(conf)
    out.setdefault(MAT_ROW_ID_PROP, f"_row-id-col-{uuid.uuid4()}")
    out.setdefault(MAT_ROW_VER_PROP, f"_row-commit-version-col-{uuid.uuid4()}")
    return out


def row_id_high_water_mark(snap) -> int:
    """Highest row id ever assigned (-1 on a fresh table) from the
    snapshot's folded domainMetadata."""
    raw = snap.domain_metadata.get(ROW_TRACKING_DOMAIN)
    if not raw:
        return -1
    try:
        return int(json.loads(raw).get("rowIdHighWaterMark", -1))
    except (ValueError, TypeError):
        return -1


def hwm_action(high_water_mark: int) -> dict:
    from pos_dlt_spark.sources import delta_fixture as fx

    return fx.domain_metadata_action(
        ROW_TRACKING_DOMAIN,
        json.dumps({"rowIdHighWaterMark": int(high_water_mark)}),
    )


def assign_base_row_ids(
    adds: list[dict], version: int, high_water_mark: int
) -> int:
    """Stamp ``baseRowId`` / ``defaultRowCommitVersion`` onto staged add
    actions (IN PLACE, deterministic path order) from footer-stats
    numRecords — pure metadata, no rescan, retry-safe (a lost commit race
    re-stamps against the fresh watermark; nothing id-dependent is baked
    into the data files). Returns the new high watermark."""
    next_id = int(high_water_mark) + 1
    for a in sorted(adds, key=lambda a: a["add"]["path"]):
        st = a["add"].get("stats")
        vals = (json.loads(st) if isinstance(st, str) else (st or {})) or {}
        n = vals.get("numRecords")
        if n is None:
            from pos_dlt_spark.sources.delta import DeltaProtocolError

            raise DeltaProtocolError(
                f"row tracking needs numRecords stats to assign baseRowId; "
                f"staged file {a['add']['path']!r} has none"
            )
        a["add"]["baseRowId"] = next_id
        a["add"]["defaultRowCommitVersion"] = int(version)
        next_id += int(n)
    return next_id - 1


def require_materialized_columns(snap) -> tuple[str, str]:
    """The (mat_row_id, mat_row_commit_version) physical column names,
    raising :class:`DeltaProtocolError` when row tracking is enabled but
    the names were never minted — every rt-aware DML calls this at the
    top instead of indexing the configuration bare (a bare KeyError told
    the user nothing; ADVICE r07 #3)."""
    from pos_dlt_spark.sources.delta import DeltaProtocolError

    mat_id = snap.configuration.get(MAT_ROW_ID_PROP)
    mat_ver = snap.configuration.get(MAT_ROW_VER_PROP)
    if not (mat_id and mat_ver):
        raise DeltaProtocolError(
            "row tracking is enabled but the materialized column names "
            f"({MAT_ROW_ID_PROP} / {MAT_ROW_VER_PROP}) are unset — "
            "row ids cannot be preserved across rewrites; enable row "
            "tracking via delta_enable_row_tracking (or at creation)"
        )
    return mat_id, mat_ver


def _require_row_tracking(snap) -> None:
    from pos_dlt_spark.sources.delta import DeltaProtocolError

    wf = set(snap.protocol.get("writerFeatures") or ())
    if "rowTracking" not in wf:
        raise DeltaProtocolError(
            "table does not declare the rowTracking writer feature; "
            "row ids are undefined"
        )


def scan_with_row_ids(
    spark: SparkSession, snap, rels: list[str] | None = None,
    with_meta: bool = False,
) -> DataFrame | None:
    """Id-resolving scan of (a subset of) a row-tracking snapshot's live
    files: the table's logical columns + ``_row_id`` +
    ``_row_commit_version``, each ``coalesce(materialized column,
    baseRowId + _metadata.row_index)``, DV-deleted rows dropped first
    (their ids retire with them). The per-file base table is broadcast
    against the scan's RAW file path (same zero-cost keying the DV path
    uses — the decoded path would put a url_decode in the per-row hot
    path). Returns None for an empty selection."""
    from urllib.parse import quote

    from pos_dlt_spark.sources.delta import (
        DeltaProtocolError,
        _abs_file,
        scan_live_rows,
    )
    from pos_dlt_spark.tables import local_df

    _require_row_tracking(snap)
    if snap.column_mapping != "none":
        raise DeltaProtocolError(
            "row-tracking reads with column mapping are not supported here"
        )
    mat_id = snap.configuration.get(MAT_ROW_ID_PROP)
    mat_ver = snap.configuration.get(MAT_ROW_VER_PROP)
    extra = [c for c in (mat_id, mat_ver) if c]
    out_cols = [f.name for f in snap.schema.fields]
    sel = None if rels is None else set(rels)
    wanted = [rel for rel, _ in snap.files if sel is None or rel in sel]
    if not wanted:
        return None

    scan = scan_live_rows(spark, snap, wanted, with_meta=True, extra_fields=extra)

    # per-file base table, keyed by every plausible raw-URI rendering of
    # the absolute path (the same renderings trick the DV fid map uses so
    # the join key is the scan's zero-cost _metadata.file_path)
    def renderings(fp: str) -> set[str]:
        outs = {fp, "file:" + fp, "file://" + fp}
        for safe in ("/", "/:", "/:+=~"):
            q = quote(fp, safe=safe)
            outs.update({q, "file:" + q, "file://" + q})
        return outs

    entries: list[tuple[str, int | None, int | None]] = []
    dec_entries: list[tuple[str, int | None, int | None]] = []
    for rel in wanted:
        add = snap.adds[rel]
        base = add.get("baseRowId")
        dcv = add.get("defaultRowCommitVersion")
        fp = os.path.abspath(_abs_file(snap.path, rel))
        dec_entries.append((fp, base, dcv))
        for r in sorted(renderings(fp)):
            entries.append((r, base, dcv))

    from pos_dlt_spark.sources.delta import DV_FID_MAP_MAX

    def pair_struct(base, dcv):
        return F.struct(
            F.lit(base).cast("bigint").alias("b"),
            F.lit(dcv).cast("bigint").alias("d"),
        )

    # a TOTAL path miss is LOUD (mirrors _resolve_dv_fid): a silent NULL
    # would make the row's id NULL, a rewrite would materialize that
    # NULL, and the row would silently take a FRESH id on the next read
    # — breaking id stability and MoR CDF (ADVICE r07 #2). A file whose
    # add carries no baseRowId yields a present struct with NULL fields
    # (pre-enablement files), which is a semantic state, not a miss.
    miss = F.raise_error(
        F.concat(
            F.lit("row-tracking baseRowId lookup failed for file "),
            F.col("__fpr"),
        )
    ).cast("struct<b:bigint,d:bigint>")

    if len(entries) <= DV_FID_MAP_MAX:
        # literal struct-valued map: ONE per-row string lookup on the
        # zero-cost raw path (decoded-path fallback for exotic
        # renderings) — measured cheaper than a broadcast hash join on
        # the path string (2.6 -> ~1.6 s over a 10M-row scan)
        raw_map = F.create_map(
            *[x for r, b, d in entries for x in (F.lit(r), pair_struct(b, d))]
        )
        dec_map = F.create_map(
            *[x for r, b, d in dec_entries for x in (F.lit(r), pair_struct(b, d))]
        )
        hit = F.coalesce(
            F.try_element_at(raw_map, F.col("__fpr")),
            F.try_element_at(dec_map, F.col("__fp")),
            miss,
        )
        scan = scan.withColumn(
            "__rtbase", hit.getField("b")
        ).withColumn("__rtdcv", hit.getField("d"))
    else:
        # many files: literals would bloat the plan; broadcast hash join
        # on the raw path + a second broadcast join on the DECODED path
        # (exotic renderings; one row per file, still metadata-sized),
        # then the loud-miss arm — same ladder as the map branch
        # (__rthit marks a matched entry even when b/d are NULL)
        bt = local_df(
            spark,
            [(r, b, d, True) for r, b, d in entries],
            "__rtk string, __rtjb bigint, __rtjd bigint, __rthit boolean",
        )
        btd = local_df(
            spark,
            [(r, b, d, True) for r, b, d in dec_entries],
            "__rtk2 string, __rtdb bigint, __rtdd bigint, __rtdhit boolean",
        )
        raw_hit = F.when(
            F.col("__rthit"),
            F.struct(F.col("__rtjb").alias("b"), F.col("__rtjd").alias("d")),
        )
        dec_hit = F.when(
            F.col("__rtdhit"),
            F.struct(F.col("__rtdb").alias("b"), F.col("__rtdd").alias("d")),
        )
        hit = F.coalesce(raw_hit, dec_hit, miss)
        from pos_dlt_spark.sources.delta import decoded_fp_expr

        # the DECODED key (two regexes + url_decode) is derived ONLY for
        # rows whose raw join missed — joining on __fp directly would
        # force the decode into the per-row hot path for EVERY row
        # (measured ~36 s over a 24M-row scan), and unlike the map
        # branch's coalesce a join key cannot short-circuit on a raw-path
        # hit (ADVICE r08). A NULL join key never matches, so raw-hit
        # rows pass the second broadcast join for free.
        scan = (
            scan.join(
                F.broadcast(bt), F.col("__fpr") == F.col("__rtk"), "left"
            )
            .withColumn(
                "__fpd",
                F.when(F.col("__rthit").isNull(), decoded_fp_expr(F.col("__fpr"))),
            )
            .join(F.broadcast(btd), F.col("__fpd") == F.col("__rtk2"), "left")
            .withColumn("__rtbase", hit.getField("b"))
            .withColumn("__rtdcv", hit.getField("d"))
            .drop(
                "__rtk", "__rtjb", "__rtjd", "__rthit", "__fpd",
                "__rtk2", "__rtdb", "__rtdd", "__rtdhit",
            )
        )

    rid = F.col("__rtbase") + F.col("__ri")
    rvr = F.col("__rtdcv")
    if mat_id:
        rid = F.coalesce(F.col(f"`{mat_id}`"), rid)
    if mat_ver:
        rvr = F.coalesce(F.col(f"`{mat_ver}`"), rvr)
    meta = ["__fp", "__ri"] if with_meta else []
    return scan.select(
        *out_cols,
        rid.cast("bigint").alias(ROW_ID_COL),
        rvr.cast("bigint").alias(ROW_VER_COL),
        *meta,
    )


def to_materialized(df: DataFrame, snap, cols: list[str] | None = None) -> DataFrame:
    """``cols`` (default: the table's columns) plus ``df``'s resolved
    ``_row_id`` / ``_row_commit_version`` aliased into the table's
    materialized physical columns — the staging shape of every rewrite
    that keeps row ids stable."""
    mat_id, mat_ver = require_materialized_columns(snap)
    return df.select(
        *(cols if cols is not None else [f.name for f in snap.schema.fields]),
        F.col(ROW_ID_COL).alias(mat_id),
        F.col(ROW_VER_COL).alias(mat_ver),
    )


def read_delta_with_row_ids(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a row-tracking table as (table schema + ``_row_id`` +
    ``_row_commit_version``) — see :func:`scan_with_row_ids`."""
    from pos_dlt_spark.sources.delta import delta_snapshot

    snap = delta_snapshot(spark, path, version)
    _require_row_tracking(snap)
    out = scan_with_row_ids(spark, snap)
    if out is None:
        base = spark.createDataFrame([], snap.schema)
        return base.withColumn(ROW_ID_COL, F.lit(None).cast("bigint")).withColumn(
            ROW_VER_COL, F.lit(None).cast("bigint")
        )
    return out


__all__ = [
    "ROW_TRACKING_DOMAIN",
    "ENABLE_PROP",
    "MAT_ROW_ID_PROP",
    "MAT_ROW_VER_PROP",
    "ROW_ID_COL",
    "ROW_VER_COL",
    "row_tracking_enabled",
    "mint_materialized_columns",
    "row_id_high_water_mark",
    "hwm_action",
    "assign_base_row_ids",
    "scan_with_row_ids",
    "to_materialized",
    "read_delta_with_row_ids",
]
