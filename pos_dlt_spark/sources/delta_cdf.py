"""Change Data Feed (CDF) for the protocol Delta suite — built from the
public PROTOCOL.md "Add CDC File" / "Change Data Files" section and the
delta-io CDF docs (`table_changes` semantics):

- When ``delta.enableChangeDataFeed=true``, DML commits (MERGE/DELETE
  here) also write CHANGE files under ``_change_data/`` holding the
  changed rows plus a ``_change_type`` column
  (``insert`` / ``update_preimage`` / ``update_postimage`` /
  ``delete``), referenced by ``cdc`` actions in the commit
  (``dataChange: false`` — they are derived data, invisible to normal
  reads and streaming replay). :func:`stage_change_files` writes them.
  ``delta_merge`` classifies its change rows on its own latest-per-key
  window (did the key have an old row; did a live update or a tombstone
  win it) and stages data and change files from the one frozen ranked
  frame, so a merge never re-runs its scan for the change set.
- Reading changes for a commit: if the commit carries cdc actions, its
  change files ARE the change set; otherwise changes derive from the
  data actions — ``add`` (dataChange=true) files are inserts, ``remove``
  (dataChange=true) files are deletes of their full content (readable
  until VACUUM collects them), exactly the protocol's derivation rule.
  A DV-carrying add (a row-level delete committed WITHOUT change files)
  is DERIVED too: the deleted rows are exactly the file's rows at (new
  DV minus the prior snapshot's DV for the same file) — one pinned-schema
  scan of the immutable file filtered by ``_metadata.row_index``; its
  paired same-path remove is DV bookkeeping, not a full-file delete.
  The row-index sets involved are bounded by the COMMIT's delete
  cardinality (the same bound ``delta_delete`` itself accepts).
- MERGE-ON-READ (row-tracking tables): a rewrite commit (dataChange
  adds AND removes) committed WITHOUT change files derives its change
  set by full-outer-joining old and new file contents on the STABLE row
  id — matched-and-different rows are update_preimage/postimage pairs,
  old-only deletes, new-only inserts, carried rows nothing. This is
  what ``delta_update/delta_merge(write_change_files=False)`` buys: the
  write saves the full change-file amplification; the read pays one
  id-keyed join bounded by the rewritten files' rows.

Everything stays in the existing cost classes: change files are written
by distributed jobs, the per-commit action walk is driver metadata, and
reads are pinned-schema parquet scans.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pos_dlt_spark.sources.delta import (
    DeltaSnapshot,
    _abs_file,
    _commit_actions,
    _hive_values,
    _list_log,
    _parquet_files,
    _rel_uri,
    delta_snapshot,
)

CHANGE_TYPE = "_change_type"
COMMIT_VERSION = "_commit_version"

# merge-on-read CDF guardrail: deriving one rewrite commit's change set
# joins old+new file contents on the row id — bounded by the rewritten
# files' rows, but a feed-hot table reading many derived commits pays it
# on EVERY read (measured 9.1 s derived vs 0.6 s stored at the 10M-row
# decade, SCALE.md r7). Past this many joined rows per commit the read
# warns, steering such tables back to explicit change files.
MOR_CDF_WARN_ROWS = 10_000_000


def cdf_enabled(snap: DeltaSnapshot) -> bool:
    return (snap.configuration.get("delta.enableChangeDataFeed") or "").lower() == "true"


def stage_change_files(
    changes: DataFrame, table_path: str, partition_by: list[str] | None
) -> list[dict]:
    """Write the change rows (data columns + ``_change_type``) under
    ``_change_data/`` (Hive-partitioned like the data files when the
    table is partitioned) and return the ``cdc`` actions for the commit."""
    staging = os.path.join(table_path, f"_staging_{uuid.uuid4().hex[:12]}")
    w = changes.write
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staging)
    actions = []
    for root, n, segs in _parquet_files(staging):
        rel = "/".join(["_change_data", *segs, f"cdc-{uuid.uuid4().hex}.parquet"])
        dest = os.path.join(table_path, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.replace(os.path.join(root, n), dest)
        actions.append(
            {
                "cdc": {
                    "path": _rel_uri(rel),
                    "partitionValues": _hive_values(segs),
                    "size": os.path.getsize(dest),
                    "dataChange": False,
                }
            }
        )
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    return actions


def _changes_by_commit(
    spark: SparkSession,
    path: str,
    start_version: int = 0,
    end_version: int | None = None,
):
    """Yield ``(version, changes_df)`` per in-range commit — the shared
    engine behind :func:`read_change_feed` (which unions the frames) and
    :func:`replay_changes` (which keeps them per-commit). DV-delta
    derivation needs each DV commit's PRIOR live file set; rather than
    re-folding the whole log per DV commit (quadratic over DV-heavy
    histories), the live ``{rel: add}`` map is seeded ONCE — at the
    first DV commit, from one snapshot fold — then maintained
    incrementally while iterating commits (driver dict ops, O(actions))."""
    snap = delta_snapshot(spark, path)
    out_cols = [f.name for f in snap.schema.fields]
    types = {f.name: f.dataType for f in snap.schema.fields}
    commits, _ = _list_log(os.path.join(path, "_delta_log"))
    # log actions key partitionValues by PHYSICAL name under column
    # mapping; translate to logical so the attach below speaks one naming
    p2l = {p: l for l, p in snap.physical_names.items()}

    def logical_pvals(pvals: dict) -> dict:
        if snap.column_mapping == "none":
            return pvals
        return {p2l.get(k, k): v for k, v in pvals.items()}

    def attach_partitions(df: DataFrame, pvals: dict) -> DataFrame:
        for c in snap.partition_columns:
            v = pvals.get(c)
            lit = F.lit(None) if v is None else F.lit(v)
            df = df.withColumn(c, lit.cast(types[c]))
        return df

    def pinned_read(
        fpaths: list[str],
        with_change_type: bool,
        with_row_index: bool = False,
        extra_fields: list[str] | None = None,
    ) -> DataFrame:
        """One pinned-schema scan of data/change files resolving COLUMN
        MAPPING exactly like the main read path: 'name' reads physical
        parquet names and aliases back to logical; 'id' pins parquet
        field ids (rename-proof). ``_change_type`` in change files is an
        unmapped physical column read by its literal name; the
        ``_metadata.row_index`` pseudo-column is appended BEFORE any
        projection (it only resolves against the scan itself).
        ``extra_fields`` appends nullable int64 PHYSICAL columns (the
        row-tracking materialized columns; cm 'none' only, like
        scan_rels)."""
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        base = [f for f in snap.schema.fields if f.name not in snap.partition_columns]
        if extra_fields and snap.column_mapping != "none":
            raise ValueError("extra_fields requires column mapping 'none'")
        if snap.column_mapping == "name":
            fields = [
                StructField(snap.physical_names[f.name], f.dataType, True)
                for f in base
            ]
        elif snap.column_mapping == "id":
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
            spark.conf.set(
                "spark.sql.parquet.fieldId.read.ignoreMissing", "true"
            )
            fields = [
                StructField(
                    f.name, f.dataType, True,
                    {"parquet.field.id": snap.field_ids[f.name]},
                )
                for f in base
            ]
        else:
            fields = [StructField(f.name, f.dataType, True) for f in base]
        if with_change_type:
            fields = fields + [StructField(CHANGE_TYPE, StringType())]
        fields = fields + [StructField(n, LongType(), True) for n in (extra_fields or [])]
        d = spark.read.schema(StructType(fields)).parquet(*fpaths)
        extra = (
            [F.col("_metadata.row_index").alias("__ri")] if with_row_index else []
        )
        if snap.column_mapping == "name":
            return d.select(
                *[
                    F.col(f"`{snap.physical_names[f.name]}`").alias(f.name)
                    for f in base
                ],
                *([F.col(CHANGE_TYPE)] if with_change_type else []),
                *extra,
            )
        return d.select("*", *extra) if extra else d

    def index_filter(d: DataFrame, idx: list[int], keep_matching: bool) -> DataFrame:
        """Filter a row-indexed scan by a file-absolute index set: small
        sets render as a BETWEEN-runs predicate (pure scan filter),
        larger ones as a broadcast semi/anti join. Bounded by a commit's
        delete cardinality, like the DV derivation."""
        runs: list[tuple[int, int]] = []
        for i in sorted(idx):
            if runs and i == runs[-1][1] + 1:
                runs[-1] = (runs[-1][0], i)
            else:
                runs.append((i, i))
        if len(runs) <= 256:
            cond = None
            for lo, hi in runs:
                c = (F.col("__ri") >= lo) & (F.col("__ri") <= hi)
                cond = c if cond is None else (cond | c)
            if cond is None:
                cond = F.lit(False)
            return d.filter(cond if keep_matching else ~cond)
        from pos_dlt_spark.tables import local_df

        excl = local_df(spark, [(int(i),) for i in idx], "__xri bigint")
        return d.join(
            F.broadcast(excl),
            F.col("__ri") == F.col("__xri"),
            "left_semi" if keep_matching else "left_anti",
        )

    def scan_groups(
        entries: list[tuple[str, dict]], extra_schema: str | None
    ) -> list[DataFrame]:
        """One pinned-schema scan per partition tuple over (rel, pvals)
        entries; change files carry _change_type as a real column."""
        groups: dict[tuple, tuple[dict, list[str]]] = {}
        for rel, raw_pvals in entries:
            pvals = logical_pvals(raw_pvals)
            k = tuple(pvals.get(c) for c in snap.partition_columns)
            groups.setdefault(k, (pvals, []))[1].append(_abs_file(path, rel))
        frames = []
        for k in sorted(groups, key=lambda t: tuple(map(str, t))):
            pvals, fpaths = groups[k]
            d = pinned_read(fpaths, with_change_type=bool(extra_schema))
            frames.append(attach_partitions(d, pvals))
        return frames

    def file_rows_by_index(
        rel: str, pvals: dict, idx: list[int], keep_matching: bool, tag: str
    ) -> DataFrame:
        """Rows of one immutable data file selected (or excluded) by their
        file-absolute row index, tagged with a change type. The index set
        is a commit's DV delta — bounded by that commit's delete
        cardinality; small sets render as a BETWEEN-runs predicate (pure
        scan filter), larger ones as a broadcast (semi/anti) join."""
        pvals = logical_pvals(pvals)
        d = pinned_read(
            [_abs_file(path, rel)], with_change_type=False, with_row_index=True
        )
        d = index_filter(d, idx, keep_matching)
        return attach_partitions(d.drop("__ri"), pvals).withColumn(
            CHANGE_TYPE, F.lit(tag)
        )

    from pos_dlt_spark.sources import delta_rowtracking as rtm

    rt_on = rtm.row_tracking_enabled(snap.configuration)
    mat_id = snap.configuration.get(rtm.MAT_ROW_ID_PROP)

    def rows_with_row_ids(add: dict) -> DataFrame | None:
        """One rewrite-file scan with each row's STABLE id resolved —
        ``coalesce(materialized id column, baseRowId + row_index)`` —
        and the add's own DV-deleted rows excluded. Returns None when
        the add lacks ``baseRowId`` (foreign non-rt writer): the caller
        falls back to the legacy whole-file derivation."""
        base = add.get("baseRowId")
        if base is None:
            return None
        rel = add["path"]
        pvals = logical_pvals(dict(add.get("partitionValues") or {}))
        mats = [mat_id] if mat_id else []
        d = pinned_read(
            [_abs_file(path, rel)],
            with_change_type=False,
            with_row_index=True,
            extra_fields=mats,
        )
        dv = add.get("deletionVector")
        if dv:
            from pos_dlt_spark.sources.dv import read_dv_descriptor

            d = index_filter(d, sorted(read_dv_descriptor(path, dv)), False)
        rid = F.col("__ri") + F.lit(int(base))
        if mat_id:
            rid = F.coalesce(F.col(f"`{mat_id}`"), rid)
        d = d.withColumn("__rid", rid.cast("bigint")).drop("__ri", *mats)
        return attach_partitions(d, pvals)

    def rt_rewrite_frames(
        old_actions: list[dict], new_actions: list[dict]
    ) -> list[DataFrame] | None:
        """MERGE-ON-READ CDF (the payoff of row tracking): derive a
        rewrite commit's change set by FULL-OUTER-joining old and new
        file contents on the stable row id — matched-and-different rows
        become update_preimage/postimage pairs, old-only rows deletes,
        new-only rows inserts, and CARRIED rows (same id, same values)
        contribute nothing. No change files were written for this
        commit; the derivation cost is bounded by the rewritten files'
        rows, and the write path saved their full change-file
        amplification. Returns None if any file lacks row ids (legacy
        derivation applies)."""
        olds = [rows_with_row_ids(a) for a in old_actions]
        news = [rows_with_row_ids(a) for a in new_actions]
        if any(d is None for d in olds + news):
            return None
        est = 0
        for a in old_actions + new_actions:
            st = a.get("stats")
            vals = (json.loads(st) if isinstance(st, str) else (st or {})) or {}
            est += int(vals.get("numRecords") or 0)
        if est > MOR_CDF_WARN_ROWS:
            import warnings

            warnings.warn(
                f"merge-on-read CDF derivation will join ~{est:,} "
                "rewritten-file rows for one commit (write_change_files="
                "False saved the write, the READ pays the join — 9.1 s vs "
                "0.6 s stored at the 10M-row decade); feed-hot tables "
                "should keep explicit change files",
                stacklevel=2,
            )
        old = olds[0]
        for d in olds[1:]:
            old = old.unionByName(d)
        new = news[0]
        for d in news[1:]:
            new = new.unionByName(d)
        o = old.select(
            F.col("__rid"),
            F.lit(True).alias("__o_present"),
            *[F.col(f"`{c}`").alias(f"__o_{c}") for c in out_cols],
        )
        n = new.select(
            F.col("__rid"),
            F.lit(True).alias("__n_present"),
            *[F.col(f"`{c}`").alias(f"__n_{c}") for c in out_cols],
        )
        j = o.join(n, "__rid", "full_outer")
        diff = None
        for c in out_cols:
            d_ = ~F.col(f"`__o_{c}`").eqNullSafe(F.col(f"`__n_{c}`"))
            diff = d_ if diff is None else (diff | d_)
        # ONE pass: classify each joined row, explode updates into their
        # pre/post pair, then pick the old or new side per change type —
        # a 4-way filter union would recompute the join per branch
        # (measured 19.3 s -> one-pass at the 10M-row decade)
        ct = (
            F.when(F.col("__n_present").isNull(), F.array(F.lit("delete")))
            .when(F.col("__o_present").isNull(), F.array(F.lit("insert")))
            .when(
                diff,
                F.array(F.lit("update_preimage"), F.lit("update_postimage")),
            )
            .otherwise(F.array().cast("array<string>"))  # carried row
        )
        tagged = j.select(
            F.explode(ct).alias(CHANGE_TYPE),
            *[F.col(f"`__o_{c}`") for c in out_cols],
            *[F.col(f"`__n_{c}`") for c in out_cols],
        )
        old_side = F.col(CHANGE_TYPE).isin("delete", "update_preimage")
        return [
            tagged.select(
                *[
                    F.when(old_side, F.col(f"`__o_{c}`"))
                    .otherwise(F.col(f"`__n_{c}`"))
                    .alias(c)
                    for c in out_cols
                ],
                F.col(CHANGE_TYPE),
            )
        ]

    # incremental prior-live-set state for DV-delta derivation: None
    # until the first DV commit needs it (seeded from ONE snapshot fold
    # of everything before that commit — checkpoints included), then
    # folded forward per commit
    dv_state: dict[str, dict] | None = None
    for v, p in commits:
        if v < start_version or (end_version is not None and v > end_version):
            continue
        actions = list(_commit_actions(p))
        cdc_entries: list[tuple[str, dict]] = []
        add_entries: list[tuple[str, dict]] = []
        plain_add_actions: list[dict] = []
        dv_add_actions: list[dict] = []
        remove_entries: list[tuple[str, dict]] = []
        re_added: set[str] = set()
        for a in actions:
            if "cdc" in a:
                cdc_entries.append(
                    (a["cdc"]["path"], dict(a["cdc"].get("partitionValues") or {}))
                )
            elif "add" in a and a["add"].get("dataChange", True):
                re_added.add(a["add"]["path"])
                if a["add"].get("deletionVector"):
                    dv_add_actions.append(a["add"])
                else:
                    plain_add_actions.append(a["add"])
                    add_entries.append(
                        (a["add"]["path"], dict(a["add"].get("partitionValues") or {}))
                    )
            elif "remove" in a and a["remove"].get("dataChange", True):
                remove_entries.append(
                    (a["remove"]["path"], dict(a["remove"].get("partitionValues") or {}))
                )
        if cdc_entries:
            frames = scan_groups(cdc_entries, extra_schema=CHANGE_TYPE)
        else:
            # a remove whose path is re-added in the SAME commit is the
            # bookkeeping half of a DV update (remove + add of one file),
            # not a full-file delete
            remove_entries = [
                (rel, pv) for rel, pv in remove_entries if rel not in re_added
            ]
            frames = None
            if (
                rt_on
                and snap.column_mapping == "none"
                and plain_add_actions
                and remove_entries
                and not dv_add_actions
            ):
                # rewrite shape (adds AND removes) on a row-tracking
                # table with no change files: merge-on-read derivation
                if dv_state is None:
                    dv_state = (
                        dict(delta_snapshot(spark, path, v - 1).adds)
                        if v > 0
                        else {}
                    )
                old_actions = [dv_state.get(rel) for rel, _ in remove_entries]
                if all(a is not None for a in old_actions):
                    frames = rt_rewrite_frames(old_actions, plain_add_actions)
            if frames is None:
                frames = [
                    d.withColumn(CHANGE_TYPE, F.lit("insert"))
                    for d in scan_groups(add_entries, extra_schema=None)
                ] + [
                    d.withColumn(CHANGE_TYPE, F.lit("delete"))
                    for d in scan_groups(remove_entries, extra_schema=None)
                ]
            if dv_add_actions:
                from pos_dlt_spark.sources.dv import read_dv_descriptor

                if dv_state is None:
                    dv_state = (
                        dict(delta_snapshot(spark, path, v - 1).adds)
                        if v > 0
                        else {}
                    )
                for add in dv_add_actions:
                    rel = add["path"]
                    pvals = dict(add.get("partitionValues") or {})
                    new_idx = set(read_dv_descriptor(path, add["deletionVector"]))
                    old = dv_state.get(rel)
                    if old is None:
                        # file is NEW in this commit and arrives with a DV:
                        # its change set is the inserts of its LIVE rows
                        frames.append(
                            file_rows_by_index(
                                rel, pvals, sorted(new_idx), False, "insert"
                            )
                        )
                        continue
                    old_dv = old.get("deletionVector")
                    old_idx = (
                        set(read_dv_descriptor(path, old_dv)) if old_dv else set()
                    )
                    newly = sorted(new_idx - old_idx)
                    if newly:
                        frames.append(
                            file_rows_by_index(rel, pvals, newly, True, "delete")
                        )
        if dv_state is not None:
            # fold THIS commit into the live set (removes first: a DV
            # update is remove+re-add of one path in one commit). All
            # adds/removes fold regardless of dataChange — OPTIMIZE's
            # dataChange=false actions still move files between commits.
            for a in actions:
                if "remove" in a:
                    dv_state.pop(a["remove"]["path"], None)
            for a in actions:
                if "add" in a:
                    dv_state[a["add"]["path"]] = a["add"]
        if frames:
            sel = [
                d.select(*out_cols, CHANGE_TYPE).withColumn(
                    COMMIT_VERSION, F.lit(v).cast("bigint")
                )
                for d in frames
            ]
            commit_df = sel[0]
            for d in sel[1:]:
                commit_df = commit_df.unionByName(d)
            yield v, commit_df


def _empty_changes(spark: SparkSession, snap: DeltaSnapshot) -> DataFrame:
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    empty = StructType(
        snap.schema.fields
        + [StructField(CHANGE_TYPE, StringType()), StructField(COMMIT_VERSION, LongType())]
    )
    return spark.createDataFrame([], empty)


def read_change_feed(
    spark: SparkSession,
    path: str,
    start_version: int = 0,
    end_version: int | None = None,
) -> DataFrame:
    """``table_changes(start, end)``: one DataFrame of the table schema
    plus ``_change_type`` and ``_commit_version``, covering every commit
    in the (inclusive) version range. Commits with cdc actions contribute
    their change files verbatim; commits without derive inserts from
    dataChange adds and deletes from dataChange removes (the removed
    file's content — VACUUMed history raises FileNotFoundError, the same
    retention bound real CDF reads have)."""
    parts = [
        df for _v, df in _changes_by_commit(spark, path, start_version, end_version)
    ]
    if not parts:
        return _empty_changes(spark, delta_snapshot(spark, path))
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    return out


def replay_changes(
    spark: SparkSession,
    path: str,
    start_version: int = 0,
    end_version: int | None = None,
) -> list[tuple[int, DataFrame]]:
    """Commit-ordered CDF replay plan: ``[(version, changes_df), ...]`` —
    the change-feed analogue of :func:`pos_dlt_spark.sources.delta.
    replay_adds` and the source shape DLT's ``apply_changes`` consumes
    when fed from a Delta table's change feed (each commit's changes are
    one micro-batch; a CDC target folds inserts/postimages via
    latest-per-key, deletes via its delete path). Versions contributing
    no changes are omitted. One pass over the log — prior-snapshot state
    for DV-delta commits is maintained incrementally, not re-folded per
    version."""
    return [
        (v, df)
        for v, df in _changes_by_commit(spark, path, start_version, end_version)
        if df.take(1)
    ]


__all__ = [
    "CHANGE_TYPE",
    "COMMIT_VERSION",
    "cdf_enabled",
    "read_change_feed",
    "replay_changes",
    "stage_change_files",
]
