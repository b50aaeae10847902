"""CDC apply-changes: keep the latest row per key, ordered by a sequence
column — the engine's equivalent of DLT's ``dlt.apply_changes(target, source,
keys, sequence_by)`` (reference `03_Bronze-to-Silver ETL.py:376,379-384`).

Two forms:

- :func:`latest_per_key` — the batch form: reduce any DataFrame to its latest
  row per key with a ``row_number()`` window. This is also the batch oracle
  the reference notebook describes for the streaming merge (`03:370,388`).
- :class:`ApplyChanges` — the streaming form: ``foreachBatch`` upsert into a
  keyed table (a parquet directory or bucketed manifest store here; a Delta
  table through the pipeline's sinks). Each micro-batch is first reduced with
  :func:`latest_per_key` (intra-batch latest), then merged against the
  current target state, keeping whichever row has the greater sequence value
  (out-of-order older rows are ignored; re-running the same batch is
  idempotent).

Scale notes (100 TB): the window and the merge both hash-partition on the
key columns only — state per key is one row, so target size is bounded by
key cardinality, not stream length. With ``n_buckets`` set, the target is
stored as key-hash bucket directories tracked by a single manifest file and
each micro-batch reads and rewrites ONLY the buckets its keys touch —
merge cost tracks batch key-spread, not target size, which is what a
Delta/Iceberg MERGE's file pruning buys.

Atomicity (the part a table format adds, rebuilt here in miniature à la
Delta's _delta_log): every micro-batch writes its touched buckets into a
FRESH ``epoch_<n>`` directory, then commits by atomically replacing
``_manifest.json`` (one ``os.replace``) to point those buckets at their
new directories. A reader resolves the manifest once and scans exactly the
referenced directories, so it sees the complete pre-commit state or the
complete post-commit state — never a mix. Superseded bucket directories
are retained for ``retention`` commit generations (default 1) before
deletion, so a reader that resolved an old manifest can finish its scan
and ``read_target(version=...)`` can time-travel that many generations
back — the same contract as Delta's VACUUM retention, counted in commits
rather than hours. The manifest also pins
``n_buckets`` + ``keys`` and the merge fails fast on mismatch — re-routing
keys to different buckets by changing ``n_buckets`` mid-life would
silently leave stale duplicates in untouched partitions.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_manifest.json"


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    sequence_by: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """One row per key: max ``sequence_by`` wins; optional extra descending
    tiebreaker columns make the choice total when sequence values collide."""
    order = [F.col(sequence_by).desc()] + [F.col(c).desc() for c in tiebreakers]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# the SCD2-computed interval columns (DLT's names) — storage-owned,
# recomputed on every merge, never accepted from the source
SCD2_COLS = ("__START_AT", "__END_AT")


def scd2_rebuild(
    df: DataFrame,
    keys: Sequence[str],
    sequence_by: str,
    tiebreakers: Sequence[str] = (),
    has_tombstones: bool = False,
    untracked: Sequence[str] = (),
) -> DataFrame:
    """Recompute ``__START_AT`` / ``__END_AT`` over a key's full version
    set: one lead() window per key partition (the same single key-shuffle
    as :func:`scd2_history`). Rows must already be deduplicated on the
    full tuple. With ``has_tombstones`` the ``__tombstone`` flag column orders
    a tombstone AFTER a same-sequence version (the delete closes it at a
    zero-width interval rather than racing it); a tombstone's own bounds
    are irrelevant — reads filter it out.

    ``untracked`` is DLT's ``track_history_except_column_list``: a change
    touching ONLY those columns does not open a new version — consecutive
    rows whose TRACKED columns are equal collapse into one version that
    KEEPS the run's first ``__START_AT`` and carries the run's LATEST
    untracked values (DLT's update-in-place contract). Implemented as a
    run-grouping over the same key window (lag-change flag -> running
    sum -> last-row-per-run), so the result is still a pure function of
    the version set — reruns and replays stay idempotent. Tombstones
    never collapse into a run (a delete always closes)."""
    order = [F.col(sequence_by).asc(), *[F.col(t).asc() for t in tiebreakers]]
    if has_tombstones:
        order.append(F.col("__tombstone").asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    if untracked:
        tracked = [
            c
            for c in df.columns
            if c not in set(untracked)
            and c not in set(keys)
            and c != sequence_by
            and c not in (*SCD2_COLS, "__tombstone")
        ]
        same_as_prev = F.lit(True)
        for c in tracked:
            same_as_prev = same_as_prev & F.col(c).eqNullSafe(
                F.lag(c).over(w)
            )
        if has_tombstones:
            # a tombstone is its own run, and nothing runs PAST one
            same_as_prev = (
                same_as_prev
                & ~F.col("__tombstone")
                & ~F.lag("__tombstone").over(w)
            )
        df = df.withColumn(
            "__new_run",
            F.when(F.lag(sequence_by).over(w).isNull() | ~same_as_prev, 1)
            .otherwise(0),
        ).withColumn("__run", F.sum("__new_run").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ))
        # last row of each run wins (latest untracked values), but the
        # version OPENS at the run's first sequence value
        rw = Window.partitionBy(*keys, "__run").orderBy(*order)
        df = (
            df.withColumn("__run_start", F.first(sequence_by).over(rw))
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy(*keys, "__run").orderBy(
                        F.col(sequence_by).desc(),
                        *[F.col(t).desc() for t in tiebreakers],
                    )
                ),
            )
            .filter(F.col("__rn") == 1)
            .withColumn(sequence_by, F.col("__run_start"))
            .drop("__new_run", "__run", "__run_start", "__rn")
        )
        # re-derive the window over the collapsed set
        w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("__START_AT", F.col(sequence_by)).withColumn(
        "__END_AT", F.lead(sequence_by).over(w)
    )


# the SCD contract of a target written before the contract was pinned
_DEFAULT_CONTRACT = {
    "scd_type": 1, "track_history_except": [], "track_history_only": None,
}


def _check_scd_contract(
    scd_type: int,
    track_except: Sequence[str],
    track_only: Sequence[str] | None,
    reserved: set[str],
) -> None:
    """The SCD declaration rules both apply-changes forms share: type 1
    or 2; the two track-history lists are SCD2-only and mutually
    exclusive (DLT's contract); neither may list a ``reserved`` column
    (keys always identify a history; the sequence always orders it)."""
    if scd_type not in (1, 2):
        raise ValueError(f"stored_as_scd_type must be 1 or 2, got {scd_type!r}")
    if track_except and scd_type != 2:
        raise ValueError(
            "track_history_except_column_list requires stored_as_scd_type=2 "
            "(SCD1 keeps no history to track)"
        )
    if track_only is not None and scd_type != 2:
        raise ValueError("track_history_column_list requires stored_as_scd_type=2")
    if track_except and track_only is not None:
        raise ValueError(
            "track_history_column_list and track_history_except_column_list "
            "are mutually exclusive (DLT's contract)"
        )
    for name, cols in (
        ("track_history_except_column_list", track_except),
        ("track_history_column_list", track_only or ()),
    ):
        bad = set(cols) & reserved
        if bad:
            raise ValueError(
                f"{name} cannot contain keys or sequence_by: {sorted(bad)}"
            )


def _rmdir_if_no_bucket(d: str) -> None:
    """Remove epoch directory ``d`` once it holds no ``__bucket=`` data
    directory: what remains are job markers (``_SUCCESS`` and the hidden
    ``._SUCCESS.crc`` Hadoop writes beside it)."""
    try:
        if not any(e.startswith("__bucket=") for e in os.listdir(d)):
            shutil.rmtree(d, ignore_errors=True)
    except FileNotFoundError:
        pass


def _recover_swap(target_path: str) -> None:
    """A crash between :func:`_swap_in`'s two renames strands the live
    state in ``.__old`` with no target dir; restore it before any read or
    fold, so the next batch sees the last complete state instead of an
    empty target (and an SCD2 store keeps its closed history)."""
    old = target_path + ".__old"
    if not os.path.exists(target_path) and os.path.exists(old):
        os.rename(old, target_path)


def _swap_in(df: DataFrame, target_path: str, tmp_suffix: str) -> None:
    """Write-then-swap: the whole new state lands beside the target, then
    two renames replace it. This keeps the read path consistent for the
    writer's own cadence; the renames are not jointly atomic — a
    concurrent reader can hit the instant where ``target_path`` does not
    exist, and a crash between them is healed by :func:`_recover_swap`.
    The bucketed manifest layout is the mode with true reader isolation;
    this one trades that for zero metadata."""
    tmp = target_path + tmp_suffix
    df.write.mode("overwrite").parquet(tmp)
    old = target_path + ".__old"
    if os.path.exists(target_path):
        os.rename(target_path, old)
    os.rename(tmp, target_path)
    shutil.rmtree(old, ignore_errors=True)


class ApplyChanges:
    """Streaming CDC upsert into a keyed table: the one definition of
    what a micro-batch does to its target.

    Usage::

        ac = ApplyChanges(target_path, keys=["store_id", "item_id"],
                          sequence_by="date_time")
        q = (source_stream.writeStream
             .foreachBatch(ac.process_batch)
             .option("checkpointLocation", ckpt)
             .start())

    The target always holds the current one-row-per-key state.

    :meth:`_prepare` shapes a raw batch and :meth:`_fold` folds it into
    the prior state of the keys it touches; :meth:`merge` is the two in
    sequence. Four stores apply that one fold: the unbucketed
    write-then-swap parquet directory and the bucketed manifest store
    (both behind :meth:`process_batch`), and the pipeline's SCD1 and
    SCD2 Delta sinks (``PipelineRunner._run_cdc``), which commit it with
    the Delta protocol.

    ``apply_as_deletes`` (DLT's parameter of the same name) treats
    matching source rows as DELETE tombstones: the newest-by-sequence
    row for a key being a delete removes the key. Within a batch,
    out-of-order deletes/updates resolve by the sequence ordering; ACROSS
    batches the tombstone is not retained, so a later batch carrying an
    OLDER update for a deleted key re-inserts it — deletes therefore
    require per-key monotone sequences across batches (the same
    operational contract DLT's bounded tombstone retention enforces with
    a window). ``except_column_list`` drops source-only columns (the op
    marker) from the stored state after the predicate is evaluated.

    ``stored_as_scd_type=2`` (DLT's parameter of the same name; the
    reference's apply_changes API documents both modes alongside the
    SCD1 call at `03_Bronze-to-Silver ETL.py:379-384`) maintains the
    target as TYPE-2 HISTORY instead of latest state: every change is a
    version row with ``__START_AT`` / ``__END_AT`` (DLT's column names;
    ``__END_AT`` NULL while current). Each micro-batch merges its
    version rows into the touched keys' histories and recomputes the
    interval bounds with one lead() window per touched key — so
    OUT-OF-ORDER rows insert into the middle of a history, closing and
    re-bounding their neighbors, and re-running a batch is idempotent
    (version identity is the full row tuple). With ``apply_as_deletes``
    a winning tombstone CLOSES the key's open interval at the
    tombstone's sequence without adding a visible version; tombstones
    are RETAINED in storage (flagged ``__tombstone``, filtered from reads), so
    SCD2 deletes are correct under cross-batch reordering — unlike
    SCD1's monotone-sequence contract.
    """

    def __init__(
        self,
        target_path: str,
        keys: Sequence[str],
        sequence_by: str,
        tiebreakers: Sequence[str] = (),
        n_buckets: int | None = None,
        merge_schema: bool = False,
        bucket_keys: Sequence[str] | None = None,
        retention: int = 1,
        apply_as_deletes: str | None = None,
        except_column_list: Sequence[str] = (),
        stored_as_scd_type: int = 1,
        track_history_except_column_list: Sequence[str] = (),
        track_history_column_list: Sequence[str] | None = None,
        column_list: Sequence[str] | None = None,
        ignore_null_updates: bool = False,
    ) -> None:
        _check_scd_contract(
            stored_as_scd_type,
            track_history_except_column_list,
            track_history_column_list,
            reserved=set(keys) | {sequence_by},
        )
        # DLT's track_history_column_list: the POSITIVE form — ONLY the
        # listed columns' changes open new versions; every other non-key
        # column refreshes in place. Complement of the except form,
        # resolved against the actual batch columns at merge time.
        self.track_history_only = (
            list(track_history_column_list)
            if track_history_column_list is not None
            else None
        )
        self.track_history_except = list(track_history_except_column_list)
        self.scd_type = stored_as_scd_type
        self.target_path = target_path
        self.keys = list(keys)
        self.sequence_by = sequence_by
        self.tiebreakers = list(tiebreakers)
        self.n_buckets = n_buckets
        # DLT's apply_as_deletes: a SQL predicate over the SOURCE columns;
        # an incoming row matching it is a DELETE tombstone — when it wins
        # the per-key sequence ordering the key is REMOVED from the target
        # (an out-of-order older delete loses and is ignored, same as any
        # stale update). except_column_list: source-only columns (the op
        # marker, typically) dropped from the target state AFTER the
        # predicate is evaluated — DLT's except_column_list.
        self.apply_as_deletes = apply_as_deletes
        self.except_column_list = list(except_column_list)
        if set(self.except_column_list) & set(self.keys):
            raise ValueError("except_column_list cannot contain merge keys")
        if sequence_by in self.except_column_list:
            raise ValueError("except_column_list cannot contain sequence_by")
        # DLT's column_list: the POSITIVE projection (keep only these
        # columns in the stored state) — the complement of
        # except_column_list, applied at the same point (after the delete
        # predicate is evaluated). Keys and sequence_by must be listed.
        if column_list is not None and except_column_list:
            raise ValueError(
                "column_list and except_column_list are mutually exclusive "
                "(DLT's contract)"
            )
        self.column_list = list(column_list) if column_list is not None else None
        if self.column_list is not None:
            missing = (set(self.keys) | {sequence_by}) - set(self.column_list)
            if missing:
                raise ValueError(
                    f"column_list must include keys and sequence_by; "
                    f"missing {sorted(missing)}"
                )
        # DLT's ignore_null_updates: a NULL in a source column means "no
        # change" — the value inherits from the key's previous state /
        # version (a last-non-null fold over the key's sequence order)
        # instead of overwriting with NULL.
        self.ignore_null_updates = bool(ignore_null_updates)
        # How many PRIOR commit generations stay readable (time travel) and
        # how long superseded bucket dirs survive before GC — Delta VACUUM
        # retention, counted in commits. 1 = the original behavior.
        if retention < 1:
            raise ValueError(f"retention must be >= 1, got {retention}")
        self.retention = retention
        # Delta's schema.autoMerge equivalent, and like it opt-in: a batch
        # may ADD columns (existing rows read them as null) or omit columns
        # (incoming rows get null). Off = any column-set drift fails fast.
        self.merge_schema = merge_schema
        # Bucket routing may use a SUBSET of the merge keys (e.g. bucket a
        # (store, item) target by store alone): all of a store's items then
        # co-locate in one bucket, which makes store-level rollups
        # bucket-local (operators/incremental.py) and clusters reads, at
        # the cost of coarser partial-rewrite pruning (one item's change
        # rewrites its whole store's bucket).
        self.bucket_keys = list(bucket_keys) if bucket_keys is not None else self.keys
        if not set(self.bucket_keys) <= set(self.keys):
            raise ValueError(
                f"bucket_keys {self.bucket_keys} must be a subset of keys {self.keys}"
            )

    def _untracked_for(self, columns: Sequence[str]) -> list[str]:
        """Effective untracked-column list for a merge over ``columns``:
        the declared except-list, or (positive form) every data column
        NOT in track_history_column_list."""
        if self.track_history_only is None:
            return self.track_history_except
        # tiebreakers stay tracked: they are part of the version ordering
        # identity, so collapsing runs across differing tiebreaker values
        # would make replays order-dependent
        reserved = (
            set(self.keys)
            | {self.sequence_by, "__tombstone", "__bucket"}
            | set(self.tiebreakers)
            | set(SCD2_COLS)
        )
        return [
            c
            for c in columns
            if c not in reserved and c not in set(self.track_history_only)
        ]

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__bucket",
            F.pmod(F.hash(*[F.col(k) for k in self.bucket_keys]), F.lit(self.n_buckets)),
        )

    # -- merge logic (pure DataFrame in / DataFrame out, unit-testable) ----

    def _prepare(self, batch: DataFrame) -> DataFrame:
        """Shape a raw micro-batch for :meth:`_fold`. The tombstone flag is
        taken from the RAW columns (the apply_as_deletes predicate may
        reference except-listed ones), then except_column_list /
        column_list project the stored columns. SCD1 reduces the batch to
        its latest row per key, except under ignore_null_updates, whose
        fold needs every row's non-null contributions; SCD2 keeps every
        version row, deduplicated.

        SCD1's flag is the transient ``__del`` (the fold drops it). SCD2's
        is ``__tombstone``, retained in storage — NOT named __del there:
        that is delta_merge's transient delete-predicate tag, and a stored
        column of that name would be misread by its change-feed
        classifier."""
        flag = "__tombstone" if self.scd_type == 2 else "__del"
        rows = batch
        if self.apply_as_deletes:
            rows = rows.withColumn(
                flag, F.coalesce(F.expr(self.apply_as_deletes), F.lit(False))
            )
        if self.except_column_list:
            rows = rows.drop(*self.except_column_list)
        if self.column_list is not None:
            rows = rows.select(
                *self.column_list, *([flag] if self.apply_as_deletes else [])
            )
        if self.scd_type == 2:
            return self._scd2_dedupe(rows)
        if self.ignore_null_updates:
            return rows
        return latest_per_key(rows, self.keys, self.sequence_by, self.tiebreakers)

    def _null_fold(self, df: DataFrame) -> DataFrame:
        """ignore_null_updates: every data column becomes the LAST
        NON-NULL value at-or-before the row in the key's sequence order —
        a running fold, so chained partial updates compose and a NULL
        never overwrites. On exact sequence ties the existing target row
        (``__is_target`` = 1) orders last, consistent with the merge's
        target-wins tie rule."""
        order = [
            F.col(self.sequence_by).asc(),
            *[F.col(t).asc() for t in self.tiebreakers],
        ]
        if "__is_target" in df.columns:
            order.append(F.col("__is_target").asc())
        if "__tombstone" in df.columns:
            order.append(F.col("__tombstone").asc())
        w = (
            Window.partitionBy(*self.keys)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        skip = (
            set(self.keys)
            | {self.sequence_by, "__is_target", "__del", "__bucket",
               "__tombstone", *SCD2_COLS}
            | set(self.tiebreakers)
        )
        return df.select(
            *[
                F.last(c, ignorenulls=True).over(w).alias(c)
                if c not in skip
                else F.col(c)
                for c in df.columns
            ]
        )

    def _scd2_dedupe(self, rows: DataFrame) -> DataFrame:
        """Version-set dedupe. Plain mode: full-tuple distinct. With
        ignore_null_updates: group by the VERSION IDENTITY (keys +
        sequence + tiebreakers + tombstone flag) taking max per data
        column — a stored null-filled row and its replayed null-bearing
        source row collapse to one version deterministically (max skips
        nulls), keeping reruns idempotent."""
        if not self.ignore_null_updates:
            return rows.dropDuplicates()
        ident = [*self.keys, self.sequence_by, *self.tiebreakers]
        if self.apply_as_deletes:
            ident.append("__tombstone")
        data = [c for c in rows.columns if c not in set(ident)]
        return rows.groupBy(*ident).agg(
            *[F.max(c).alias(c) for c in data]
        )

    def _fold(self, target: DataFrame | None, prepared: DataFrame) -> DataFrame:
        """Fold a :meth:`_prepare`-d batch into ``target`` — the RAW prior
        state (SCD2 tombstones included) of at least the keys the batch
        touches, or None when there is none — and return those keys' new
        state.

        SCD1: union + latest-per-key == MERGE whenMatched-and-newer
        update, whenNotMatched insert. A target row only loses to an
        incoming row with a strictly greater (sequence, tiebreakers...)
        ordering, because the ``__is_target`` tiebreak prefers the
        existing row on exact ties. A delete that WON the ordering removes
        its key; SCD1 does not retain tombstones.

        SCD2: the target's version set, interval columns stripped (they
        are storage-owned, so a re-bounded version collapses with its
        prior self), unions the batch's, is deduplicated (idempotent
        reruns and replays), and :func:`scd2_rebuild` recomputes the
        bounds. Out-of-order rows land in the middle of their key's
        history and re-bound the neighbors; a retained tombstone closes
        whatever precedes it, even across batches."""
        rows = prepared
        if target is not None:
            if self.scd_type == 2:
                target = target.drop(*SCD2_COLS)
            expected = set(prepared.columns) - {"__del"}
            if set(target.columns) != expected and not self.merge_schema:
                raise ValueError(
                    "batch schema drifted from target "
                    f"(target={sorted(target.columns)} batch={sorted(expected)}); "
                    "pass merge_schema=True to evolve"
                )
            if self.scd_type == 2:
                rows = self._scd2_dedupe(
                    target.unionByName(
                        prepared, allowMissingColumns=self.merge_schema
                    )
                )
            else:
                target = target.withColumn("__is_target", F.lit(1))
                if self.apply_as_deletes:
                    target = target.withColumn("__del", F.lit(False))
                rows = target.unionByName(
                    prepared.withColumn("__is_target", F.lit(0)),
                    allowMissingColumns=self.merge_schema,
                )
        if self.ignore_null_updates:
            rows = self._null_fold(rows)
        if self.scd_type == 2:
            return scd2_rebuild(
                rows,
                self.keys,
                self.sequence_by,
                self.tiebreakers,
                has_tombstones=bool(self.apply_as_deletes),
                untracked=self._untracked_for(rows.columns),
            )
        if target is not None or self.ignore_null_updates:
            # (with neither, the prepared batch is already one row per key)
            ties = self.tiebreakers + (["__is_target"] if target is not None else [])
            rows = latest_per_key(
                rows, self.keys, self.sequence_by, ties
            ).drop("__is_target")
        if self.apply_as_deletes:
            rows = rows.filter(~F.col("__del")).drop("__del")
        return rows

    def merge(self, target: DataFrame | None, batch: DataFrame) -> DataFrame:
        """Merge a raw micro-batch into the current target state."""
        return self._fold(target, self._prepare(batch))

    # -- manifest (bucketed mode's commit log) ------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.target_path, MANIFEST)

    def _read_manifest(self) -> dict | None:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _validate_layout(self, manifest: dict | None) -> None:
        """Fail fast instead of silently corrupting: a bucketed flow must
        not point at a target written with different bucketing (keys would
        re-route and stale rows would linger in never-touched buckets), and
        an unbucketed flow must not clobber a manifest-tracked target."""
        if self.n_buckets is None:
            if manifest is not None:
                raise ValueError(
                    f"target {self.target_path} is a bucketed (manifest) table; "
                    "construct ApplyChanges with the same n_buckets="
                    f"{manifest['n_buckets']}"
                )
            return
        if manifest is not None:
            self._check_pinned(manifest)
            # older manifests predate bucket_keys: they bucketed by keys
            m_bucket_keys = manifest.get("bucket_keys", manifest["keys"])
            if (
                manifest["n_buckets"] != self.n_buckets
                or manifest["keys"] != self.keys
                or m_bucket_keys != self.bucket_keys
            ):
                raise ValueError(
                    "bucket spec mismatch: target has n_buckets="
                    f"{manifest['n_buckets']} keys={manifest['keys']} "
                    f"bucket_keys={m_bucket_keys}, flow has "
                    f"n_buckets={self.n_buckets} keys={self.keys} "
                    f"bucket_keys={self.bucket_keys}; changing any of these "
                    "re-routes keys across buckets and corrupts the merge"
                )
            return
        if os.path.isdir(self.target_path) and any(
            e == "_SUCCESS" or e.startswith("__bucket=") or e.startswith("epoch_")
            for e in os.listdir(self.target_path)
        ):
            raise ValueError(
                f"target {self.target_path} exists but has no {MANIFEST}: "
                "refusing to bucket-merge into an unbucketed or legacy layout"
            )

    def _commit_manifest(self, manifest: dict) -> None:
        """One atomic pointer swap = the transaction commit."""
        os.makedirs(self.target_path, exist_ok=True)
        tmp = self._manifest_path() + f".tmp_{manifest['version']}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())

    @staticmethod
    def _history_of(manifest: dict) -> list[dict]:
        """Prior generations, most recent first. Pre-retention manifests
        recorded only ``prev_buckets`` (exactly one generation)."""
        hist = manifest.get("history")
        if hist is not None:
            return hist
        prev = manifest.get("prev_buckets")
        return [{"version": manifest["version"] - 1, "buckets": prev}] if prev else []

    @staticmethod
    def _retired_log_of(manifest: dict) -> list[dict]:
        """Superseded-dir log: which commit retired which directories.
        Pre-retention manifests carried a flat ``retired`` list (implicitly
        retired by that manifest's own commit)."""
        log = manifest.get("retired_log")
        if log is not None:
            return log
        flat = manifest.get("retired") or []
        return [{"version": manifest["version"], "dirs": flat}] if flat else []

    def _repoint(
        self, manifest: dict | None, touched: list[int], epoch_dir: str
    ) -> tuple[dict, list[str]]:
        """The bucket map after the ``touched`` buckets were rewritten into
        ``epoch_dir``, and the directories that rewrite retires. A touched
        bucket the write left without a directory (every one of its keys
        was deleted) loses its pointer instead of naming a missing dir;
        an ``epoch_dir`` left with no bucket at all is removed."""
        buckets = dict(manifest["buckets"]) if manifest else {}
        retired = [buckets[str(b)] for b in touched if str(b) in buckets]
        for b in touched:
            rel = os.path.join(epoch_dir, f"__bucket={b}")
            if os.path.isdir(os.path.join(self.target_path, rel)):
                buckets[str(b)] = rel
            else:
                buckets.pop(str(b), None)
        _rmdir_if_no_bucket(os.path.join(self.target_path, epoch_dir))
        return buckets, retired

    def _commit_and_gc(
        self,
        manifest: dict | None,
        version: int,
        buckets: dict,
        retired: list[str],
        schema_json: str,
    ) -> None:
        """Commit generation ``version`` and GC dirs older than retention.

        A dir retired at commit v belongs to the states of generations
        < v; it must survive while generation v-1 is still retained, i.e.
        until the current version reaches v + retention."""
        history = (
            [
                {"version": manifest["version"], "buckets": dict(manifest["buckets"])},
                *self._history_of(manifest),
            ][: self.retention]
            if manifest
            else []
        )
        log = ([{"version": version, "dirs": retired}] if retired else []) + (
            self._retired_log_of(manifest) if manifest else []
        )
        gc_entries = [e for e in log if e["version"] <= version - self.retention]
        keep_log = [e for e in log if e["version"] > version - self.retention]
        new_manifest = {
            "version": version,
            "n_buckets": self.n_buckets,
            "keys": self.keys,
            "bucket_keys": self.bucket_keys,
            "sequence_by": self.sequence_by,
            "buckets": buckets,
            "retired": retired,
            "retired_log": keep_log,
            "history": history,
            # back-compat mirror of history[0] for pre-retention readers
            "prev_buckets": dict(history[0]["buckets"]) if history else None,
            "schema": schema_json,
            **self._contract(),
        }
        self._commit_manifest(new_manifest)
        for entry in gc_entries:
            for rel in entry["dirs"]:
                gone = os.path.join(self.target_path, rel)
                shutil.rmtree(gone, ignore_errors=True)
                _rmdir_if_no_bucket(os.path.dirname(gone))

    # -- foreachBatch sink --------------------------------------------------

    def _target_exists(self) -> bool:
        if os.path.exists(os.path.join(self.target_path, "_SUCCESS")):
            return True
        return self._read_manifest() is not None

    @staticmethod
    def _visible(df: DataFrame | None, raw: bool) -> DataFrame | None:
        """Reader-facing view of stored state: SCD2 tombstones (the
        ``__tombstone`` flag column, present only when an SCD2 flow was
        declared with apply_as_deletes) are merge bookkeeping, not
        versions — filtered and dropped unless the caller asked for the
        raw stored rows (the merge itself must see them)."""
        if df is None or raw or "__tombstone" not in df.columns:
            return df
        return df.filter(~F.col("__tombstone")).drop("__tombstone")

    def read_target(
        self,
        spark: SparkSession,
        previous: bool = False,
        version: int | None = None,
        raw: bool = False,
    ) -> DataFrame | None:
        """Current committed state. Bucketed targets resolve the manifest to
        concrete bucket directories — path-level pruning, no partition
        discovery — and superseded snapshots stay readable for
        ``retention`` subsequent commits even while merges run.

        ``previous=True`` is TIME TRAVEL one commit back;
        ``version=<n>`` is Delta ``VERSION AS OF n`` for any generation
        still inside the retention window (the manifest records each
        retained generation's full bucket map, and GC honors the window).
        Returns None when no prior commit exists; raises if the requested
        version fell out of retention or the flow is unbucketed (no
        manifest, no history)."""
        manifest = self._read_manifest()
        if manifest is not None:
            if version is not None and version != manifest["version"]:
                hit = next(
                    (e for e in self._history_of(manifest) if e["version"] == version),
                    None,
                )
                if hit is None:
                    retained = [e["version"] for e in self._history_of(manifest)]
                    raise ValueError(
                        f"version {version} not retained (current="
                        f"{manifest['version']}, retained={retained}, "
                        f"retention={self.retention})"
                    )
                bmap = hit["buckets"]
            elif previous:
                hist = self._history_of(manifest)
                if not hist:
                    return None
                bmap = hist[0]["buckets"]
            else:
                bmap = manifest["buckets"]
            paths = [os.path.join(self.target_path, p) for p in bmap.values()]
            # manifest-pinned schema: after evolution old bucket dirs
            # lack the new columns; an explicit schema null-fills them
            # on scan with NO per-file footer merge (mergeSchema cost)
            schema = manifest.get("schema")
            schema = StructType.fromJson(json.loads(schema)) if schema else None
            if not paths:
                # deletes emptied every bucket: the state is empty, not absent
                if schema is None:
                    return None
                from pos_dlt_spark.tables import local_df

                return self._visible(local_df(spark, [], schema), raw)
            reader = spark.read if schema is None else spark.read.schema(schema)
            return self._visible(reader.parquet(*paths), raw)
        if previous:
            raise ValueError(
                f"target {self.target_path} is not manifest-tracked: no snapshot history"
            )
        if not self._target_exists():
            return None
        return self._visible(spark.read.parquet(self.target_path), raw)

    def delete_keys(self, spark: SparkSession, doomed: DataFrame) -> int:
        """Propagate key deletions through the target (right-to-be-forgotten
        / retention enforcement — Delta ``DELETE WHERE key IN ...``
        equivalent). ``doomed`` carries the merge-key columns; every target
        row matching one of its keys is removed.

        Bucketed targets only: deletion is a transactional partial rewrite —
        doomed keys route to their buckets by the same hash as the merge,
        ONLY those buckets are re-read and anti-joined, the survivors land
        in a fresh ``delete_g<version>`` epoch dir, and one manifest swap
        commits. Untouched buckets keep their directories byte-for-byte; a
        bucket whose every row is doomed loses its manifest pointer
        entirely. Readers racing the delete see the old or the new complete
        state, and ``read_target(previous=True)`` still serves the
        pre-delete snapshot for one generation — the audit trail.

        Returns the number of rows deleted. I/O and the two bookkeeping
        counts scale with the touched buckets, never the target size.
        """
        if self.n_buckets is None:
            raise ValueError(
                "delete_keys requires the bucketed (manifest) layout; "
                "unbucketed targets have no transactional partial rewrite"
            )
        manifest = self._read_manifest()
        if manifest is None:
            return 0
        self._validate_layout(manifest)
        doomed_k = self._with_bucket(
            doomed.select(*self.keys).distinct()
        ).localCheckpoint(eager=True)
        touched = [int(r[0]) for r in doomed_k.select("__bucket").distinct().collect()]
        touched_paths = [
            os.path.join(self.target_path, manifest["buckets"][str(b)])
            for b in touched
            if str(b) in manifest["buckets"]
        ]
        if not touched_paths:
            return 0
        reader = spark.read
        if manifest.get("schema"):
            reader = reader.schema(StructType.fromJson(json.loads(manifest["schema"])))
        target = self._with_bucket(reader.parquet(*touched_paths))
        kept = target.join(
            doomed_k.select(*self.keys), self.keys, "left_anti"
        ).localCheckpoint(eager=True)  # one compute: counted, written, scanned
        n_deleted = target.count() - kept.count()
        if n_deleted == 0:
            return 0

        version = manifest["version"] + 1
        epoch_dir = f"delete_g{version}"
        (
            kept.repartition("__bucket")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(os.path.join(self.target_path, epoch_dir))
        )
        buckets, retired = self._repoint(manifest, touched, epoch_dir)
        self._commit_and_gc(
            manifest,
            version,
            buckets,
            retired,
            manifest.get("schema")
            or StructType(
                [f for f in kept.schema.fields if f.name != "__bucket"]
            ).json(),
        )
        return n_deleted

    def _contract(self) -> dict:
        """The layout-shaping declaration a target is pinned to: the
        bucketed manifest and the unbucketed sidecar both store it."""
        return {
            "scd_type": self.scd_type,
            "track_history_except": self.track_history_except,
            "track_history_only": self.track_history_only,
        }

    def _check_pinned(self, stored: dict) -> None:
        """Refuse a declaration whose SCD contract differs from the one
        the target was written with (``stored``: its manifest or sidecar;
        keys absent there read as the historical default)."""
        stored = {**_DEFAULT_CONTRACT, **stored}
        if int(stored["scd_type"]) != self.scd_type:
            raise ValueError(
                f"SCD-type mismatch: target {self.target_path} stores type "
                f"{stored['scd_type']}, flow declares type {self.scd_type}; "
                "a latest-state table and a history table are different "
                "schemas — recreate the target"
            )
        declared = self._contract()
        for key, name in (
            ("track_history_except", "track_history_except_column_list"),
            ("track_history_only", "track_history_column_list"),
        ):
            if stored[key] != declared[key]:
                raise ValueError(
                    f"{name} mismatch: target {self.target_path} stores "
                    f"{stored[key]}, flow declares {declared[key]}; changing "
                    "the tracked-column set mid-life makes old runs and new "
                    "runs collapse differently — recreate the target"
                )

    # Unbucketed targets have no manifest to pin layout-shaping flow
    # parameters, so the scd_type / tracked-column contract lives in a
    # sidecar meta file (same shape as ApplyChangesFromSnapshot's
    # _snapshot_meta.json). Without it, re-declaring an existing SCD1
    # target with stored_as_scd_type=2 would pass the fold's schema
    # check (dropping absent __START_AT/__END_AT is a no-op) and silently
    # reinterpret latest-state rows as the full version history.
    def _ac_meta_path(self) -> str:
        return self.target_path + "._ac_meta.json"

    def _pin_unbucketed_meta(self) -> None:
        try:
            with open(self._ac_meta_path()) as f:
                stored = json.load(f)
        except FileNotFoundError:
            if os.path.exists(os.path.join(self.target_path, "_SUCCESS")):
                # legacy target predating the sidecar: every pre-sidecar
                # target was written by some flow declaration — pin THIS
                # one only if it claims the historical default (SCD1,
                # nothing untracked); anything else is indistinguishable
                # from a reinterpretation and must recreate the target
                if self._contract() != _DEFAULT_CONTRACT:
                    raise ValueError(
                        f"target {self.target_path} predates the scd_type "
                        "sidecar and cannot prove it was written with "
                        f"scd_type={self.scd_type} "
                        f"track_history_except={self.track_history_except}; "
                        "recreate the target to change its SCD contract"
                    )
            tmp = self._ac_meta_path() + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._contract(), f)
            os.replace(tmp, self._ac_meta_path())
            return
        self._check_pinned(stored)

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        if len(batch.take(1)) == 0:
            return
        if self.n_buckets is not None:
            self._process_batch_bucketed(batch, epoch_id)
            return
        self._validate_layout(self._read_manifest())
        _recover_swap(self.target_path)
        self._pin_unbucketed_meta()
        # merges must see tombstones: read the raw stored rows
        target = self.read_target(batch.sparkSession, raw=True)
        _swap_in(self.merge(target, batch), self.target_path, f".__epoch_{epoch_id}")

    def _process_batch_bucketed(self, batch: DataFrame, epoch_id: int) -> None:
        """Partial-rewrite merge with an atomic manifest commit.

        Only the key-hash buckets the batch touches are read and rewritten
        (the touched-bucket list is a bounded driver collect, <= n_buckets
        values); untouched buckets keep their existing directories, so merge
        I/O scales with the batch's key spread, not the target's size. The
        new bucket versions land in a fresh ``epoch_<id>`` directory and
        become visible only via :meth:`_commit_manifest`'s single
        ``os.replace`` — a reader never observes a half-merged target.
        Directories superseded by a commit are deleted ``retention``
        commits later (in-flight readers and time travel both ride that
        window)."""
        spark = batch.sparkSession
        manifest = self._read_manifest()
        self._validate_layout(manifest)
        pinned = manifest.get("schema") if manifest else None
        prepared = self._prepare(batch)
        if pinned is not None:
            pinned_cols = {f["name"] for f in json.loads(pinned)["fields"]} - set(
                SCD2_COLS
            )
            if (
                set(prepared.columns) - {"__del"} != pinned_cols
                and not self.merge_schema
            ):
                raise ValueError(
                    "batch schema drifted from target "
                    f"(target={sorted(pinned_cols)} batch={sorted(prepared.columns)}); "
                    "pass merge_schema=True to evolve"
                )
        incoming = self._with_bucket(prepared).localCheckpoint(
            eager=True
        )  # cut lineage: read once, used thrice
        touched = [int(r[0]) for r in incoming.select("__bucket").distinct().collect()]

        target = None
        if manifest is not None:
            touched_paths = [
                os.path.join(self.target_path, manifest["buckets"][str(b)])
                for b in touched
                if str(b) in manifest["buckets"]
            ]
            if touched_paths:
                # bucket dirs don't store __bucket (partitionBy strips it);
                # recompute from the keys — same hash, deterministic
                reader = spark.read
                if pinned is not None:
                    reader = reader.schema(StructType.fromJson(json.loads(pinned)))
                target = self._with_bucket(reader.parquet(*touched_paths))
        # a key's whole state (its SCD2 history too) lives in one bucket
        # (bucket_keys ⊆ keys), so the touched buckets are all the fold needs
        merged = self._fold(target, incoming)

        # Dir name includes the manifest generation it will commit as: a
        # foreachBatch retry of an epoch whose commit DID land re-runs with a
        # bumped version, so it writes a fresh dir instead of overwriting the
        # one the live manifest (and this very merge's target read) points at.
        version = (manifest["version"] + 1) if manifest else 0
        epoch_dir = f"epoch_{epoch_id}_g{version}"
        (
            merged.repartition("__bucket")
            .write.mode("overwrite")  # overwrite: retry of an uncommitted epoch
            .partitionBy("__bucket")
            .parquet(os.path.join(self.target_path, epoch_dir))
        )

        buckets, retired = self._repoint(manifest, touched, epoch_dir)
        # Commit this generation; GC only dirs retired more than
        # `retention` commits ago — every retained generation's bucket map
        # (time travel) and any reader that resolved one stays servable.
        self._commit_and_gc(
            manifest,
            version,
            buckets,
            retired,
            StructType(
                [f for f in merged.schema.fields if f.name != "__bucket"]
            ).json(),
        )


def scd2_history(
    df: DataFrame,
    keys: Sequence[str],
    sequence_by: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Slowly-changing-dimension type-2 view of a change stream: one row
    per version with ``valid_from`` / ``valid_to`` / ``is_current``
    (valid_to = next version's sequence value, open interval; NULL while
    current). The history twin of :func:`latest_per_key` — same
    single shuffle on the keys, a lead() window instead of row_number,
    so a target can serve both "latest state" (apply_changes) and
    "as of any time" (this + an as-of join on valid_from) from one pass.
    Ties on (sequence, tiebreakers) keep every version row; callers
    dedupe upstream if exact duplicates are possible (the gate query
    dedupes on the full tuple first)."""
    order = [F.col(sequence_by).asc(), *[F.col(t).asc() for t in tiebreakers]]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("valid_from", F.col(sequence_by))
        .withColumn("valid_to", F.lead(sequence_by).over(w))
        .withColumn("is_current", F.col("valid_to").isNull().cast("int"))
    )


class ApplyChangesFromSnapshot:
    """DLT's ``dlt.apply_changes_from_snapshot``: CDC derived by DIFFING
    successive FULL SNAPSHOTS against the maintained target — the mode
    for sources that republish complete state (a nightly dimension dump)
    instead of emitting a change feed. Same public API family as the
    reference's apply_changes call (`03_Bronze-to-Silver ETL.py:379-384`).

    Snapshot versions must be strictly increasing (DLT's contract);
    :meth:`process_snapshot` returns False (a no-op) for a version at or
    below the last processed one, so replays are idempotent.

    ``stored_as_scd_type=1``: the target BECOMES the snapshot — keys
    absent from it are deleted, present rows updated (the snapshot is
    total truth).

    ``stored_as_scd_type=2``: version history with ``__START_AT`` /
    ``__END_AT`` in snapshot-version units. Per snapshot v, one
    FULL OUTER JOIN of the snapshot against the OPEN rows classifies:

    - key only in snapshot        -> open a version [v, null)
    - in both, TRACKED cols differ-> close old at v, open new [v, null)
    - in both, tracked same       -> keep the version; UNTRACKED columns
      refresh in place (``track_history_except_column_list`` — DLT's
      update-in-place contract)
    - key only in open state      -> close at v (deleted from the source)

    Closed history rows carry through untouched, so per-snapshot cost is
    O(snapshot + open keys) — one join shuffle — never O(history).

    Storage: the unbucketed write-then-swap parquet dir (the target is
    recomputed state, not an append log), plus a ``_snapshot_meta.json``
    pinning the last processed version. Crash between swap and meta
    write is safe: reprocessing the same snapshot against the
    post-swap state classifies every key as unchanged. Crash between
    the swap's two renames is healed by ``_recover_swap`` (state restored
    from ``.__old``) before any read or snapshot fold."""

    META = "_snapshot_meta.json"

    def __init__(
        self,
        target_path: str,
        keys: Sequence[str],
        stored_as_scd_type: int = 2,
        track_history_except_column_list: Sequence[str] = (),
        track_history_column_list: Sequence[str] | None = None,
    ) -> None:
        _check_scd_contract(
            stored_as_scd_type,
            track_history_except_column_list,
            track_history_column_list,
            reserved=set(keys),
        )
        self.target_path = target_path
        self.keys = list(keys)
        self.scd_type = stored_as_scd_type
        self.track_only = (
            list(track_history_column_list)
            if track_history_column_list is not None
            else None
        )
        self.untracked = list(track_history_except_column_list)

    def _untracked_for(self, data_cols: Sequence[str]) -> list[str]:
        """Effective untracked set: the except form, or (positive form)
        every non-key data column NOT listed."""
        if self.track_only is None:
            return self.untracked
        return [
            c
            for c in data_cols
            if c not in set(self.keys) and c not in set(self.track_only)
        ]

    # -- version bookkeeping ------------------------------------------------

    def _meta_path(self) -> str:
        return self.target_path + "." + self.META

    def last_version(self):
        try:
            with open(self._meta_path()) as f:
                return json.load(f)["version"]
        except FileNotFoundError:
            return None

    def _save_version(self, version) -> None:
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": version}, f)
        os.replace(tmp, self._meta_path())

    # -- state io (the write-then-swap store ApplyChanges' unbucketed mode uses)

    def read_target(self, spark: SparkSession) -> DataFrame | None:
        _recover_swap(self.target_path)
        if not os.path.exists(os.path.join(self.target_path, "_SUCCESS")):
            return None
        return spark.read.parquet(self.target_path)

    # -- the diff -------------------------------------------------------------

    def process_snapshot(self, snap_df: DataFrame, version) -> bool:
        """Fold one full snapshot (all rows, all keys) at ``version``
        into the target. Returns False when the version was already
        processed (replay) or is out of order."""
        _recover_swap(self.target_path)
        last = self.last_version()
        if last is not None and version <= last:
            return False
        spark = snap_df.sparkSession
        data_cols = list(snap_df.columns)
        missing = set(self.keys) - set(data_cols)
        if missing:
            raise ValueError(f"snapshot lacks key columns {sorted(missing)}")
        cur = self.read_target(spark)

        if self.scd_type == 1:
            _swap_in(snap_df, self.target_path, f".__snap_{version}")
            self._save_version(version)
            return True

        lit_v = F.lit(version)
        null_v = F.when(F.lit(False), lit_v)  # typed NULL of version's type
        opened = snap_df.withColumn("__START_AT", lit_v).withColumn(
            "__END_AT", null_v
        )
        if cur is None:
            _swap_in(opened, self.target_path, f".__snap_{version}")
            self._save_version(version)
            return True

        if set(cur.columns) != set(data_cols) | set(SCD2_COLS):
            raise ValueError(
                "snapshot schema drifted from target "
                f"(target={sorted(set(cur.columns) - set(SCD2_COLS))} "
                f"snapshot={sorted(data_cols)})"
            )
        open_rows = cur.filter(F.col("__END_AT").isNull())
        closed = cur.filter(F.col("__END_AT").isNotNull())
        untracked = set(self._untracked_for(data_cols))
        tracked = [
            c
            for c in data_cols
            if c not in set(self.keys) and c not in untracked
        ]
        # explicit presence markers on BOTH join sides: the join condition
        # is eqNullSafe, so a row whose key columns are NULL still matches —
        # inferring presence from key/START_AT nullability would misclassify
        # it as absent (close its open version and drop the snapshot row)
        s = snap_df.select(
            *[F.col(c).alias(f"__s_{c}") for c in data_cols],
            F.lit(True).alias("__s_present"),
        )
        t = open_rows.withColumn("__t_present", F.lit(True))
        cond = None
        for k in self.keys:
            piece = F.col(k).eqNullSafe(F.col(f"__s_{k}"))
            cond = piece if cond is None else (cond & piece)
        j = t.join(s, cond, "full_outer").localCheckpoint(eager=True)
        # bounded by open-key cardinality + snapshot size; checkpointed so
        # the four derivations below read it once instead of re-joining
        in_open = F.coalesce(F.col("__t_present"), F.lit(False))
        in_snap = F.coalesce(F.col("__s_present"), F.lit(False))
        same_tracked = F.lit(True)
        for c in tracked:
            same_tracked = same_tracked & F.col(c).eqNullSafe(F.col(f"__s_{c}"))

        keep_open = j.filter(in_open & in_snap & same_tracked).select(
            *[
                # untracked columns refresh from the snapshot in place
                (F.col(f"__s_{c}") if c in untracked else F.col(c)).alias(c)
                for c in data_cols
            ],
            "__START_AT",
            "__END_AT",
        )
        close_old = j.filter(in_open & (~in_snap | ~same_tracked)).select(
            *data_cols, "__START_AT", lit_v.alias("__END_AT")
        )
        open_new = j.filter(in_snap & (~in_open | ~same_tracked)).select(
            *[F.col(f"__s_{c}").alias(c) for c in data_cols],
            lit_v.alias("__START_AT"),
            null_v.alias("__END_AT"),
        )
        new_state = (
            closed.unionByName(keep_open)
            .unionByName(close_old)
            .unionByName(open_new)
        )
        _swap_in(new_state, self.target_path, f".__snap_{version}")
        self._save_version(version)
        return True
