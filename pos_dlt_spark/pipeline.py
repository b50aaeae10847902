"""DLT-like declarative pipeline: a table registry + dependency DAG +
runner — the engine's replacement for the Databricks-only ``dlt`` module
(reference `03_Bronze-to-Silver ETL.py:32` and decorators throughout).

API mirrors DLT's shape:

    pipe = Pipeline("pos", storage="/tmp/pos_storage")

    @pipe.table(comment="...", kind="live", interval="24 hours",
                table_properties={"quality": "bronze"})
    def store(spark):
        return read_csv(spark, path, STORE_SCHEMA)

    @pipe.table(kind="stream")
    def inventory_change(spark):
        return transform(pipe.read_stream(spark, "raw_inventory_change"))

    pipe.apply_changes(target="latest_inventory_snapshot",
                       source="inventory_snapshot",
                       keys=["store_id", "item_id"], sequence_by="date_time")

    @pipe.table(kind="stream")
    @pipe.expect_or_drop("valid_qty", "quantity >= 0")   # DLT expectations
    def clean(spark):
        return pipe.read_stream(spark, "inventory_change")

    PipelineRunner(pipe).run_once(spark)   # availableNow pass over all tables

Semantics:
- **live** tables are batch-recomputed and fully overwritten each run
  (DLT ``pipelines.trigger.interval`` recompute, `03:128`, `04:68`);
- **stream** tables run as checkpointed Structured Streaming queries with
  ``Trigger.AvailableNow`` per run (continuous mode just leaves the query
  running — same plan);
- **apply_changes** targets are CDC-upserted keyed tables
  (`03:379-384`), built on :class:`pos_dlt_spark.operators.cdc.ApplyChanges`.

Every table persists under ``storage/tables/<name>`` and is re-read by
downstream tables — readers always see a complete committed snapshot,
never a half-written one. ``storage_format="parquet"`` (default) uses
plain parquet dirs with write-then-swap atomicity;
``storage_format="delta"`` stores every table as a REAL Delta table
through the protocol writer (atomic commits, SetTransaction-exactly-once
streams, MERGE-maintained CDC targets — see ``Pipeline.__init__``),
matching the reference's all-Delta storage (`03:124-129`).

Scale note: per-table ``partition_by`` flows through to the parquet writer
so big silver tables land partitioned (e.g. by store_id or date) and the
gold recompute prunes partitions instead of rescanning history.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable, Literal

from pyspark.sql import DataFrame, SparkSession

from pos_dlt_spark.operators.cdc import ApplyChanges, ApplyChangesFromSnapshot

# "auto" = resolve from the materialized DataFrame's isStreaming on first
# refresh — DLT's own python decorator has no kind parameter at all: a
# function returning a streaming frame IS a streaming table. The facade
# (pos_dlt_spark/dlt.py) declares auto; explicit kinds stay available for
# engine-level callers that want the declaration checked up front.
TableKind = Literal["live", "stream", "auto"]

ExpectationAction = Literal["allow", "drop", "fail"]


@dataclass
class ExpectationDef:
    """One data-quality constraint on a table (DLT expectations:
    ``@dlt.expect`` / ``expect_or_drop`` / ``expect_or_fail``). The
    condition is a SQL boolean expression over the table's columns; a row
    violates when the condition is false OR null (exactly the rows a
    ``WHERE condition`` filter would remove)."""

    name: str
    condition: str
    action: ExpectationAction = "allow"


class ExpectationFailed(Exception):
    """An ``expect_or_fail`` constraint saw >= 1 violating row."""

    def __init__(self, table: str, metrics: dict[str, dict]) -> None:
        failed = {n: m for n, m in metrics.items() if m["failed"] and m["action"] == "fail"}
        super().__init__(f"expectations failed on table {table!r}: {failed}")
        self.table = table
        self.metrics = metrics


@dataclass
class TableDef:
    name: str
    fn: Callable[[SparkSession], DataFrame]
    kind: TableKind = "live"
    comment: str = ""
    interval: str | None = None  # refresh interval hint (live) — W5
    partition_by: list[str] = field(default_factory=list)
    table_properties: dict[str, str] = field(default_factory=dict)
    # declared up front (like DLT's LIVE.x references, visible at parse
    # time) plus any discovered at run time via read()/read_stream().
    deps: set[str] = field(default_factory=set)
    expectations: list[ExpectationDef] = field(default_factory=list)


@dataclass
class CdcFlowDef:
    target: str
    source: str
    keys: list[str]
    sequence_by: str
    tiebreakers: list[str] = field(default_factory=list)
    reset_allowed: bool = True  # DLT pipelines.reset.allowed
    n_buckets: int | None = None  # partial-rewrite merge (see operators/cdc.py)
    bucket_keys: list[str] | None = None  # route by a key subset (rollup locality)
    apply_as_deletes: str | None = None  # DLT: source rows matching = tombstones
    except_column_list: list[str] | None = None  # DLT: source-only cols dropped
    stored_as_scd_type: int = 1  # DLT: 1 = latest state, 2 = maintained history
    # DLT: SCD2 changes touching ONLY these columns update in place
    track_history_except_column_list: list[str] | None = None
    track_history_column_list: list[str] | None = None
    column_list: list[str] | None = None  # DLT: positive projection
    ignore_null_updates: bool = False  # DLT: NULL = no change (inherit)

    def operator(self, path: str) -> ApplyChanges:
        """The flow's one ApplyChanges: every store shapes and folds its
        batches through it, and building it validates the declaration."""
        return ApplyChanges(
            path,
            keys=self.keys,
            sequence_by=self.sequence_by,
            tiebreakers=self.tiebreakers,
            n_buckets=self.n_buckets,
            bucket_keys=self.bucket_keys,
            apply_as_deletes=self.apply_as_deletes,
            except_column_list=self.except_column_list or (),
            stored_as_scd_type=self.stored_as_scd_type,
            track_history_except_column_list=(
                self.track_history_except_column_list or ()
            ),
            track_history_column_list=self.track_history_column_list,
            column_list=self.column_list,
            ignore_null_updates=self.ignore_null_updates,
        )


@dataclass
class SnapshotFlowDef:
    """DLT's apply_changes_from_snapshot: the source table republishes
    COMPLETE state each update; changes are derived by diffing it against
    the maintained target (operators/cdc.ApplyChangesFromSnapshot)."""

    target: str
    source: str
    keys: list[str]
    stored_as_scd_type: int = 2
    track_history_except_column_list: list[str] | None = None
    track_history_column_list: list[str] | None = None

    def operator(self, path: str) -> ApplyChangesFromSnapshot:
        return ApplyChangesFromSnapshot(
            path,
            keys=self.keys,
            stored_as_scd_type=self.stored_as_scd_type,
            track_history_except_column_list=(
                self.track_history_except_column_list or ()
            ),
            track_history_column_list=self.track_history_column_list,
        )


@dataclass
class AppendFlowDef:
    """One DLT ``@append_flow``: a streaming query appending into a shared
    target (``create_streaming_table``) or an external sink
    (``create_sink``). Each flow owns its checkpoint, so flows can be
    added or removed across pipeline restarts without disturbing the
    target or each other. ``once=True`` is DLT's backfill flow: it runs a
    single time and is skipped on every later update (until its
    checkpoint is cleared by a full refresh)."""

    name: str
    target: str
    fn: Callable[[SparkSession], DataFrame]
    once: bool = False


@dataclass
class SinkDef:
    """DLT ``create_sink``: an EXTERNAL egress target for append flows —
    written by the pipeline, never read back through ``LIVE.``/read().
    ``format`` is 'parquet' or 'delta'; ``options['path']`` is required
    (the kafka sink format the reference's cluster would use is
    environment-blocked here for the same reason sources/kafka.py is)."""

    name: str
    format: str
    options: dict[str, str] = field(default_factory=dict)
    deps: set[str] = field(default_factory=set)


@dataclass
class IncViewDef:
    target: str
    source: str  # a CDC flow target declared with n_buckets
    transform: Callable[[DataFrame], DataFrame]
    keys: list[str]
    # joined-view form: a second, append-only fact table partitioned by
    # the flow's bucket-routing column; transform then takes
    # (cdc_rows, fact_rows)
    aux_source: str | None = None
    aux_partition_col: str | None = None


class CycleError(Exception):
    pass


# -- DLT-SQL authoring surface (reference `04_Silver-to-Gold ETL.sql`) ----

def _sql_strip_comments(sql: str) -> str:
    """Remove ``-- ...`` line comments, leaving quoted strings intact."""
    out: list[str] = []
    i, n, in_str = 0, len(sql), None
    while i < n:
        c = sql[i]
        if in_str:
            out.append(c)
            if c == in_str:
                if i + 1 < n and sql[i + 1] == in_str:  # '' escape
                    out.append(sql[i + 1])
                    i += 2
                    continue
                in_str = None
            i += 1
        elif c in ("'", '"'):
            in_str = c
            out.append(c)
            i += 1
        elif c == "-" and i + 1 < n and sql[i + 1] == "-":
            while i < n and sql[i] != "\n":
                i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _sql_split(sql: str) -> list[str]:
    """Split a script on ``;`` outside quoted strings."""
    stmts: list[str] = []
    cur: list[str] = []
    in_str = None
    for c in sql:
        if in_str:
            cur.append(c)
            if c == in_str:
                in_str = None
        elif c in ("'", '"'):
            in_str = c
            cur.append(c)
        elif c == ";":
            stmts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    stmts.append("".join(cur))
    return stmts


def _sql_balanced(s: str, open_idx: int) -> tuple[str, str]:
    """``s[open_idx]`` must be ``(``; return (inner content, remainder
    after the matching close paren), quote-aware."""
    depth, in_str = 0, None
    for i in range(open_idx, len(s)):
        c = s[i]
        if in_str:
            if c == in_str:
                in_str = None
        elif c in ("'", '"'):
            in_str = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return s[open_idx + 1 : i], s[i + 1 :]
    raise ValueError(f"unbalanced parentheses in SQL near {s[open_idx:open_idx+40]!r}")


_SQL_SET_RE = re.compile(r"^\s*SET\s+([\w.]+)\s*=\s*(.+?)\s*$", re.I | re.S)
_SQL_CREATE_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REFRESH\s+)?(?P<streaming>STREAMING\s+)?LIVE\s+TABLE\s+"
    r"(?P<name>[A-Za-z_]\w*)(?P<rest>.*)$",
    re.I | re.S,
)
_SQL_APPLY_RE = re.compile(
    r"^\s*APPLY\s+CHANGES\s+INTO\s+(?:LIVE\.)?(?P<target>[A-Za-z_]\w*)\s+"
    r"FROM\s+(?:STREAM\s*\(\s*LIVE\.(?P<ssource>[A-Za-z_]\w*)\s*\)|LIVE\.(?P<bsource>[A-Za-z_]\w*))\s+"
    r"KEYS\s*\((?P<keys>[^)]*)\)\s*"
    r"(?:(?P<ignorenull>IGNORE\s+NULL\s+UPDATES)\s+)?"
    r"(?:APPLY\s+AS\s+DELETE\s+WHEN\s+(?P<delwhen>.*?)\s*)?"
    r"SEQUENCE\s+BY\s+(?P<seq>[A-Za-z_]\w*)\s*"
    r"(?:COLUMNS\s+(?:\*\s+EXCEPT\s*\((?P<except>[^)]*)\)|\((?P<collist>[^)]*)\))\s*)?"
    r"(?:STORED\s+AS\s+SCD\s+TYPE\s+(?P<scd>\d+)\s*)?"
    r"(?:TRACK\s+HISTORY\s+ON\s+(?:\*\s+EXCEPT\s*\((?P<trackexc>[^)]*)\)|\((?P<trackon>[^)]*)\))\s*)?$",
    re.I | re.S,
)
_SQL_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?:TEMPORARY\s+)?LIVE\s+VIEW\s+"
    r"(?P<name>[A-Za-z_]\w*)(?P<rest>.*)$",
    re.I | re.S,
)
# DLT SQL append flows: CREATE FLOW f AS INSERT INTO t BY NAME SELECT ...
# — several flows appending into ONE streaming table (the SQL twin of
# @append_flow). BY NAME is required: the flows' SELECTs may project
# columns in different orders and the shared target aligns by name;
# positional INSERT semantics are not offered.
_SQL_FLOW_RE = re.compile(
    r"^\s*CREATE\s+FLOW\s+(?P<name>[A-Za-z_]\w*)\s*"
    r"(?:COMMENT\s+'(?P<comment>(?:[^']|'')*)'\s*)?"
    r"AS\s+INSERT\s+INTO\s+(?:LIVE\.)?(?P<target>[A-Za-z_]\w*)\s+"
    r"(?:(?P<byname>BY\s+NAME)\s+)?(?P<select>SELECT\s+.*)$",
    re.I | re.S,
)
_SQL_STREAM_REF = r"STREAM\s*\(\s*LIVE\.{}\s*\)"


def _live_refs(select: str) -> tuple[list[str], list[str]]:
    """The ``(stream, batch)`` pipeline tables a DLT-SQL body reads: the
    ``STREAM(LIVE.x)`` names, then the bare ``LIVE.x`` names left once
    those are stripped — a stream-static body may read one table both
    ways."""
    stream_ref = _SQL_STREAM_REF.format(r"([A-Za-z_]\w*)")
    stream = sorted(set(re.findall(stream_ref, select, re.I)))
    rest = re.sub(_SQL_STREAM_REF.format(r"[A-Za-z_]\w*"), "", select, flags=re.I)
    batch = sorted(set(re.findall(r"\bLIVE\.([A-Za-z_]\w*)", rest, re.I)))
    return stream, batch


def _sql_create_clauses(rest: str):
    """Parse the optional clauses between the table name and ``AS``:
    COMMENT, TBLPROPERTIES, PARTITIONED BY, CONSTRAINT..EXPECT (any
    order, each at most once in practice). Returns
    (comment, props, partition_by, expectations, select_sql)."""
    comment, props, parts, exps = "", {}, [], []
    while True:
        m = re.match(r"\s*COMMENT\s+'((?:[^']|'')*)'", rest, re.I)
        if m:
            comment = m.group(1).replace("''", "'")
            rest = rest[m.end():]
            continue
        m = re.match(r"\s*TBLPROPERTIES\s*\(", rest, re.I)
        if m:
            body, rest = _sql_balanced(rest, m.end() - 1)
            props = {
                k.replace("''", "'"): v.replace("''", "'")
                for k, v in re.findall(
                    r"'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'", body
                )
            }
            continue
        m = re.match(r"\s*PARTITIONED\s+BY\s*\(", rest, re.I)
        if m:
            body, rest = _sql_balanced(rest, m.end() - 1)
            parts = [c.strip() for c in body.split(",") if c.strip()]
            continue
        m = re.match(r"\s*CONSTRAINT\s+(\w+)\s+EXPECT\s*\(", rest, re.I)
        if m:
            body, rest = _sql_balanced(rest, m.end() - 1)
            action = "allow"
            mv = re.match(r"\s*ON\s+VIOLATION\s+(DROP\s+ROW|FAIL\s+UPDATE)", rest, re.I)
            if mv:
                action = "drop" if mv.group(1).upper().startswith("DROP") else "fail"
                rest = rest[mv.end():]
            exps.append(ExpectationDef(m.group(1), body.strip(), action))
            continue
        break
    m = re.match(r"\s*AS\b", rest, re.I)
    if not m:
        if not rest.strip():
            # declaration-only CREATE (DLT: the empty STREAMING LIVE
            # TABLE an APPLY CHANGES INTO statement later targets)
            return comment, props, parts, exps, None
        raise ValueError(
            f"CREATE LIVE TABLE requires an AS SELECT body; got {rest.strip()[:60]!r}"
        )
    return comment, props, parts, exps, rest[m.end():].strip()


class Pipeline:
    def __init__(self, name: str, storage: str, storage_format: str = "parquet") -> None:
        """``storage_format``:

        - ``"parquet"`` — every table persists as a plain parquet dir with
          write-then-swap atomicity (the original mode);
        - ``"delta"`` — every table IS a Delta table written through the
          protocol writer (``sources/delta_writer.py``), matching the
          reference where every DLT table is Delta (`03:124-129`,
          `RUNME.py:134`): live recomputes are atomic OVERWRITE commits,
          stream tables are per-micro-batch APPEND commits made
          exactly-once by SetTransaction actions (foreachBatch replay of
          an already-committed batch is skipped), apply_changes targets
          are maintained by ``delta_merge``, and every table is readable
          by any protocol-conformant Delta client. Bucketed CDC flows
          (``n_buckets``) keep their manifest store in both modes — that
          is a different, partial-rewrite storage engine with its own
          atomicity story.
        """
        if storage_format not in ("parquet", "delta"):
            raise ValueError(f"storage_format must be parquet|delta, got {storage_format!r}")
        self.name = name
        self.storage = storage
        self.storage_format = storage_format
        self.tables: dict[str, TableDef] = {}
        self.cdc_flows: dict[str, CdcFlowDef] = {}
        self.snapshot_flows: dict[str, SnapshotFlowDef] = {}
        self.inc_views: dict[str, IncViewDef] = {}
        # DLT multi-flow surfaces: shared streaming targets + their
        # append flows, and external sinks
        self.streaming_targets: dict[str, TableDef] = {}
        self.append_flows: dict[str, AppendFlowDef] = {}
        self.sinks: dict[str, SinkDef] = {}
        self._streams_pending: list[tuple[TableDef, DataFrame]] = []
        # non-interval SET keys from sql_table scripts (DLT pipeline conf)
        self.sql_conf: dict[str, str] = {}
        # DLT-SQL LIVE VIEWs: name -> (select_sql, expanded_table_deps).
        # Views are UNPERSISTED — they inline into each consumer's single
        # spark.sql plan at refresh time.
        self.sql_views: dict[str, tuple[str, set]] = {}
        # global declaration sequence across ALL dataset categories —
        # topo_order's Kahn tiebreak must respect cross-category
        # declaration order (a live table declared AFTER the streaming
        # target it reads must not jump ahead of it on the first,
        # dependency-discovering run)
        self._decl_seq: dict[str, int] = {}
        # DLT-SQL empty STREAMING targets declared ahead of
        # APPLY CHANGES INTO (comment/props parity bookkeeping)
        self.sql_declared_targets: dict[str, dict] = {}

    # -- declaration -------------------------------------------------------

    def table(
        self,
        name: str | None = None,
        *,
        kind: TableKind = "live",
        comment: str = "",
        interval: str | None = None,
        partition_by: list[str] | None = None,
        table_properties: dict[str, str] | None = None,
        deps: list[str] | None = None,
    ):
        def deco(fn: Callable[[SparkSession], DataFrame]):
            tname = name or fn.__name__
            self._note_decl(tname)
            self.tables[tname] = TableDef(
                name=tname,
                fn=fn,
                kind=kind,
                comment=comment,
                interval=interval,
                partition_by=list(partition_by or []),
                table_properties=dict(table_properties or {}),
                deps=set(deps or []),
                # expectation decorators sit BELOW @pipe.table (DLT style),
                # so they have already run and tagged fn by the time we get
                # here; declaration order is preserved.
                expectations=list(getattr(fn, "_pos_dlt_expectations", [])),
            )
            return fn

        return deco

    def sql_table(self, script: str) -> list[str]:
        """DLT-SQL authoring surface — the reference's own gold entry
        point is a SQL notebook (`04_Silver-to-Gold ETL.sql:68-103`):

            SET pipelines.trigger.interval = 5 minute;
            CREATE LIVE TABLE inventory_current
            COMMENT '...' TBLPROPERTIES ('quality'='gold')
            AS SELECT ... FROM LIVE.latest_inventory_snapshot a ...

        Accepts a script of ``;``-separated statements and registers each
        ``CREATE [OR REFRESH] [STREAMING] LIVE TABLE`` exactly like the
        decorator path (same :class:`TableDef`, runner, storage modes).
        Grammar supported (the DLT SQL-ref subset the reference exercises
        plus the natural neighbours):

        - ``SET pipelines.trigger.interval = <n> <unit>`` — becomes the
          refresh ``interval`` of every table created AFTER it in the
          same script (DLT's SET-applies-to-what-follows rule); other
          ``SET`` keys accumulate in :attr:`sql_conf`.
        - ``COMMENT '...'``, ``TBLPROPERTIES ('k'='v', ...)``,
          ``PARTITIONED BY (col, ...)``.
        - ``CONSTRAINT name EXPECT (cond) [ON VIOLATION DROP ROW |
          FAIL UPDATE]`` — DLT SQL expectations, mapped onto the same
          :class:`ExpectationDef` machinery as the decorators.
        - ``LIVE.<table>`` references resolve through :meth:`read` (each
          becomes a temp view at refresh time, so the body runs as ONE
          ``spark.sql`` plan — Catalyst sees the whole tree).
        - ``STREAM(LIVE.<table>)`` inside a ``STREAMING LIVE TABLE``
          resolves through :meth:`read_stream` — the table runs as a
          checkpointed stream exactly like ``kind="stream"`` decorator
          tables. A ``STREAM()`` read in a non-streaming table refuses
          (DLT's own rule), as does a STREAMING table with no stream
          source.
        - ``CREATE [TEMPORARY] LIVE VIEW name AS SELECT ...`` — an
          UNPERSISTED intermediate: consumers referencing ``LIVE.name``
          inline the view's tree into their own single ``spark.sql``
          plan (Catalyst optimizes across the boundary), and their topo
          edges point at the view's underlying TABLES. Views take no
          TBLPROPERTIES/PARTITIONED BY/CONSTRAINT and refuse
          ``STREAM()``; declare a view before its consumers.

        Dependencies are extracted at DECLARATION time from the
        ``LIVE.`` references, so :meth:`topo_order` is correct before
        the first run. Returns the created table names."""
        created: list[str] = []
        pending_interval: str | None = None
        for stmt in _sql_split(_sql_strip_comments(script)):
            if not stmt.strip():
                continue
            m = _SQL_SET_RE.match(stmt)
            if m:
                key, val = m.group(1), m.group(2).strip().strip("'\"")
                if key.lower() == "pipelines.trigger.interval":
                    parse_interval(val)  # fail at declaration, not first tick
                    pending_interval = val
                else:
                    self.sql_conf[key] = val
                continue
            ma = _SQL_APPLY_RE.match(stmt)
            if ma is not None:
                # DLT SQL: APPLY CHANGES INTO live.target FROM
                # stream(live.source) KEYS (...) [APPLY AS DELETE WHEN
                # cond] SEQUENCE BY seq [COLUMNS * EXCEPT (...)]
                # [STORED AS SCD TYPE 1] — maps 1:1 onto apply_changes
                # (the same machinery the Python entry point uses).
                scd = ma.group("scd")
                if scd is not None and scd not in ("1", "2"):
                    raise ValueError(
                        f"APPLY CHANGES INTO {ma.group('target')}: SCD "
                        f"TYPE {scd} is not a DLT mode (only 1 and 2)"
                    )
                keys = [k.strip() for k in ma.group("keys").split(",") if k.strip()]
                if not keys:
                    raise ValueError(
                        f"APPLY CHANGES INTO {ma.group('target')}: KEYS () is empty"
                    )
                exc = ma.group("except")
                self.apply_changes(
                    target=ma.group("target"),
                    source=ma.group("ssource") or ma.group("bsource"),
                    keys=keys,
                    sequence_by=ma.group("seq"),
                    apply_as_deletes=(ma.group("delwhen") or "").strip() or None,
                    except_column_list=(
                        [c.strip() for c in exc.split(",") if c.strip()]
                        if exc
                        else None
                    ),
                    stored_as_scd_type=int(scd or 1),
                    column_list=(
                        [
                            c.strip()
                            for c in ma.group("collist").split(",")
                            if c.strip()
                        ]
                        if ma.group("collist")
                        else None
                    ),
                    ignore_null_updates=bool(ma.group("ignorenull")),
                    track_history_except_column_list=(
                        [
                            c.strip()
                            for c in ma.group("trackexc").split(",")
                            if c.strip()
                        ]
                        if ma.group("trackexc")
                        else None
                    ),
                    track_history_column_list=(
                        [
                            c.strip()
                            for c in ma.group("trackon").split(",")
                            if c.strip()
                        ]
                        if ma.group("trackon")
                        else None
                    ),
                )
                created.append(ma.group("target"))
                continue
            mv = _SQL_VIEW_RE.match(stmt)
            if mv is not None:
                vname = mv.group("name")
                comment, props, parts, exps, select = _sql_create_clauses(
                    mv.group("rest")
                )
                if props or parts or exps:
                    raise ValueError(
                        f"{vname}: LIVE VIEWs take no TBLPROPERTIES/"
                        "PARTITIONED BY/CONSTRAINT (they are unpersisted)"
                    )
                if re.search(r"STREAM\s*\(\s*LIVE\.", select, re.I):
                    raise ValueError(
                        f"{vname}: STREAM() inside a LIVE VIEW is not "
                        "supported — stream through a STREAMING LIVE TABLE"
                    )
                vdeps = _live_refs(select)[1]
                if not vdeps:
                    raise ValueError(
                        f"{vname}: no LIVE.<table> reference in the view body"
                    )
                self.sql_views[vname] = (select, self._table_deps(vdeps))
                created.append(vname)
                continue
            mf = _SQL_FLOW_RE.match(stmt)
            if mf is not None:
                fname = mf.group("name")
                target = mf.group("target")
                if not mf.group("byname"):
                    raise ValueError(
                        f"flow {fname!r}: INSERT INTO must be BY NAME — "
                        "append flows share one target whose schema aligns "
                        "by column name, not position"
                    )
                select = mf.group("select")
                stream_deps, batch_deps = _live_refs(select)
                if not stream_deps:
                    raise ValueError(
                        f"flow {fname!r}: an append flow needs a "
                        "STREAM(LIVE.x) source"
                    )
                # an empty STREAMING LIVE TABLE declaration becomes the
                # shared multi-flow target the first time a flow names it
                if target in self.sql_declared_targets:
                    decl = self.sql_declared_targets.pop(target)
                    self.create_streaming_table(
                        target,
                        comment=decl.get("comment", ""),
                        table_properties=decl.get("table_properties"),
                    )
                if target not in self.streaming_targets and target not in self.sinks:
                    raise ValueError(
                        f"flow {fname!r}: target {target!r} is neither a "
                        "streaming table (CREATE STREAMING LIVE TABLE "
                        "without AS) nor a sink"
                    )

                self.append_flow(target=target, name=fname)(
                    self._sql_body(select)
                )
                # first-run scheduling: the flow's edges are knowable at
                # declaration — record them on the shared target
                tgt = self.streaming_targets.get(target)
                deps_holder = tgt.deps if tgt is not None else self.sinks[target].deps
                deps_holder |= self._table_deps(stream_deps + batch_deps)
                created.append(fname)
                continue
            m = _SQL_CREATE_RE.match(stmt)
            if m is None:
                raise ValueError(
                    f"unsupported DLT-SQL statement: {stmt.strip()[:80]!r}"
                )
            tname = m.group("name")
            streaming = bool(m.group("streaming"))
            comment, props, parts, exps, select = _sql_create_clauses(
                m.group("rest")
            )
            if select is None:
                if not streaming:
                    raise ValueError(
                        f"{tname}: CREATE LIVE TABLE without an AS body is "
                        "only valid as the empty STREAMING target of a "
                        "later APPLY CHANGES INTO statement"
                    )
                # the empty target DLT declares ahead of APPLY CHANGES;
                # the flow itself creates/maintains the stored table
                self.sql_declared_targets[tname] = {
                    "comment": comment,
                    "table_properties": props,
                }
                created.append(tname)
                continue
            stream_deps, batch_deps = _live_refs(select)
            if stream_deps and not streaming:
                raise ValueError(
                    f"{tname}: STREAM(LIVE.x) requires CREATE STREAMING "
                    "LIVE TABLE (DLT's rule — a batch table re-reading a "
                    "stream would double-count)"
                )
            if streaming and not stream_deps:
                raise ValueError(
                    f"{tname}: STREAMING LIVE TABLE needs at least one "
                    "STREAM(LIVE.x) source"
                )
            if not batch_deps and not stream_deps:
                raise ValueError(
                    f"{tname}: no LIVE.<table> reference in the AS body — "
                    "pipeline SQL tables read other pipeline tables"
                )

            self._note_decl(tname)
            self.tables[tname] = TableDef(
                name=tname,
                fn=self._sql_body(select),
                kind="stream" if streaming else "live",
                comment=comment,
                interval=pending_interval,
                partition_by=parts,
                table_properties=props,
                deps=self._table_deps(stream_deps + batch_deps),
                expectations=exps,
            )
            created.append(tname)
        if not created:
            raise ValueError("no CREATE LIVE TABLE statement in script")
        return created

    def _table_deps(self, deps: list[str]) -> set[str]:
        """Topo edges point at TABLES: a dep that is a LIVE VIEW
        contributes the view's own (expanded) table deps instead."""
        out: set[str] = set()
        for d in deps:
            out |= self.sql_views[d][1] if d in self.sql_views else {d}
        return out

    def _sql_body(self, select: str):
        """The defining function of a DLT-SQL table or flow body."""
        return lambda spark: self._live_sql(spark, select)

    def _live_sql(self, spark: SparkSession, select: str, _stack: tuple = ()) -> DataFrame:
        """Run a DLT-SQL body as one ``spark.sql``: each ``STREAM(LIVE.x)``
        becomes a temp view over :meth:`read_stream`, each bare ``LIVE.x``
        one over :meth:`read` — or the inlined LIVE VIEW ``x``."""
        stream_deps, batch_deps = _live_refs(select)
        q = select
        for d in stream_deps:
            vn = f"__live_stream__{d}"
            self.read_stream(spark, d).createOrReplaceTempView(vn)
            q = re.sub(_SQL_STREAM_REF.format(d), vn, q, flags=re.I)
        for d in batch_deps:
            vn = f"__live__{d}"
            if d in self.sql_views:
                self._materialize_sql_view(spark, d, _stack)
            else:
                self.read(spark, d).createOrReplaceTempView(vn)
            q = re.sub(rf"\bLIVE\.{d}\b", vn, q, flags=re.I)
        return spark.sql(q)

    def _materialize_sql_view(
        self, spark: SparkSession, name: str, _stack: tuple = ()
    ) -> DataFrame:
        """Inline a DLT-SQL LIVE VIEW: resolve its LIVE. references
        (tables through :meth:`read`, nested views recursively), run the
        body as one ``spark.sql``, and register the result under the
        consumer-visible temp-view name. Unpersisted by design — each
        consumer's plan subsumes the view's tree, so Catalyst optimizes
        across the boundary."""
        if name in _stack:
            raise CycleError(
                f"LIVE VIEW cycle: {' -> '.join(_stack + (name,))}"
            )
        df = self._live_sql(spark, self.sql_views[name][0], _stack + (name,))
        df.createOrReplaceTempView(f"__live__{name}")
        return df

    # -- expectations (DLT @dlt.expect family) ----------------------------

    def _expect_deco(self, exps: list[ExpectationDef]):
        def deco(fn):
            pending = list(getattr(fn, "_pos_dlt_expectations", []))
            # stacked decorators apply bottom-up; prepend so the top-most
            # declaration reads first, like DLT's
            fn._pos_dlt_expectations = exps + pending
            return fn

        return deco

    def expect(self, name: str, condition: str):
        """Record violation metrics for ``condition``; keep all rows
        (DLT ``@dlt.expect``)."""
        return self._expect_deco([ExpectationDef(name, condition, "allow")])

    def expect_or_drop(self, name: str, condition: str):
        """Drop violating rows and record how many (``@dlt.expect_or_drop``)."""
        return self._expect_deco([ExpectationDef(name, condition, "drop")])

    def expect_or_fail(self, name: str, condition: str):
        """Abort the table update if any row violates
        (``@dlt.expect_or_fail``). Batch updates are atomic: the previous
        table contents survive a failed refresh untouched."""
        return self._expect_deco([ExpectationDef(name, condition, "fail")])

    def expect_all(self, conds: dict[str, str]):
        return self._expect_deco([ExpectationDef(n, c, "allow") for n, c in conds.items()])

    def expect_all_or_drop(self, conds: dict[str, str]):
        return self._expect_deco([ExpectationDef(n, c, "drop") for n, c in conds.items()])

    def expect_all_or_fail(self, conds: dict[str, str]):
        return self._expect_deco([ExpectationDef(n, c, "fail") for n, c in conds.items()])

    def apply_changes(
        self,
        *,
        target: str,
        source: str,
        keys: list[str],
        sequence_by: str,
        tiebreakers: list[str] | None = None,
        n_buckets: int | None = None,
        bucket_keys: list[str] | None = None,
        apply_as_deletes: str | None = None,
        except_column_list: list[str] | None = None,
        stored_as_scd_type: int = 1,
        track_history_except_column_list: list[str] | None = None,
        track_history_column_list: list[str] | None = None,
        column_list: list[str] | None = None,
        ignore_null_updates: bool = False,
        reset_allowed: bool = True,
    ) -> None:
        """Declare a CDC-maintained keyed table (reference W3). With
        ``n_buckets`` the target is key-hash-bucketed and each micro-batch
        rewrites only touched buckets — set it for large targets.
        ``bucket_keys`` routes buckets by a key subset so downstream
        incremental views grouped on that subset stay bucket-local.
        ``apply_as_deletes`` / ``except_column_list`` /
        ``stored_as_scd_type`` mirror DLT's parameters (delete
        tombstones; source-only columns dropped from the stored state;
        type 2 maintains the target as version HISTORY with
        ``__START_AT``/``__END_AT`` — see operators/cdc.py). The flow's
        ApplyChanges is built here, so every declaration error raises
        before anything is written, in every storage format."""
        if ignore_null_updates and self.storage_format == "delta" and n_buckets is None:
            raise ValueError(
                "ignore_null_updates on a Delta-stored flow is not "
                "supported: the protocol MERGE has no last-non-null fold; "
                "use the bucketed manifest engine (n_buckets=...) or "
                "parquet storage"
            )
        flow = CdcFlowDef(
            target=target, source=source, keys=keys, sequence_by=sequence_by,
            reset_allowed=reset_allowed,
            tiebreakers=list(tiebreakers or []), n_buckets=n_buckets,
            bucket_keys=list(bucket_keys) if bucket_keys else None,
            apply_as_deletes=apply_as_deletes,
            except_column_list=list(except_column_list) if except_column_list else None,
            stored_as_scd_type=stored_as_scd_type,
            track_history_except_column_list=(
                list(track_history_except_column_list)
                if track_history_except_column_list
                else None
            ),
            track_history_column_list=(
                list(track_history_column_list)
                if track_history_column_list is not None
                else None
            ),
            column_list=list(column_list) if column_list else None,
            ignore_null_updates=ignore_null_updates,
        )
        flow.operator(self.table_path(target))  # raises on a bad declaration
        self._note_decl(target)
        self.cdc_flows[target] = flow

    def apply_changes_from_snapshot(
        self,
        *,
        target: str,
        source: str,
        keys: list[str],
        stored_as_scd_type: int = 2,
        track_history_except_column_list: list[str] | None = None,
        track_history_column_list: list[str] | None = None,
    ) -> None:
        """Declare a target maintained by SNAPSHOT DIFFING (DLT's
        ``apply_changes_from_snapshot``): every pipeline update reads the
        source table's CURRENT full state as one snapshot (version = the
        event log's update id, strictly increasing) and folds it into the
        target — SCD1 replaces, SCD2 maintains [__START_AT, __END_AT)
        history with keys ABSENT from a snapshot closed at its version.
        See operators/cdc.ApplyChangesFromSnapshot for the diff
        semantics and cost shape."""
        sflow = SnapshotFlowDef(
            target=target, source=source, keys=list(keys),
            stored_as_scd_type=stored_as_scd_type,
            track_history_except_column_list=(
                list(track_history_except_column_list)
                if track_history_except_column_list
                else None
            ),
            track_history_column_list=(
                list(track_history_column_list)
                if track_history_column_list is not None
                else None
            ),
        )
        sflow.operator(self.table_path(target))  # raises on a bad declaration
        self._note_decl(target)
        self.snapshot_flows[target] = sflow

    def incremental_view(
        self,
        *,
        target: str,
        source: str,
        transform: Callable[[DataFrame], DataFrame],
        keys: list[str] | None = None,
        aux_source: str | None = None,
    ) -> None:
        """Declare an incrementally-maintained keyed view over a bucketed
        CDC flow (operators/incremental.py): each pipeline pass refreshes
        only the buckets the CDC merge touched since the last refresh —
        the O(delta) alternative to a full `kind="live"` gold recompute.
        ``keys`` must contain the flow's bucket-routing columns; defaults
        to the flow's keys.

        ``aux_source`` (the joined-view form, the flagship gold's shape):
        a SECOND pipeline table — an append-only streaming fact table
        whose ``partition_by`` starts with the flow's single
        bucket-routing column. The view then also goes stale when a fact
        partition receives rows, and ``transform`` takes TWO DataFrames
        ``(cdc_rows, fact_rows)`` — the stale buckets' CDC state and the
        fact rows partition-pruned to those buckets' routing values."""
        flow = self.cdc_flows.get(source)
        if flow is None or flow.n_buckets is None:
            raise ValueError(
                f"incremental_view source {source!r} must be a CDC flow "
                "declared with n_buckets"
            )
        aux_col = None
        if aux_source is not None:
            aux_t = self.tables.get(aux_source)
            if aux_t is None:
                raise ValueError(
                    f"incremental_view aux_source {aux_source!r} is not a "
                    "declared pipeline table"
                )
            part = list(aux_t.partition_by or ())
            bks = flow.bucket_keys or flow.keys
            if len(bks) != 1 or not part or part[0] != bks[0]:
                raise ValueError(
                    f"aux_source {aux_source!r} must be partitioned by the "
                    f"flow's single bucket-routing column (flow routes by "
                    f"{bks}, aux partition_by={part})"
                )
            aux_col = part[0]
        self._note_decl(target)
        self.inc_views[target] = IncViewDef(
            target=target, source=source, transform=transform,
            keys=list(keys) if keys else list(flow.keys),
            aux_source=aux_source, aux_partition_col=aux_col,
        )

    def create_streaming_table(
        self,
        name: str,
        *,
        comment: str = "",
        partition_by: list[str] | None = None,
        table_properties: dict[str, str] | None = None,
        expectations: list | None = None,
    ) -> None:
        """DLT ``dlt.create_streaming_table``: declare a streaming target
        with NO single defining query — rows arrive from one or more
        ``@append_flow`` queries (the reference's two-store event union,
        `02_Bronze-to-Silver ETL.py:89-92`, is the one-flow special case;
        a regional consolidation is the many-flow general case). The
        target is one table with one schema; every flow appends into it
        under its own checkpoint."""
        if (
            name in self.tables
            or name in self.cdc_flows
            or name in self.streaming_targets
        ):
            raise ValueError(f"table {name!r} already declared")
        self._note_decl(name)
        self.streaming_targets[name] = TableDef(
            name=name,
            fn=None,  # type: ignore[arg-type]
            kind="stream",
            comment=comment,
            partition_by=list(partition_by or []),
            table_properties=dict(table_properties or {}),
            expectations=list(expectations or []),
        )

    def append_flow(
        self,
        *,
        target: str,
        name: str | None = None,
        once: bool = False,
    ):
        """DLT ``@dlt.append_flow``: register a streaming query that
        APPENDS into a shared streaming table (``create_streaming_table``)
        or an external sink (``create_sink``). Flows are independent:
        each has its own checkpoint (add/remove flows across restarts
        without touching the others' progress), and with ``once=True``
        the flow is a one-shot backfill skipped on later updates."""

        def deco(fn):
            fname = name or fn.__name__
            if fname in self.append_flows:
                raise ValueError(f"append flow {fname!r} already declared")
            if target not in self.streaming_targets and target not in self.sinks:
                raise ValueError(
                    f"append_flow target {target!r} is neither a "
                    "create_streaming_table target nor a create_sink sink"
                )
            self.append_flows[fname] = AppendFlowDef(
                name=fname, target=target, fn=fn, once=once
            )
            return fn

        return deco

    def create_sink(
        self, name: str, format: str, options: dict[str, str] | None = None
    ) -> None:
        """DLT ``dlt.create_sink``: declare an EXTERNAL egress target for
        append flows. Supported formats here: 'parquet' and 'delta'
        (options['path'] required). Sinks are write-only — they never
        appear in ``read()``/``LIVE.`` resolution."""
        options = dict(options or {})
        if format not in ("parquet", "delta"):
            raise ValueError(
                f"sink format must be parquet|delta, got {format!r} "
                "(kafka egress needs a broker + spark-sql-kafka jar; "
                "environment-blocked, same waiver as sources/kafka.py)"
            )
        if "path" not in options:
            raise ValueError("sink options must include 'path'")
        if name in self.sinks:
            raise ValueError(f"sink {name!r} already declared")
        self._note_decl(name)
        self.sinks[name] = SinkDef(name=name, format=format, options=options)

    # -- paths -------------------------------------------------------------

    def table_path(self, name: str) -> str:
        return os.path.join(self.storage, "tables", name)

    def checkpoint_path(self, name: str) -> str:
        return os.path.join(self.storage, "checkpoints", name)

    def event_log(self, spark: SparkSession) -> DataFrame:
        """The pipeline's queryable run ledger (DLT's event log surface,
        implied by the reference's job UI at `05_DLT Job
        Scheduling.py:32-36`): one row per event across every update —
        update_start/complete, flow_start/complete with row counts,
        per-CDC-batch flow_progress, and one ``expectation`` event per
        constraint per refresh (name/action/passed/failed inside the
        ``details`` JSON string). Distributed read with a pinned schema
        (no inference pass); empty until the first update runs."""
        d = os.path.join(self.storage, "_event_log")
        schema = _EventLog.READ_SCHEMA
        if not os.path.isdir(d) or not any(
            n.endswith(".jsonl") for n in os.listdir(d)
        ):
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).json(os.path.join(d, "*.jsonl"))

    # -- reads used inside table fns (the LIVE./read()/read_stream() edges)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """Batch read of another pipeline table (DLT ``dlt.read`` /
        ``LIVE.name``). Manifest-tracked tables (bucketed CDC flows and
        incremental views) resolve through their manifest — a raw
        recursive parquet read would mix live and retired epoch dirs."""
        self._record_dep(name)
        flow = self.cdc_flows.get(name)
        is_manifest = (flow is not None and flow.n_buckets is not None) or (
            name in self.inc_views
        )
        if is_manifest:
            # reader-only handle: read_target touches nothing but the
            # manifest, so the keyed spec is irrelevant here
            return ApplyChanges(
                self.table_path(name), keys=["__r"], sequence_by="__r", n_buckets=1
            ).read_target(spark)
        if name in self.snapshot_flows:
            # snapshot-diff targets use the write-then-swap parquet store
            # in both storage modes (recomputed state, not an append log)
            return spark.read.parquet(self.table_path(name))
        if self.storage_format == "delta":
            from pos_dlt_spark.sources.delta import read_delta

            df = read_delta(spark, self.table_path(name))
        else:
            df = spark.read.parquet(self.table_path(name))
        # SCD2 tombstones are merge bookkeeping, not versions
        scd2 = flow is not None and flow.stored_as_scd_type == 2
        return ApplyChanges._visible(df, raw=not scd2)

    def read_stream(self, spark: SparkSession, name: str) -> DataFrame:
        """Streaming read of another pipeline table (``dlt.read_stream``).
        Parquet-dir streams deliver newly committed files exactly once.

        Delta mode: stream tables and plain CDC targets are APPEND-ONLY
        Delta tables whose data files land under the table root exactly
        once per commit, so the same file stream (with the LOG's schema
        pinned; ``_delta_log`` is hidden from the scan by the underscore
        rule) delivers each commit's files exactly once — the
        protocol-faithful subset of a Delta streaming source for an
        append-only upstream. LIVE tables are overwrite-recomputed and
        leave removed files on disk until vacuum, which a file stream
        would wrongly re-deliver — reading one as a stream fails fast
        (same restriction delta's own streaming source has without
        ``skipChangeCommits``)."""
        self._record_dep(name)
        if self.storage_format == "delta":
            t = self.tables.get(name)
            if t is not None and t.kind == "live":
                raise ValueError(
                    f"read_stream({name!r}): live tables are overwrite-"
                    "recomputed Delta tables; stream reads require an "
                    "append-only upstream (use read() in a live consumer)"
                )
            if t is not None and t.kind == "auto":
                # unresolved auto table: inside run_once the producer has
                # always refreshed (and resolved) before any consumer
                # materializes, so this only triggers on out-of-order
                # manual reads — refuse rather than guess append-only-ness
                raise ValueError(
                    f"read_stream({name!r}): table kind is still 'auto' — "
                    "refresh the producer first (run_once orders this) or "
                    "declare kind='stream' explicitly"
                )
            flow = self.cdc_flows.get(name)
            if flow is not None and flow.n_buckets is None:
                # plain CDC targets are maintained by delta_merge, which
                # REMOVES and rewrites files; a raw file stream would
                # re-deliver every rewritten row as a duplicate — the same
                # not-append-only hazard as live tables, so the same loud
                # refusal (delta's own source throws without
                # skipChangeCommits here too)
                raise ValueError(
                    f"read_stream({name!r}): CDC targets are merge-"
                    "rewritten Delta tables, not append-only; use read() "
                    "or consume the flow's change feed"
                )
            from pos_dlt_spark.sources.delta import delta_snapshot

            schema = delta_snapshot(spark, self.table_path(name)).schema
            return spark.readStream.schema(schema).parquet(self.table_path(name))
        schema = spark.read.parquet(self.table_path(name)).schema
        return spark.readStream.schema(schema).parquet(self.table_path(name))

    def table_changes(
        self,
        spark: SparkSession,
        name: str,
        start_version: int = 0,
        end_version: int | None = None,
    ) -> DataFrame:
        """Change feed of a delta-mode pipeline table (the supported way
        to consume a merge-rewritten CDC target downstream — the thing
        ``read_stream`` refuses): one DataFrame of the table schema plus
        ``_change_type`` / ``_commit_version``. Plain CDC targets are
        created with ``delta.enableChangeDataFeed`` on, so their merges
        carry precise change files; append-only tables derive inserts
        from their adds."""
        if self.storage_format != "delta":
            raise ValueError("table_changes requires storage_format='delta'")
        from pos_dlt_spark.sources.delta_cdf import read_change_feed

        self._record_dep(name)
        return read_change_feed(
            spark, self.table_path(name),
            start_version=start_version, end_version=end_version,
        )

    def replay_changes(
        self, spark: SparkSession, name: str, start_version: int = 0
    ) -> list:
        """Commit-ordered CDF replay plan ``[(version, changes_df), ...]``
        for a delta-mode pipeline table — the micro-batch shape a
        downstream ``apply_changes`` consumes (each commit's changes are
        one batch)."""
        if self.storage_format != "delta":
            raise ValueError("replay_changes requires storage_format='delta'")
        from pos_dlt_spark.sources.delta_cdf import replay_changes

        self._record_dep(name)
        return replay_changes(spark, self.table_path(name), start_version=start_version)

    def _note_decl(self, name: str) -> None:
        self._decl_seq.setdefault(name, len(self._decl_seq))

    # -- dependency tracking ----------------------------------------------

    _current: str | None = None

    def _record_dep(self, name: str) -> None:
        if self._current is None:
            return
        t = self.tables.get(self._current) or self.streaming_targets.get(
            self._current
        )
        if t is not None:
            t.deps.add(name)
        elif self._current in self.sinks:
            self.sinks[self._current].deps.add(name)

    # -- ordering ----------------------------------------------------------

    def topo_order(self) -> list[str]:
        """Kahn topo-sort over declared tables + CDC targets. Dependencies
        are discovered on the first run (read()/read_stream() calls); the
        declared order is a valid fallback tiebreak."""
        names = (
            list(self.tables)
            + [t for t in self.cdc_flows if t not in self.tables]
            + [t for t in self.snapshot_flows if t not in self.tables]
            + [t for t in self.inc_views if t not in self.tables]
            + [t for t in self.streaming_targets if t not in self.tables]
            + [s for s in self.sinks if s not in self.tables]
        )
        # declaration order IS the author's topological intent before the
        # first run discovers real edges — keep it across categories
        names.sort(key=lambda n: self._decl_seq.get(n, len(self._decl_seq)))
        deps = {n: set() for n in names}
        for n, t in self.tables.items():
            deps[n] = {d for d in t.deps if d in deps and d != n}
        for n, t in self.streaming_targets.items():
            deps[n] = {d for d in t.deps if d in deps and d != n}
        for n, s in self.sinks.items():
            deps[n] = {d for d in s.deps if d in deps and d != n}
        for target, flow in self.cdc_flows.items():
            deps[target] = {flow.source} if flow.source in deps else set()
        for target, sflow in self.snapshot_flows.items():
            deps[target] = {sflow.source} if sflow.source in deps else set()
        for target, view in self.inc_views.items():
            deps[target] = {view.source}
            if view.aux_source in deps:
                deps[target].add(view.aux_source)
        # First-run gap: a table whose edges are only DISCOVERED at
        # materialization (no deps= declared — the dlt-facade shape) has
        # an empty dep set here and Kahn would schedule it before the
        # upstream it is about to read. Notebook code is written to run
        # top to bottom, so give every dep-less dataset implicit edges to
        # everything declared before it — exactly the order the notebook
        # runtime would execute. Discovered deps replace the implicit
        # ones from the second refresh on. If the implicit edges collide
        # with explicit out-of-declaration-order deps (legal in the
        # engine API), fall back to the explicit graph alone.
        order_of = {n: self._decl_seq.get(n, len(self._decl_seq)) for n in names}

        def kahn(dep_map):
            out, ready = [], [n for n in names if not dep_map[n]]
            remaining = {n: set(d) for n, d in dep_map.items() if dep_map[n]}
            while ready:
                n = ready.pop(0)
                out.append(n)
                for m, ds in list(remaining.items()):
                    ds.discard(n)
                    if not ds:
                        del remaining[m]
                        ready.append(m)
            if remaining:
                raise CycleError(f"dependency cycle among {sorted(remaining)}")
            return out

        widened = {n: set(d) for n, d in deps.items()}
        for n in names:
            if not widened[n]:
                widened[n] = {
                    m for m in names if order_of[m] < order_of[n]
                }
        try:
            return kahn(widened)
        except CycleError:
            return kahn(deps)


class _EventLog:
    """Persistent, queryable run ledger — the engine's DLT event log
    (the surface the reference's job UI renders, `05_DLT Job
    Scheduling.py:32-36`). One JSONL file per pipeline UPDATE under
    ``storage/_event_log/``; every event is ONE complete line emitted
    with a single buffered write + flush, so a reader never parses a
    torn record and a crash mid-update loses at most the event being
    written — everything already flushed stays readable (append
    atomicity; pinned by test). Update ids are monotone: the next update
    scans existing file names, so a failed update never reuses an id.

    Event kinds: ``update_start`` / ``update_complete`` (status,
    tables), ``flow_start`` / ``flow_complete`` (rows_written for
    live/stream tables; num_source_rows / num_upserted_rows /
    num_deleted_rows / num_batches for apply_changes flows),
    ``flow_progress`` (per CDC micro-batch), ``expectation`` (one per
    constraint per refresh: name, action, passed, failed). ``details``
    is a JSON object string, like DLT's event log."""

    READ_SCHEMA = (
        "update_id BIGINT, seq BIGINT, ts DOUBLE, event_type STRING, "
        "table_name STRING, details STRING"
    )

    def __init__(self, storage: str) -> None:
        self.dir = os.path.join(storage, "_event_log")
        self._fh = None
        self.update_id: int | None = None
        self._seq = 0

    @property
    def active(self) -> bool:
        return self._fh is not None

    def begin_update(self) -> int:
        os.makedirs(self.dir, exist_ok=True)
        prior = [
            int(n[len("update_"):-len(".jsonl")])
            for n in os.listdir(self.dir)
            if n.startswith("update_") and n.endswith(".jsonl")
        ]
        self.update_id = (max(prior) + 1) if prior else 0
        self._seq = 0
        self._fh = open(
            os.path.join(self.dir, f"update_{self.update_id:06d}.jsonl"), "a"
        )
        return self.update_id

    def emit(self, event_type: str, table: str | None = None, **details) -> None:
        if self._fh is None:
            return
        line = json.dumps(
            {
                "update_id": self.update_id,
                "seq": self._seq,
                "ts": time.time(),
                "event_type": event_type,
                "table_name": table,
                "details": json.dumps(details, sort_keys=True),
            }
        )
        self._seq += 1
        self._fh.write(line + "\n")  # one write per complete line
        self._fh.flush()

    def end_update(self, status: str, tables: list[str]) -> None:
        self.emit("update_complete", status=status, tables=tables)
        self._fh.close()
        self._fh = None
        self.update_id = None


class PipelineRunner:
    """Executes a Pipeline: live tables recompute in topo order; stream
    tables run an AvailableNow pass; CDC flows upsert their targets.

    Expectation metrics ride the table's own write job via
    ``DataFrame.observe`` — violation counts cost ZERO extra scans at any
    scale (an AggregatingAccumulator on the already-running plan), unlike
    a separate ``count()`` pass which would re-read the table. Metrics
    land in :attr:`expectation_metrics` and as ``expectation`` events in
    the run ledger (:meth:`Pipeline.event_log`).
    """

    def __init__(self, pipeline: Pipeline) -> None:
        self.p = pipeline
        # table -> expectation name -> {action, condition, passed, failed}
        self.expectation_metrics: dict[str, dict[str, dict]] = {}
        # persistent run ledger (Pipeline.event_log reads it back)
        self.log = _EventLog(pipeline.storage)

    # -- expectations ------------------------------------------------------

    @staticmethod
    def _expectation_aggs(exps: list[ExpectationDef]):
        from pyspark.sql import functions as F

        # a row VIOLATES when the condition is false or null — exactly the
        # rows `WHERE condition` would remove, so drop-mode filtering and
        # these counters can never disagree
        aggs = [
            F.sum(F.when(F.expr(e.condition), 0).otherwise(1)).cast("bigint").alias(e.name)
            for e in exps
        ]
        aggs.append(F.count(F.lit(1)).cast("bigint").alias("__rows"))
        return aggs

    @staticmethod
    def _apply_drops(df: DataFrame, exps: list[ExpectationDef]) -> DataFrame:
        from pyspark.sql import functions as F

        for e in exps:
            if e.action == "drop":
                df = df.filter(F.expr(e.condition))
        return df

    def _record_metrics(self, table: str, exps: list[ExpectationDef], row) -> dict[str, dict]:
        rows = int(row["__rows"] or 0)
        metrics = {}
        for e in exps:
            failed = int(row[e.name] or 0)
            metrics[e.name] = {
                "action": e.action,
                "condition": e.condition,
                "passed": rows - failed,
                "failed": failed,
            }
        self.expectation_metrics[table] = metrics
        for name, m in metrics.items():
            self.log.emit(
                "expectation", table=table, name=name, action=m["action"],
                passed=m["passed"], failed=m["failed"],
            )
        return metrics

    @staticmethod
    def _fail_violations(metrics: dict[str, dict]) -> bool:
        return any(m["failed"] for m in metrics.values() if m["action"] == "fail")

    def _meter(self, df: DataFrame, t: TableDef, exp_obs, rows_obs) -> DataFrame:
        """The metering prelude every table write shares: observe the
        expectations (``exp_obs``) BEFORE the drop filters, so failed ==
        dropped by definition, then observe the post-drop row count
        (``rows_obs``) — both ride the write job itself, zero extra scans.
        A batch write passes :class:`Observation` objects, a stream passes
        observation names (per-micro-batch rows surface in
        ``StreamingQueryProgress.observedMetrics``)."""
        from pyspark.sql import functions as F

        exps = t.expectations
        if exps:
            df = df.observe(exp_obs, *self._expectation_aggs(exps))
            df = self._apply_drops(df, exps)
        df = df.observe(rows_obs, F.count(F.lit(1)).cast("bigint").alias("n"))
        if t.partition_by:
            # route rows to their partition tuple BEFORE the partitioned
            # sink: without this every sink task writes one file per
            # tuple it sees (tasks x tuples — measured 62k files for
            # 100k rows at 32 tasks x ~3000 (store, day) tuples in the
            # r11 decade), and at 20M events the commit drowns in file
            # metadata. One extra hash shuffle bounds files to ~#tuples.
            df = df.repartition(*t.partition_by)
        return df

    def _write_live(self, df: DataFrame, t: TableDef) -> int:
        from pyspark.sql import Observation

        exps = t.expectations
        obs = Observation() if exps else None
        out_obs = Observation()
        df = self._meter(df, t, obs, out_obs)
        if self.p.storage_format == "delta":
            self._write_live_delta(df, t, obs)
            return int(out_obs.get["n"] or 0)
        final = self.p.table_path(t.name)
        has_fail = any(e.action == "fail" for e in exps)
        # fail-mode updates are atomic: write beside the live table, check
        # the observed counts, then swap — a failed refresh leaves the
        # previous contents untouched (DLT-on-Delta's abort semantics)
        dest = final + ".__pending__" if has_fail else final
        if has_fail and os.path.exists(dest):
            shutil.rmtree(dest)
        writer = df.write.mode("overwrite")
        if t.partition_by:
            writer = writer.partitionBy(*t.partition_by)
        writer.parquet(dest)
        if exps:
            metrics = self._record_metrics(t.name, exps, obs.get)
            if has_fail:
                if self._fail_violations(metrics):
                    shutil.rmtree(dest, ignore_errors=True)
                    raise ExpectationFailed(t.name, metrics)
                old = final + ".__old__"
                if os.path.exists(old):
                    shutil.rmtree(old)
                if os.path.exists(final):
                    os.replace(final, old)
                os.replace(dest, final)
                shutil.rmtree(old, ignore_errors=True)
        return int(out_obs.get["n"] or 0)

    def _write_live_delta(self, df: DataFrame, t: TableDef, obs) -> None:
        """Live recompute as ONE atomic Delta OVERWRITE commit. Expectation
        metrics ride the staging write job (observe), and fail-mode aborts
        BEFORE the commit via the writer's precommit hook — the previous
        snapshot stays live, no swap-dir choreography needed (this is what
        the parquet mode's __pending__/__old__ dance emulates)."""
        from pos_dlt_spark.sources.delta_writer import write_delta

        exps = t.expectations

        def precommit() -> None:
            metrics = self._record_metrics(t.name, exps, obs.get)
            if self._fail_violations(metrics):
                raise ExpectationFailed(t.name, metrics)

        write_delta(
            df,
            self.p.table_path(t.name),
            mode="overwrite",
            partition_by=t.partition_by or None,
            precommit=precommit if exps else None,
        )

    @staticmethod
    def _sink(fmt: str, path: str, app_id: str, partition_by, shared: bool):
        """The sink of one flow into ``path``. Delta commits each
        micro-batch with a SetTransaction (``app_id``, batch id), so a
        foreachBatch replay after a crash between sink-write and
        checkpoint-advance is skipped by the writer instead of duplicating
        rows — the idempotence contract delta's own streaming sink
        implements. A parquet stream table's one query keeps Spark's file
        sink (returned as its path): its ``_spark_metadata`` log makes it
        exactly-once and downstream reads list files through it. Flows
        ``shared`` with others cannot share one file sink, so they append
        per batch without a log (at-least-once on replay)."""
        if fmt == "delta":
            # looked up at call time: tracing wraps this module attribute
            from pos_dlt_spark.sources.delta_writer import delta_stream_sink

            return delta_stream_sink(path, app_id, partition_by=partition_by or None)
        if not shared:
            return path

        def append(batch_df: DataFrame, batch_id: int) -> None:
            w = batch_df.write.mode("append")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)

        return append

    @staticmethod
    def _drain(writer, ckpt: str):
        """Start one AvailableNow query from ``writer`` under ``ckpt`` and
        wait until it has consumed everything available."""
        q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        q.awaitTermination()
        return q

    def _run_flow(self, df: DataFrame, t: TableDef, ledger: str, ckpt: str, sink) -> int:
        """Run one streaming flow of table ``t`` — a stream table's
        defining query or one append flow — to completion: meter it, drain
        it into ``sink`` (a foreachBatch function or a parquet file-sink
        path), and return its rows written. Expectation totals are summed
        over the query's micro-batches and ledgered under ``ledger``.
        ``expect_or_fail`` is detect-and-halt here: the violating
        micro-batches are already committed when it raises (it stops the
        pipeline before downstream tables consume them); use
        ``expect_or_drop`` for containment."""
        exp_name, rows_name = f"__expectations_{ledger}", f"__rows_out_{ledger}"
        df = self._meter(df, t, exp_name, rows_name)
        if callable(sink):
            writer = df.writeStream.foreachBatch(sink)
        else:
            writer = df.writeStream.outputMode("append").format("parquet").option("path", sink)
            if t.partition_by:
                writer = writer.partitionBy(*t.partition_by)
        q = self._drain(writer, ckpt)
        exps = t.expectations
        rows = 0
        totals = dict.fromkeys([e.name for e in exps] + ["__rows"], 0)
        for prog in q.recentProgress:
            om = getattr(prog, "observedMetrics", None) or {}
            row = om.get(rows_name)
            if row is not None:
                rows += int(row["n"] or 0)
            row = om.get(exp_name)
            if row is not None:
                for k in totals:
                    totals[k] += int(row[k] or 0)
        if exps:
            metrics = self._record_metrics(ledger, exps, totals)
            if self._fail_violations(metrics):
                raise ExpectationFailed(ledger, metrics)
        return rows

    def _run_stream(self, df: DataFrame, t: TableDef) -> int:
        sink = self._sink(
            self.p.storage_format, self.p.table_path(t.name),
            f"pos_dlt:{self.p.name}:{t.name}", t.partition_by, shared=False,
        )
        return self._run_flow(df, t, t.name, self.p.checkpoint_path(t.name), sink)

    def _flow_ac(self, flow: CdcFlowDef) -> ApplyChanges:
        return flow.operator(self.p.table_path(flow.target))

    def _run_append_flows(self, spark: SparkSession, name: str) -> int:
        """Refresh a multi-flow streaming target (create_streaming_table)
        or an external sink: run each of its append flows under that
        flow's OWN checkpoint and Delta appId (pipeline:target:flow),
        appending into the shared location (see :meth:`_sink`).
        ``once`` flows are skipped as soon as their checkpoint shows a
        committed batch (DLT's backfill contract; a full refresh clears
        the checkpoint and re-arms them)."""
        sink_def = self.p.sinks.get(name)
        if sink_def is not None:
            t = TableDef(name=name, fn=None, kind="stream")  # type: ignore[arg-type]
            path = sink_def.options["path"]
            fmt = sink_def.format
        else:
            t = self.p.streaming_targets[name]
            path = self.p.table_path(name)
            fmt = self.p.storage_format
        flows = [f for f in self.p.append_flows.values() if f.target == name]
        if not flows:
            raise ValueError(
                f"streaming target {name!r} has no append flows declared"
            )
        total = 0
        for flow in flows:
            ckpt = self.p.checkpoint_path(os.path.join(name, f"flow_{flow.name}"))
            commits = os.path.join(ckpt, "commits")
            if flow.once and os.path.isdir(commits) and any(
                not e.startswith(".") for e in os.listdir(commits)
            ):
                self.log.emit(
                    "flow_skipped", table=name, flow=flow.name, reason="once"
                )
                continue
            self.p._current = name
            try:
                df = flow.fn(spark)
            finally:
                self.p._current = None
            sink = self._sink(
                fmt, path, f"pos_dlt:{self.p.name}:{name}:{flow.name}",
                t.partition_by, shared=True,
            )
            rows = self._run_flow(df, t, f"{name}:{flow.name}", ckpt, sink)
            self.log.emit(
                "flow_progress", table=name, flow=flow.name, rows_written=rows
            )
            total += rows
        return total

    def _run_inc_view(self, spark: SparkSession, view) -> None:
        from pos_dlt_spark.operators.incremental import (
            IncrementalJoinedView,
            IncrementalKeyedView,
        )

        flow = self.p.cdc_flows[view.source]
        if view.aux_source is not None:
            ikv = IncrementalJoinedView(
                self._flow_ac(flow),
                self.p.table_path(view.target),
                view.transform,
                aux_path=self.p.table_path(view.aux_source),
                aux_partition_col=view.aux_partition_col,
                keys=view.keys,
            )
        else:
            ikv = IncrementalKeyedView(
                self._flow_ac(flow),
                self.p.table_path(view.target),
                view.transform,
                keys=view.keys,
            )
        refreshed = ikv.refresh(spark)
        self.log.emit(
            "flow_progress", table=view.target,
            num_buckets_refreshed=len(refreshed),
        )

    def _run_snapshot_flow(self, spark: SparkSession, sflow: SnapshotFlowDef) -> dict:
        ac = sflow.operator(self.p.table_path(sflow.target))
        snap = self.p.read(spark, sflow.source)
        # snapshot version = this update's ledger id: strictly increasing
        # across the pipeline's lifetime (the event log never reuses one)
        version = self.log.update_id
        if version is None:  # no ledger active (direct internal call)
            last = ac.last_version()
            version = (last + 1) if last is not None else 0
        processed = ac.process_snapshot(snap, int(version))
        return {"snapshot_version": int(version), "processed": bool(processed)}

    def _run_cdc(self, spark: SparkSession, flow: CdcFlowDef) -> dict:
        # Every store shapes and folds a batch through the flow's one
        # ApplyChanges (_prepare: tombstone flag, column projection,
        # intra-batch reduce; _fold: the merge against prior state). The
        # parquet stores and the bucketed manifest store (in both storage
        # formats) run it whole via process_batch; the two Delta sinks
        # fold with it and commit through the Delta protocol.
        ac = self._flow_ac(flow)
        if self.p.storage_format != "delta" or flow.n_buckets is not None:
            batch_fn = ac.process_batch
        else:
            batch_fn = self._delta_cdc_sink(spark, flow, ac)

        # Event-log counters (DLT flow_progress): per micro-batch, the
        # batch's WINNING rows after the intra-batch latest-per-key reduce
        # (SCD2 keeps every version, so there the raw deduped rows) split
        # into upserts and tombstones. One aggregate per batch, O(batch) —
        # target-exact counts would need a target-side join per batch, so
        # the logged contract is source-side: a tombstone for an absent
        # key still counts as deleted, an upsert the target already
        # supersedes still counts as upserted.
        stats = {
            "num_source_rows": 0, "num_upserted_rows": 0,
            "num_deleted_rows": 0, "num_batches": 0,
        }
        inner_fn = batch_fn

        def counted(batch_df: DataFrame, batch_id: int) -> None:
            # One source scan per micro-batch: the sink AND the counters
            # both consume batch_df, so without the cache the counters
            # would re-execute the source read/parse (and re-evaluate
            # apply_as_deletes) — a 2x source tax per CDC batch at the
            # 20M-event decade scale
            batch_df.persist()
            try:
                self._count_batch(batch_df, batch_id, flow, inner_fn, stats)
            finally:
                batch_df.unpersist()

        src = self.p.read_stream(spark, flow.source)
        self._drain(
            src.writeStream.foreachBatch(counted), self.p.checkpoint_path(flow.target)
        )
        return stats

    def _delta_cdc_sink(self, spark: SparkSession, flow: CdcFlowDef, ac: ApplyChanges):
        """foreachBatch sink of an unbucketed CDC flow stored as Delta:
        ``ac`` shapes and folds each batch, the Delta protocol commits it."""
        from pos_dlt_spark.sources.delta import read_delta
        from pos_dlt_spark.sources.delta_writer import delta_merge, write_delta

        path = self.p.table_path(flow.target)
        app_id = f"pos_dlt:{self.p.name}:{flow.target}"
        log_dir = os.path.join(path, "_delta_log")

        def seed(rows: DataFrame, batch_id: int) -> None:
            # CDF on from birth: downstream flows consume the target's
            # precise change feed (table_changes / replay_changes) instead
            # of a forbidden file stream
            write_delta(
                rows, path, txn=(app_id, int(batch_id)),
                configuration={"delta.enableChangeDataFeed": "true"},
            )

        if flow.stored_as_scd_type == 2:
            # SCD2 on a real Delta table: per batch, ac._fold folds the
            # prepared version rows into the touched keys' FULL histories
            # (semi-join restricted; delta_merge's own stats pruning
            # bounds the rewrite), then ONE atomic MERGE commit keyed on
            # the full version identity (keys + sequence + tiebreakers):
            # same-version rows update in place (__END_AT re-bound —
            # equal sequence resolves update-wins), new versions insert,
            # rows of untouched keys are never rewritten. SetTransaction
            # makes batch replays no-ops.
            def scd2_sink(batch_df: DataFrame, batch_id: int) -> None:
                from pyspark.sql import functions as F

                incoming = ac._prepare(batch_df)
                if not os.path.isdir(log_dir):
                    seed(ac._fold(None, incoming), batch_id)
                    return
                existing_full = read_delta(spark, path).join(
                    incoming.select(*flow.keys).distinct(), flow.keys, "left_semi"
                )
                rebuilt = ac._fold(existing_full, incoming)
                vk = [*flow.keys, flow.sequence_by, *flow.tiebreakers]
                if flow.apply_as_deletes:
                    # __tombstone is part of the stored version identity: a
                    # retained tombstone and a data version at the SAME
                    # sequence are distinct rows (scd2_rebuild's zero-width
                    # close), so leaving it out of the merge key would let
                    # delta_merge's latest-per-key window collapse them —
                    # a same-sequence update could silently erase a stored
                    # tombstone and resurrect the key
                    vk = [*vk, "__tombstone"]
                if ac._untracked_for(incoming.columns):
                    # track-history collapse can REMOVE stored version rows
                    # (a run extended by an out-of-order row re-opens at an
                    # earlier sequence): mark versions the rebuild no longer
                    # contains as tombstones so the SAME merge commit drops
                    # them — one atomic remove+add, no phantom versions
                    stale = existing_full.join(
                        rebuilt.select(*vk).distinct(), vk, "left_anti"
                    )
                    updates = rebuilt.withColumn(
                        "__scd2_stale", F.lit(False)
                    ).unionByName(stale.withColumn("__scd2_stale", F.lit(True)))
                    delta_merge(
                        spark, path, updates, keys=vk,
                        sequence_by=flow.sequence_by,
                        txn=(app_id, int(batch_id)),
                        delete_predicate="__scd2_stale",
                    )
                    return
                delta_merge(
                    spark, path, rebuilt,
                    keys=vk,
                    sequence_by=flow.sequence_by,
                    txn=(app_id, int(batch_id)),
                )

            return scd2_sink

        # plain CDC target = a real Delta table maintained by protocol
        # MERGE commits (the reference's `03:379-384`): the first batch
        # seeds it with ac.merge(None, batch) — the batch's winning
        # rows, tombstones removed, columns projected — and every
        # later batch is one atomic remove+add merge commit with
        # stats-pruned file rewrite. SetTransaction makes batch
        # replays no-ops.
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if not os.path.isdir(log_dir):
                seed(ac.merge(None, batch_df), batch_id)
                return
            # whenMatchedDelete rides the protocol MERGE itself;
            # except-listed op columns drop in the merge's cast
            delta_merge(
                spark, path, batch_df, keys=flow.keys,
                sequence_by=flow.sequence_by,
                tiebreakers=flow.tiebreakers,
                txn=(app_id, int(batch_id)),
                delete_predicate=flow.apply_as_deletes,
            )

        return sink

    def _count_batch(self, batch_df, batch_id, flow, inner_fn, stats) -> None:
        """Count the batch in one action, then run the sink on it unless
        it is empty (the count is the sinks' emptiness probe)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if flow.stored_as_scd_type == 2:
            # every distinct row is a version: dropDuplicates, with counts
            rows = batch_df.groupBy(*batch_df.columns).agg(
                F.count(F.lit(1)).alias("__n")
            )
            n_src, won = F.sum("__n"), F.lit(True)
        else:
            order = [F.col(flow.sequence_by).desc()] + [
                F.col(c).desc() for c in flow.tiebreakers
            ]
            rows = batch_df.withColumn(
                "__rn",
                F.row_number().over(Window.partitionBy(*flow.keys).orderBy(*order)),
            )
            n_src, won = F.count(F.lit(1)), F.col("__rn") == 1
        deleted = F.lit(False)
        if flow.apply_as_deletes:
            deleted = won & F.coalesce(F.expr(flow.apply_as_deletes), F.lit(False))
        row = rows.agg(
            n_src.alias("n"),
            F.count(F.when(won, 1)).alias("w"),
            F.count(F.when(deleted, 1)).alias("d"),
        ).first()
        n_src = int(row["n"] or 0)
        if n_src == 0:
            return
        inner_fn(batch_df, batch_id)
        n_win, n_del = int(row["w"]), int(row["d"])
        stats["num_source_rows"] += n_src
        stats["num_upserted_rows"] += n_win - n_del
        stats["num_deleted_rows"] += n_del
        stats["num_batches"] += 1
        self.log.emit(
            "flow_progress", table=flow.target, batch_id=int(batch_id),
            num_source_rows=n_src, num_upserted_rows=n_win - n_del,
            num_deleted_rows=n_del,
        )

    def run_table(self, spark: SparkSession, name: str) -> None:
        """Refresh a single table (dependencies are NOT recursed — callers
        order by topo_order()). A standalone call (outside run_once)
        ledgers itself as a one-table update."""
        standalone = not self.log.active
        if standalone:
            self.log.begin_update()
            self.log.emit("update_start", pipeline=self.p.name)
        try:
            self._run_table_logged(spark, name)
            if standalone:
                self.log.end_update("COMPLETED", [name])
        except BaseException:
            if standalone:
                self.log.end_update("FAILED", [name])
            raise

    def _run_table_logged(self, spark: SparkSession, name: str) -> None:
        self.log.emit("flow_start", table=name)
        if name in self.p.cdc_flows:
            self.p._current = None
            stats = self._run_cdc(spark, self.p.cdc_flows[name])
            self.log.emit("flow_complete", table=name, **stats)
            return
        if name in self.p.snapshot_flows:
            self.p._current = None
            stats = self._run_snapshot_flow(spark, self.p.snapshot_flows[name])
            self.log.emit("flow_complete", table=name, **stats)
            return
        if name in self.p.inc_views:
            self.p._current = None
            self._run_inc_view(spark, self.p.inc_views[name])
            self.log.emit("flow_complete", table=name)
            return
        if name in self.p.streaming_targets or name in self.p.sinks:
            rows = self._run_append_flows(spark, name)
            self.log.emit("flow_complete", table=name, rows_written=rows)
            return
        t = self.p.tables[name]
        self.p._current = name
        try:
            df = t.fn(spark)
        finally:
            self.p._current = None
        if t.kind == "auto":
            # DLT kind inference: the returned frame decides. Persist the
            # resolution so read_stream()'s append-only checks and later
            # refreshes see a concrete kind.
            t.kind = "stream" if df.isStreaming else "live"
        if t.kind == "live":
            rows = self._write_live(df, t)
        else:
            rows = self._run_stream(df, t)
        self.log.emit("flow_complete", table=name, rows_written=rows)

    # -- full refresh (DLT pipelines.reset.allowed) ------------------------

    def _reset_allowed(self, name: str) -> bool:
        t = self.p.tables.get(name) or self.p.streaming_targets.get(name)
        if t is not None:
            return (
                str(
                    t.table_properties.get("pipelines.reset.allowed", "true")
                ).lower()
                != "false"
            )
        flow = self.p.cdc_flows.get(name)
        if flow is not None:
            return flow.reset_allowed
        return True

    def _reset_table(self, name: str) -> None:
        """Drop one table's stored state + checkpoints so the next refresh
        recomputes it from scratch (streams re-ingest everything; CDC
        re-merges from an empty target; once-flows re-arm)."""
        tp = self.p.table_path(name)
        shutil.rmtree(tp, ignore_errors=True)
        for sidecar in (tp + "._ac_meta.json", tp + "._snapshot_meta.json"):
            try:
                os.remove(sidecar)
            except FileNotFoundError:
                pass
        for suffix in (".__old", ".__pending__", ".__old__"):
            shutil.rmtree(tp + suffix, ignore_errors=True)
        shutil.rmtree(self.p.checkpoint_path(name), ignore_errors=True)

    def _full_refresh_reset(self, order: list[str], selection) -> None:
        """Reset every (selected) table honoring DLT's
        ``pipelines.reset.allowed = false`` escape hatch. External sinks
        are NEVER truncated and their flow checkpoints are kept — a full
        refresh must not double-publish into egress a downstream consumer
        already read."""
        selected = set(order if selection is True else selection)
        for name in order:
            if name not in selected or name in self.p.sinks:
                continue
            if not self._reset_allowed(name):
                self.log.emit(
                    "reset_skipped", table=name,
                    reason="pipelines.reset.allowed=false",
                )
                continue
            self._reset_table(name)
            self.log.emit("reset", table=name)

    def run_once(
        self, spark: SparkSession, full_refresh: bool | list[str] = False
    ) -> list[str]:
        """One full pass: every table refreshed once, in dependency order.

        The first pass discovers dependencies while running in declared
        order (which must therefore be topologically valid, as in DLT
        notebooks); later passes use the recorded DAG. Every pass is one
        ledgered UPDATE in the event log — update_start (with its
        ``update_mode``), per-table flow_start/flow_complete
        (+ expectation and flow_progress events), update_complete with
        COMPLETED/FAILED status.

        ``full_refresh=True`` is DLT's full refresh: before running,
        every table's stored state AND checkpoints are deleted (streams
        re-ingest from the beginning, CDC targets rebuild, once-flows
        re-run), EXCEPT tables declaring
        ``pipelines.reset.allowed = false`` (table_properties / the
        apply_changes ``reset_allowed`` flag), which keep their data and
        continue incrementally — DLT's protection for sources with
        limited retention. A list of names full-refreshes just that
        selection (DLT's refresh-selection UI)."""
        order = self.p.topo_order()
        self.log.begin_update()
        mode = (
            "FULL_REFRESH"
            if full_refresh is True
            else "PARTIAL_FULL_REFRESH" if full_refresh else "INCREMENTAL"
        )
        self.log.emit("update_start", pipeline=self.p.name, update_mode=mode)
        if full_refresh:
            self._full_refresh_reset(order, full_refresh)
        try:
            for name in order:
                self.run_table(spark, name)
        except BaseException:
            self.log.end_update("FAILED", order)
            raise
        self.log.end_update("COMPLETED", order)
        return order


def parse_interval(spec: str) -> float:
    """'24 hours' / '5 minutes' / '30 seconds' -> seconds (the DLT
    ``pipelines.trigger.interval`` grammar subset the reference uses)."""
    m = re.fullmatch(r"\s*(\d+(?:\.\d+)?)\s*(second|minute|hour|day)s?\s*", spec)
    if not m:
        raise ValueError(f"bad interval: {spec!r}")
    mult = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[m.group(2)]
    return float(m.group(1)) * mult


class PipelineScheduler:
    """Per-table recompute scheduling (reference W5: 24 h dims, 5 min gold,
    continuous streams — `03:128,186,215`, `04:68`).

    Each tick (:meth:`run_due`) refreshes, in dependency order, every table
    whose interval has elapsed; tables without an interval (streams, CDC
    flows, un-intervaled live tables) refresh every tick — streams just
    drain whatever is newly available, which is DLT's continuous mode under
    an AvailableNow micro-batch regime. ``clock`` is injectable so tests
    drive time explicitly instead of sleeping.
    """

    def __init__(self, runner: PipelineRunner, clock: Callable[[], float] = time.monotonic):
        self.runner = runner
        self.clock = clock
        self._next_due: dict[str, float] = {}

    def due(self) -> list[str]:
        now = self.clock()
        return [
            name
            for name in self.runner.p.topo_order()
            if self._next_due.get(name, float("-inf")) <= now
        ]

    def run_due(self, spark: SparkSession) -> list[str]:
        ran = []
        for name in self.due():
            self.runner.run_table(spark, name)
            ran.append(name)
            t = self.runner.p.tables.get(name)
            if t is not None and t.interval:
                self._next_due[name] = self.clock() + parse_interval(t.interval)
        return ran

    def run_for(self, spark: SparkSession, duration: float, poll: float = 1.0) -> None:
        """Drive the pipeline for ``duration`` seconds of wall clock."""
        deadline = self.clock() + duration
        while self.clock() < deadline:
            self.run_due(spark)
            time.sleep(poll)
