"""The engine front-end: ``Engine.execute_statement(sql)`` — the reference's
``Connection::execute_statement`` (runtime/src/connection.rs:28-144)
re-expressed over Spark SQL.

Statement surface (reference ``Statement`` enum, ast/src/statement.rs:6-19):
CREATE/DROP DATABASE, USE, CREATE TABLE, CREATE VIEW (stored as SQL text
with its db context, inlined at plan time — catalog/src/lib.rs:42-46,
resolve_tables.rs:34-61), DROP TABLE/VIEW, INSERT INTO (VALUES or SELECT),
DELETE FROM (WHERE/LIMIT with freq splitting), COMPACT TABLE, EXPLAIN,
SHOW DATABASES/TABLES/FUNCTIONS, and SELECT passthrough (dialect-rewritten,
planned and executed entirely by Catalyst).

Tables are FreqTable multisets (frequency.py); views are inlined by
registering them as temp views built from their stored SQL in their own
database context (recursive, cycle-guarded) — exactly the reference's
inline-at-resolution model.  Name qualification: Spark temp views cannot
contain dots, so ``db.table`` references are mangled to ``db__table`` and
both spellings are registered.

Scale: the engine layer is pure metadata + plan construction; all data
movement is Catalyst-planned Spark jobs.  The warehouse directory can be
any Hadoop-compatible filesystem path.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import weakref
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import commit, dialect, sketch_sql
from .explain import reference_explain
from .frequency import FreqTable
from .materialize import AggregateJoinMaterializedView, MaterializedView
from .sources.directory import read_directory

_TYPE_MAP = {
    "BOOLEAN": "boolean",
    "BOOL": "boolean",
    "INT": "int",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "TEXT": "string",
    "VARCHAR": "string",
    "BYTEA": "binary",
    "JSON": "string",
    "DATE": "date",
    "TIMESTAMP": "timestamp_ntz",
}

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
_QNAME = rf"(?:{_IDENT}\.)?{_IDENT}"

#: the reference's compiled-in registry (SHOW FUNCTIONS golden,
#: tests/show/functions.rs) — every name here is supported by this engine,
#: as a native Spark operator, a dialect rewrite, or a registered SQL UDF.
_FUNCTION_REGISTRY = (
    "!= * + - -> ->> / < <= = > >= and avg between coalesce count database "
    "date_sub if isfalse isnull istrue json_extract json_unquote not or sum "
    "to_bigint to_bool to_date to_decimal to_int to_json to_jsonpath to_text "
    "to_timestamp type_of"
).split()


#: SparkSession -> {temp-view name: frame it is bound to}.  Temp views are
#: session-global, so every Engine on a session shares this record and
#: re-binds a name another Engine re-pointed.  Entries live as long as
#: the process, like the sessions themselves.
_BOUND: dict[SparkSession, dict[str, DataFrame]] = {}


def _split_name(name: str, current_db: str) -> tuple[str, str]:
    if "." in name:
        db, t = name.split(".", 1)
        return db, t
    return current_db, name


class QueryKilled(RuntimeError):
    """Raised at the next row boundary of a streamed resultset whose
    session was targeted by KILL — the per-statement analog of the
    reference's kill_flag check between output tuples
    (runtime/src/lib.rs:90-131)."""


#: Row caps of the one bounded collect (``_fenced_collect``) that serves a
#: SELECT.  The embedded execute_statement() default returns ``.rows``,
#: so past EMBEDDED_MAX_COLLECT_ROWS it raises EmbeddedResultTooLarge
#: instead of materializing on the driver; such a caller streams
#: (stream=True).  A streamed SELECT is collected under the smaller
#: WIRE_COLLECT_ROWS fence and streamed only past it.
#:
#: The fences count rows, not bytes: 20,000 rows of ~200 B hold ~4 MB
#: on the driver, of 2 KB (a 64-float embedding, a 2,000-char string)
#: ~40 MB.  Past the wire fence the collect is wasted — the stream runs
#: the query again — so the fence is sized where that waste matches the
#: saving below it (measured over the wire at 4 cores: a 1,000-row
#: SELECT saves 130-150 ms; a 25,000-row one loses 110-230 ms; with the
#: fence at 100,000 rows, a 120,000-150,000-row one lost 260-660 ms).
#: The widest wire benchmark read, ~12,000 rows, fits under it.
EMBEDDED_MAX_COLLECT_ROWS = 1_000_000
WIRE_COLLECT_ROWS = 20_000


def _fenced_collect(df: DataFrame, cap: int) -> list[tuple] | None:
    """``df``'s rows from one collect under a LIMIT fence of ``cap`` rows,
    or None when the result has more.  The fence is the same execution
    with a limit on top, and an ORDER BY under it plans as a single
    TakeOrderedAndProject job.  Collected as planned, that top-K would
    send the driver up to ``cap + 1`` rows from EVERY input partition;
    coalesced to one partition it merges on an executor, in the same
    job, so the driver receives at most ``cap + 1`` rows in all."""
    fenced = df.limit(cap + 1)
    plan = fenced._jdf.queryExecution().sparkPlan()
    if plan.nodeName() == "TakeOrderedAndProject":
        fenced = fenced.coalesce(1)
    rows = fenced.collect()
    if len(rows) > cap:
        return None
    for i, r in enumerate(rows):  # in place: never a second full list
        rows[i] = tuple(r)
    return rows


class EmbeddedResultTooLarge(RuntimeError):
    """A non-streamed SELECT exceeded EMBEDDED_MAX_COLLECT_ROWS.  Re-run
    with execute_statement(..., stream=True): that result is collected
    under a fence of WIRE_COLLECT_ROWS rows and streamed past it, one
    partition at a time."""


@dataclass
class EngineResult:
    """(fields, rows) in the reference's result shape, plus the DataFrame.

    ``streaming=True`` results carry NO materialized ``rows``: consumers
    iterate :meth:`iter_rows`, which runs the query only then.  A result
    of at most WIRE_COLLECT_ROWS rows is collected under that fence in
    one Spark action; a larger one is streamed past it, one partition at
    a time, so driver memory stays O(min(result, fence)) plus one
    partition, never O(result) — the reference likewise writes
    (tuple, freq) rows incrementally (server/src/mysql/mod.rs:103-111).
    Embedded/golden consumers keep the default collected mode (their
    results are aggregates or LIMITed)."""

    columns: list[str] = field(default_factory=list)
    rows: list[tuple] = field(default_factory=list)
    df: DataFrame | None = None
    streaming: bool = False
    #: (group_id, description) — a streamed SELECT's Spark jobs run
    #: LAZILY during iteration, after execute_statement already cleared
    #: the session's job group; iter_rows re-arms it so KILL <session>
    #: cancelJobGroup aborts the fenced collect or an in-flight partition
    #: job.
    job_group: tuple[str, str] | None = None
    #: Per-statement kill flag, set by ``Engine.cancel``.  cancelJobGroup
    #: alone is NOT enough for a streamed SELECT (round-13 review): the
    #: stream spends most of its wall time between Spark jobs — blocked
    #: on the client socket — where a one-shot group cancel has nothing
    #: to abort and is silently lost.  iter_rows checks this flag before
    #: the fenced collect, every row AND before each blocking iterator
    #: fetch, so a KILL lands at the next row boundary regardless of
    #: whether a Spark job happens to be in flight — worst case one
    #: partition-fetch job when the KILL arrives while next() is already
    #: blocked (round-13 advice).
    kill_event: "threading.Event | None" = None
    #: callback run when iteration finishes (deregisters the kill flag)
    on_finish: "Callable[[], None] | None" = None

    def iter_rows(self):
        """Rows one at a time.  When streaming: from one collect under a
        fence of WIRE_COLLECT_ROWS rows, or, for a result past it, from
        ``toLocalIterator()`` (which re-executes the query and fetches
        each partition only when iteration reaches it); else from the
        materialized list.  Both ways yield the rows in the order the
        embedded collect returns them.  Raises :class:`QueryKilled` at
        the next row boundary after ``Engine.cancel`` targets the owning
        session."""
        if not (self.streaming and self.df is not None):
            yield from self.rows
            return
        sc = self.df.sparkSession.sparkContext
        if self.job_group is not None:
            sc.setJobGroup(self.job_group[0], self.job_group[1],
                           interruptOnCancel=True)
        try:
            self._check_killed()
            rows = _fenced_collect(self.df, WIRE_COLLECT_ROWS)
            it = iter(rows if rows is not None else self.df.toLocalIterator())
            while True:
                # checked BEFORE blocking on the iterator as well as after:
                # a KILL that lands between partition jobs (no job in
                # flight for cancelJobGroup to abort, round-13 advice)
                # would otherwise launch — and fully wait out — the next
                # partition-fetch job before the flag is seen.  A KILL
                # arriving WHILE next() is already blocked still pays that
                # one in-flight fetch (worst case: one partition job).
                self._check_killed()
                try:
                    r = next(it)
                except StopIteration:
                    break
                yield tuple(r)
        finally:
            if self.on_finish is not None:
                self.on_finish()
            if self.job_group is not None:
                for key in ("spark.jobGroup.id", "spark.job.description",
                            "spark.job.interruptOnCancel"):
                    sc.setLocalProperty(key, None)

    def _check_killed(self) -> None:
        if self.kill_event is not None and self.kill_event.is_set():
            raise QueryKilled("query killed while streaming its resultset")

    def pipes(self) -> list[str]:
        """Reference golden format: one ``|v1|v2|`` line per row
        (tests/runner/mod.rs:17-79)."""

        def fmt(v) -> str:
            if v is None:
                return "NULL"
            if isinstance(v, bool):
                return "TRUE" if v else "FALSE"
            # JSONPATH datum (a tagged struct on Spark): the reference
            # displays the original path single-quoted
            # (jsonpath_utils.rs:68-72)
            if hasattr(v, "__fields__") and list(v.__fields__) == ["__jsonpath"]:
                return f"'{v['__jsonpath']}'"
            return str(v)

        return ["|" + "|".join(fmt(v) for v in r) + "|" for r in self.rows]


class Engine:
    """One engine instance over a warehouse directory (≈ a server process)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self.current_db = "default"
        os.makedirs(os.path.join(warehouse, "default"), exist_ok=True)
        self._dir_views = 0
        #: set by every DDL/DML statement: registered temp views may then
        #: be stale (a registered scan plan never sees new segments), so
        #: the next SELECT runs _register_all, which re-registers only the
        #: relations whose on-disk identity moved.  Pure SELECT sequences
        #: skip even that identity check.
        self._catalog_dirty = True
        #: (kind, db, name) -> (identity, registered frame, or for the
        #: system tables a name -> frame dict); see _register_all for the
        #: identity of each kind
        self._rels: dict[tuple[str, str, str], tuple[object, object]] = {}
        #: temp-view name -> frame this engine last bound it to
        self._mine: dict[str, DataFrame] = {}
        #: (current db, view definitions) the SQL views were last built for
        self._views_key: tuple | None = None
        self._in_mutation = False
        #: group id -> kill flags of that session's live streamed results;
        #: Engine.cancel sets them so a stream blocked on the client
        #: socket (no Spark job in flight for cancelJobGroup to abort)
        #: still dies at its next row boundary
        self._stream_kills: dict[str, set[threading.Event]] = {}
        self._stream_kills_lock = threading.Lock()
        #: column → 'int' | 'bigint' | None across declared table schemas,
        #: for reference truncating-division parity (divide.rs:63-85)
        self._int_types: dict[str, str | None] | None = None
        from .functions.registry import register_all

        register_all(spark)

    # ---- catalog helpers ---------------------------------------------------
    def _db_path(self, db: str) -> str:
        return os.path.join(self.warehouse, db)

    def _table(self, db: str, name: str) -> FreqTable:
        return FreqTable(self.spark, os.path.join(self._db_path(db), name))

    def _views_path(self, db: str) -> str:
        return os.path.join(self._db_path(db), "_views.json")

    def _views(self, db: str) -> dict[str, dict]:
        p = self._views_path(db)
        if os.path.exists(p):
            with open(p) as fh:
                return json.load(fh)
        return {}

    def _save_views(self, db: str, views: dict[str, dict]) -> None:
        commit.write_json_atomic(self._views_path(db), views)

    def _mvs_path(self, db: str) -> str:
        return os.path.join(self._db_path(db), "_mvs.json")

    def _mvs(self, db: str) -> dict[str, dict]:
        p = self._mvs_path(db)
        if os.path.exists(p):
            with open(p) as fh:
                return json.load(fh)
        return {}

    def _save_mvs(self, db: str, mvs: dict[str, dict]) -> None:
        # atomic: a torn catalog file would brick every later statement
        # in the database (json.load at each _mvs() call)
        commit.write_json_atomic(self._mvs_path(db), mvs)

    def _register_and_refresh_mv(
        self, db: str, name: str, mvs: dict[str, dict]
    ) -> None:
        """Save the MV catalog entry, then run the initial refresh; if the
        refresh raises (bad select list, unresolvable condition, …) the
        entry is rolled back so a failed CREATE never leaves a
        registered-but-broken MV behind.  The rollback must not depend on
        ``_mv()`` construction succeeding — a meta that fails validation in
        the MV constructor (e.g. join + GROUP BY with no aggregate in the
        select list) would otherwise re-raise inside the handler BEFORE the
        catalog entry is removed, bricking the database (round-10 advice)."""
        self._save_mvs(db, mvs)
        try:
            mv = self._mv(db, name)
            mv.refresh()
        except Exception:
            # Un-register first — this alone restores a working catalog —
            # then best-effort remove any partial state on disk.
            mvs.pop(name, None)
            self._save_mvs(db, mvs)
            shutil.rmtree(
                os.path.join(self._db_path(db), f"{name}__mv"),
                ignore_errors=True,
            )
            raise

    def _mv(self, db: str, name: str) -> MaterializedView:
        meta = self._mvs(db)[name]
        state = os.path.join(self._db_path(db), f"{name}__mv")
        if meta.get("type") == "agg_join":
            tables = [
                self._table(*qn.split(".", 1)) for qn in meta["tables"]
            ]
            return AggregateJoinMaterializedView(
                self.spark,
                name,
                tables,
                meta["join_conds"],
                meta["select_list"],
                meta.get("where"),
                meta["group_by"],
                state,
                hows=meta.get("hows"),  # pre-left-outer metas: all inner
                changelog=bool(meta.get("changelog")),
                aliases=meta.get("aliases"),  # older metas: unaliased
            )
        if "base_mv" in meta:
            # Cascaded view (round 17): the base is ANOTHER aggregate
            # MV's changelog FreqTable — delta propagation composes
            # through the materialization boundary (materialize.py
            # _emit_changelog).  ``_upstream`` carries the source chain
            # so REFRESH can cascade root-first.
            sdb, sname = meta["base_mv"].split(".", 1)
            src = self._mv(sdb, sname)
            mv = MaterializedView(
                self.spark,
                name,
                src.changelog,
                meta["select_list"],
                meta.get("where"),
                meta.get("group_by"),
                state,
                # a cascaded view can itself be a cascade SOURCE (v3 over
                # v2): its own changelog flag must survive construction
                changelog=bool(meta.get("changelog")),
            )
            mv._upstream = src
            return mv
        bdb, bt = meta["base"].split(".")
        return MaterializedView(
            self.spark,
            name,
            self._table(bdb, bt),
            meta["select_list"],
            meta.get("where"),
            meta.get("group_by"),
            state,
            changelog=bool(meta.get("changelog")),
        )

    def _mv_bases(self, meta: dict) -> list[str]:
        """Qualified names of what a MV meta reads: its base tables, or
        the source view of a cascade."""
        if meta.get("type") == "agg_join":
            return list(meta["tables"])
        return [meta.get("base_mv") or meta["base"]]

    def _views_reading(self, bases) -> list[tuple[str, str]]:
        """(db, name) of every materialized view that reads a qualified
        table or view for which ``bases`` returns True."""
        return [
            (d, n)
            for d in self.databases() if d not in self._SYSTEM_DBS
            for n, meta in self._mvs(d).items()
            if any(bases(b) for b in self._mv_bases(meta))
        ]

    @staticmethod
    def _refuse_drop(what: str, views: list[tuple[str, str]],
                     kind: str = "materialized view(s)") -> None:
        """Refuse to drop ``what`` while the ``views`` depend on it."""
        if views:
            names = ", ".join(sorted(f"{d}.{n}" for d, n in views))
            raise ValueError(
                f"{what} has dependent {kind} {names} — drop those first")

    #: bootstrap system tables (catalog/src/bootstrap.rs:22-66): ids 0/2/4
    _SYSTEM_TABLES = {"prefix_tables": 0, "databases": 2, "tables": 4}
    _SYSTEM_DBS = ("incresql", "information_schema")

    def databases(self) -> list[str]:
        real = {
            d for d in os.listdir(self.warehouse)
            if os.path.isdir(self._db_path(d))
        }
        return sorted(real | set(self._SYSTEM_DBS))

    def tables(self, db: str) -> list[tuple[str, str]]:
        """[(name, kind)] where kind ∈ {table, view}."""
        if db == "incresql":
            return [(n, "table") for n in sorted(self._SYSTEM_TABLES)]
        out = []
        dbp = self._db_path(db)
        if os.path.isdir(dbp):
            for name in sorted(os.listdir(dbp)):
                if os.path.exists(os.path.join(dbp, name, "schema.json")):
                    out.append((name, "table"))
        out.extend((v, "view") for v in sorted(self._views(db)))
        return out

    # ---- registration (the resolve_tables phase) ---------------------------
    def _bind(self, vname: str, df: DataFrame) -> bool:
        """Point temp view ``vname`` at ``df``; False (and no Spark call)
        when it already is."""
        bound = _BOUND.setdefault(self.spark, {})
        self._mine[vname] = df
        if bound.get(vname) is df:
            return False
        df.createOrReplaceTempView(vname)
        bound[vname] = df
        return True

    def _cached(self, key: tuple, ident, build: Callable[[], object]):
        """``build()`` for relation ``key``, re-run only when its identity
        ``ident`` moved (None: re-run every time)."""
        hit = self._rels.get(key)
        if ident is None or hit is None or hit[0] != ident:
            hit = (ident, build())
            self._rels[key] = hit
        return hit[1]

    def _register_all(self) -> None:
        """Register every table, materialized view and view as temp views
        (bare names for the current database, ``db__name`` for all).
        Views are built from their stored SQL in their own db context —
        the reference's inline semantics.

        Only what changed is rebuilt.  ``_rels`` caches, per relation, a
        frame under an identity; an entry is rebuilt when its identity
        differs from the cached one:

        - table scan: the declared columns and live segment dirs
          (``FreqTable.snapshot_key``) — INSERT, DELETE and COMPACT add
          or replace segments, DROP + CREATE resets both;
        - MV read: the select items plus the state manifest's version and
          bucket dirs, or the state's segments for a linear MV
          (``MaterializedView.snapshot_key``) — REFRESH publishes a new
          manifest or segment; an MV with no state rows has no identity
          and is rebuilt every time, because its ``read()`` refreshes;
        - system tables: the catalog layout (table names and columns,
          view and MV definitions) — their rows never depend on data.

        A temp view is re-pointed only when its frame changed.  SQL views
        are rebuilt all together, in creation order, when any name was
        re-pointed or the view definitions or current database changed: a
        built view holds the plans of the temp views it read at build
        time, and rebuilding all of them avoids tracking which views read
        what through SQL text.
        Names this engine bound whose relation is gone are dropped."""
        dbs = [d for d in self.databases() if d not in self._SYSTEM_DBS]
        names: dict[str, DataFrame] = {}

        def offer(db: str, name: str, df: DataFrame) -> None:
            names[f"{db}__{name}"] = df
            if db == self.current_db:
                names[name] = df

        live = {("system", "incresql", "")}
        columns = []
        for db in dbs:
            for name, kind in self.tables(db):
                if kind != "table":
                    continue
                tbl = self._table(db, name)
                ident = tbl.snapshot_key()
                columns.append((db, name, ident[0]))
                key = ("table", db, name)
                live.add(key)
                offer(db, name, self._cached(key, ident, tbl.scan))
        # stored (creation) order: a view can only read views created
        # before it, so building in this order builds dependencies first
        views = [(db, list(self._views(db).items())) for db in dbs]
        mvdefs = [(db, self._mvs(db)) for db in dbs]
        for db, mdefs in mvdefs:
            for mvname in mdefs:
                key = ("mv", db, mvname)
                live.add(key)
                mv = self._mv(db, mvname)
                offer(db, mvname,
                      self._cached(key, mv.snapshot_key(), mv.read))
        layout = repr((columns, views, json.dumps(mvdefs, sort_keys=True)))
        frames = self._cached(("system", "incresql", ""), layout,
                              self._system_frames)
        for name, df in frames.items():
            offer("incresql", name, df)
        for key in set(self._rels) - live:
            del self._rels[key]
        view_names = {
            n for db, vdefs in views for v, _ in vdefs
            for n in ((f"{db}__{v}", v) if db == self.current_db
                      else (f"{db}__{v}",))
        }
        rebound = False
        for vname, df in names.items():
            if vname not in view_names:  # a view shadows its namesake
                rebound |= self._bind(vname, df)
        views_key = (self.current_db, repr(views))
        if rebound or views_key != self._views_key:
            seen: set[tuple[str, str]] = set()
            for db, vdefs in views:
                for vname, _ in vdefs:
                    self._register_view(db, vname, seen)
            self._views_key = views_key
        else:
            for vname in view_names:
                self._bind(vname, self._mine[vname])
        bound = _BOUND.setdefault(self.spark, {})
        for vname in set(self._mine) - names.keys() - view_names:
            if bound.get(vname) is self._mine.pop(vname):
                del bound[vname]
                self.spark.catalog.dropTempView(vname)

    def _system_frames(self) -> dict[str, DataFrame]:
        """The reference's bootstrap catalog (catalog/src/bootstrap.rs:22-66)
        as queryable frames: ``incresql.databases(name)``,
        ``incresql.tables(database_name, name, type, sql, sql_context,
        table_id, columns, system)``, ``incresql.prefix_tables``.  Driver-side
        metadata only — row counts are O(catalog), never O(data)."""
        spark = self.spark
        dbs = [(d,) for d in self.databases()]
        trows: list[tuple] = [
            ("incresql", n, "table", None, None, tid, None, True)
            for n, tid in sorted(self._SYSTEM_TABLES.items())
        ]
        for db in self.databases():
            if db in self._SYSTEM_DBS:
                continue
            for name, kind in self.tables(db):
                if kind == "view":
                    meta = self._views(db)[name]
                    trows.append(
                        (db, name, "view", meta["sql"], meta["context_db"],
                         None, None, False)
                    )
                else:
                    cols = json.dumps(
                        [[f.name, f.dataType.simpleString()]
                         for f in self._table(db, name).schema().fields]
                    )
                    trows.append((db, name, "table", None, None, None, cols, False))
        prows = [(tid, None, None) for _, tid in sorted(self._SYSTEM_TABLES.items())]
        return {
            "databases": spark.createDataFrame(dbs, "name string"),
            "tables": spark.createDataFrame(
                trows,
                "database_name string, name string, type string, sql string,"
                " sql_context string, table_id bigint, columns string,"
                " system boolean",
            ),
            "prefix_tables": spark.createDataFrame(
                prows, "table_id bigint, column_len int, pk_sort string"
            ),
        }

    def _register_bare(self, db: str) -> None:
        """Point bare (unqualified) temp-view names at ``db``'s relations —
        the reference resolves a view's bare names in the view's own
        context database (resolve_tables.rs:34-61).  Reuses the frames of
        the current ``_register_all`` pass."""
        if db in self._SYSTEM_DBS:
            if db == "incresql":
                system = self._rels[("system", "incresql", "")][1]
                for name, df in system.items():
                    self._bind(name, df)
            return
        for name, kind in self.tables(db):
            if kind == "table":
                self._bind(name, self._rels[("table", db, name)][1])
            else:
                try:
                    self._bind(name, self.spark.table(f"{db}__{name}"))
                except Exception:
                    pass  # dependent view not registered yet
        for mvname in self._mvs(db):
            self._bind(mvname, self._rels[("mv", db, mvname)][1])

    def _register_view(self, db: str, name: str, seen: set) -> None:
        if (db, name) in seen:
            return
        seen.add((db, name))
        meta = self._views(db)[name]
        ctx = meta["context_db"]
        sql = self._qualify(meta["sql"], ctx)
        rewritten = dialect.rewrite(sql, ctx, self._register_dir)
        try:
            df = self.spark.sql(rewritten)
        except Exception:
            if ctx == self.current_db:
                raise
            # bare names in the view body resolve in ITS context db, not the
            # session's — re-register bare names there, build, then restore
            saved = self.current_db
            self.current_db = ctx
            try:
                self._register_bare(ctx)
                df = self.spark.sql(rewritten)
            finally:
                self.current_db = saved
                self._register_bare(saved)
        if db == self.current_db:
            self._bind(name, df)
        self._bind(f"{db}__{name}", df)

    #: tokens after ``FROM db.tbl`` that are clauses, not aliases
    _NON_ALIAS = frozenset(
        "WHERE GROUP ORDER LIMIT UNION JOIN ON LEFT RIGHT INNER CROSS FULL "
        "HAVING SELECT USING OFFSET SEMI ANTI NATURAL".split()
    )

    def _qualify(self, sql: str, context_db: str) -> str:
        """Mangle ``db.table`` → ``db__table`` (Spark temp views are dotless).

        A ``FROM db.tbl`` without an explicit alias gains ``AS tbl`` so that
        reference-style bare-name qualification (``SELECT databases.name FROM
        incresql.databases``, tests/building_blocks/tables.rs) still resolves.

        String literals and backticked identifiers are masked first so a
        literal like 'prefix default.foo suffix' is never mangled.
        """
        known = set(self.databases())
        sql, stash = dialect.mask_literals(sql)

        def sub_from(m: re.Match) -> str:
            kw, db, t = m.group(1), m.group(2), m.group(3)
            alias_full, alias = m.group(4) or "", m.group(5)
            if db not in known:
                return m.group(0)
            if alias and alias.upper() not in self._NON_ALIAS:
                return f"{kw} {db}__{t}{alias_full}"
            return f"{kw} {db}__{t} AS {t}{alias_full}"

        sql = re.sub(
            rf"\b(FROM|JOIN)\s+({_IDENT})\.({_IDENT})"
            rf"(\s+(?:AS\s+)?({_IDENT}))?",
            sub_from,
            sql,
            flags=re.IGNORECASE,
        )

        def sub(m: re.Match) -> str:
            db, t = m.group(1), m.group(2)
            return f"{db}__{t}" if db in known else m.group(0)

        sql = re.sub(rf"\b({_IDENT})\.({_IDENT})\b", sub, sql)
        return dialect.unmask_literals(sql, stash)

    def _register_dir(self, path: str, delim: str) -> str:
        self._dir_views += 1
        view = f"__dir_{self._dir_views}"
        read_directory(self.spark, path, delim).createOrReplaceTempView(view)
        return view

    def _int_col_type(self, column: str) -> str | None:
        """Declared type of ``column`` across every user table: 'int' /
        'bigint' when the name is unambiguously integer-typed, else None
        (unknown names and cross-table type conflicts stay un-rewritten)."""
        if self._int_types is None:
            narrow = {"tinyint": "int", "smallint": "int", "int": "int",
                      "bigint": "bigint"}
            types: dict[str, str | None] = {}
            for db in self.databases():
                if db in self._SYSTEM_DBS:
                    continue
                for name, kind in self.tables(db):
                    if kind != "table":
                        continue
                    for f in self._table(db, name).schema().fields:
                        t = narrow.get(f.dataType.simpleString())
                        if f.name not in types:
                            types[f.name] = t
                        elif types[f.name] != t:
                            types[f.name] = None
            self._int_types = types
        return self._int_types.get(column)

    def _run_select(self, sql: str) -> DataFrame:
        if self._catalog_dirty:
            self._register_all()
            # a mutating statement (INSERT ... SELECT, CREATE VIEW) may call
            # this mid-flight; its own mutation keeps the catalog dirty
            if not self._in_mutation:
                self._catalog_dirty = False
        # sketch table functions (hll_distinct / quantile_sketch /
        # cms_topk / kmv_set_ops / bm25_search ...) expand to derived
        # tables BEFORE qualification, so the generated FROM <table>
        # resolves through the catalog like any other source
        # (sketch_sql.py; round-15 wire surface, completed round 17).
        sql = sketch_sql.expand_sketch_calls(sql)
        rewritten = dialect.rewrite(
            self._qualify(sql, self.current_db), self.current_db,
            self._register_dir, int_col_type=self._int_col_type,
        )
        return self.spark.sql(rewritten)

    #: statement prefixes that invalidate registered temp views
    _MUTATING = (
        "CREATE", "DROP", "USE ", "INSERT", "DELETE", "COMPACT", "REFRESH"
    )

    # ---- cancellation ------------------------------------------------------
    def _group(self, session_id: int | str) -> str:
        return f"incresql-session-{session_id}"

    def cancel(self, session_id: int | str) -> None:
        """Kill the running query of ``session_id`` — the reference's
        per-session kill_flag (data/src/session.rs:10) set by the runtime
        kill path (runtime/src/lib.rs:90-131).  On Spark the session's
        statements run under a job group, so the kill maps to
        ``cancelJobGroup``: every active job of that session aborts (its
        ``collect`` raises, surfaced as an error result) while the session
        itself stays usable — cancellation is one-shot, future jobs under
        the same group run normally.  A kill with no running query is a
        no-op, like the reference's flag nobody checks.

        Streamed SELECTs additionally carry a per-statement kill flag
        (round-13 review): a stream blocked on a slow client between
        partition jobs has nothing active for cancelJobGroup to abort, so
        the one-shot cancel would be silently lost — the flag makes the
        kill land at the stream's next row boundary instead."""
        group = self._group(session_id)
        self.spark.sparkContext.cancelJobGroup(group)
        with self._stream_kills_lock:
            for ev in self._stream_kills.get(group, ()):
                ev.set()

    # ---- statements --------------------------------------------------------
    def execute_statement(
        self, sql: str, session_id: int | str | None = None,
        stream: bool = False,
    ) -> EngineResult:
        """``stream=True`` defers SELECT materialization: the result's
        ``iter_rows()`` runs the query, collected under a fence of
        WIRE_COLLECT_ROWS rows and streamed past it one partition at a
        time, instead of collecting the full result on the driver — the
        wire server uses this so a ``SELECT *`` over a big table cannot
        OOM the driver (round-12 verdict task 2).  Statement kinds other than
        the SELECT/VALUES passthrough always materialize (their results
        are tiny catalogs/acks)."""
        s = sql.strip().rstrip(";").strip()
        m = re.match(r"KILL\s+(?:QUERY\s+)?(\d+)$", s, re.IGNORECASE)
        if m:
            self.cancel(int(m.group(1)))
            return EngineResult()
        if session_id is None:
            return self._dispatch(s, stream=stream)
        sc = self.spark.sparkContext
        # every Spark job this statement launches is tagged with the
        # session's group so cancel()/KILL can find it; interruption
        # aborts compute-bound tasks mid-partition
        sc.setJobGroup(self._group(session_id), s[:200], interruptOnCancel=True)
        try:
            res = self._dispatch(s, stream=stream)
            if res.streaming:
                group = self._group(session_id)
                res.job_group = (group, s[:200])
                ev = threading.Event()
                with self._stream_kills_lock:
                    self._stream_kills.setdefault(group, set()).add(ev)

                def _deregister(group=group, ev=ev):
                    with self._stream_kills_lock:
                        flags = self._stream_kills.get(group)
                        if flags is not None:
                            flags.discard(ev)
                            if not flags:
                                self._stream_kills.pop(group, None)

                res.kill_event = ev
                res.on_finish = _deregister
                # a result abandoned before iteration ever starts would
                # otherwise leak its flag for the Engine's lifetime (a
                # never-started generator runs no finally) — the finalizer
                # guarantees eventual deregistration; _deregister is
                # idempotent, so the common iter_rows path is unaffected
                weakref.finalize(res, _deregister)
            return res
        finally:
            # drop the tag once the statement finishes — a KILL that lands
            # AFTER completion must be the reference's harmless no-op flag
            # (session.rs:10), not a cancellation of whatever this session's
            # thread runs next under a stale group.  (PySpark 4 has no
            # clearJobGroup; null-ing the local properties setJobGroup sets
            # is the documented equivalent.)
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)

    def _dispatch(self, s: str, stream: bool = False) -> EngineResult:
        u = s.upper()
        self._in_mutation = u.startswith(self._MUTATING)
        if self._in_mutation:
            self._catalog_dirty = True
            self._int_types = None

        if u.startswith("CREATE DATABASE"):
            name = s.split()[2]
            os.makedirs(self._db_path(name), exist_ok=True)
            return EngineResult()
        if u.startswith("DROP DATABASE"):
            db = s.split()[2]
            # views inside db go with it; views elsewhere would go stale
            deps = [(d, n) for d, n in self._views_reading(
                lambda b: b.split(".")[0] == db) if d != db]
            self._refuse_drop(f"database {db}", deps)
            shutil.rmtree(self._db_path(db), ignore_errors=True)
            return EngineResult()
        if u.startswith("USE "):
            db = s.split()[1]
            if db not in self.databases():
                raise ValueError(f"unknown database {db}")
            self.current_db = db
            return EngineResult()

        m = re.match(rf"CREATE TABLE ({_QNAME})\s*\((.*)\)\s*$", s, re.IGNORECASE | re.DOTALL)
        if m:
            db, name = _split_name(m.group(1), self.current_db)
            fields = []
            for coldef in re.split(r",(?![^()]*\))", m.group(2)):
                parts = coldef.strip().split(None, 1)
                cname, ctype = parts[0], parts[1].strip().upper()
                dm = re.match(r"DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", ctype)
                if dm:
                    stype = f"decimal({dm.group(1)},{dm.group(2)})"
                else:
                    if ctype not in _TYPE_MAP:
                        raise ValueError(f"unknown type {ctype}")
                    stype = _TYPE_MAP[ctype]
                fields.append(T.StructField(cname, T._parse_datatype_string(stype)))
            tbl = self._table(db, name)
            if tbl.exists():
                raise ValueError(f"table {db}.{name} already exists")
            tbl.create(T.StructType(fields))
            return EngineResult()

        # Join-MV form: CREATE MATERIALIZED VIEW v AS SELECT ... FROM t1
        # JOIN t2 ON cond [JOIN t3 ON cond]... [WHERE ...] GROUP BY ... —
        # the reference's unrealized differential goal surfaced as DDL
        # (storage/src/storage.rs:26-65); refreshes are O(delta) via
        # AggregateJoinMaterializedView's telescoping join delta.
        m = re.match(
            rf"CREATE MATERIALIZED VIEW ({_QNAME})\s+AS\s+"
            rf"SELECT\s+(.*?)\s+FROM\s+(.*)$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m and re.search(r"\bJOIN\b", m.group(3), re.IGNORECASE):
            db, name = _split_name(m.group(1), self.current_db)
            body = m.group(3)
            group_by = where = None
            mg = re.search(r"\s+GROUP\s+BY\s+(.*)$", body, re.IGNORECASE | re.DOTALL)
            if mg:
                group_by, body = mg.group(1).strip(), body[: mg.start()]
            mw = re.search(r"\s+WHERE\s+(.*)$", body, re.IGNORECASE | re.DOTALL)
            if mw:
                where, body = mw.group(1).strip(), body[: mw.start()]
            if not group_by:
                raise ValueError(
                    "join materialized views require GROUP BY aggregates"
                )
            # LEFT [OUTER] JOIN steps maintain the reference's LeftOuter
            # (ast/src/rel/logical.rs:55-59) incrementally — pad-row flips
            # handled by AggregateJoinMaterializedView's anti-join delta.
            # Any other qualifier would fall through the split below and
            # glue itself onto the preceding table/cond — refuse it loudly.
            bad = re.search(
                r"\b(RIGHT|FULL|CROSS)(\s+OUTER)?\s+JOIN\b", body, re.IGNORECASE
            )
            if bad:
                raise ValueError(
                    f"unsupported join type {' '.join(bad.group(0).upper().split())} "
                    "in materialized view — only [INNER] JOIN and "
                    "LEFT [OUTER] JOIN are maintainable"
                )
            parts = re.split(
                r"\s+((?:LEFT(?:\s+OUTER)?\s+|INNER\s+)?JOIN)\s+",
                body.strip(),
                flags=re.IGNORECASE,
            )
            tables, conds, hows = [parts[0].strip()], [], []
            for kw, p in zip(parts[1::2], parts[2::2]):
                tb, cond = re.split(r"\s+ON\s+", p, maxsplit=1, flags=re.IGNORECASE)
                tables.append(tb.strip())
                conds.append(cond.strip())
                hows.append(
                    "left_outer" if kw.upper().startswith("LEFT") else "inner"
                )
            qualified, aliases = [], []
            for t in tables:
                # ``db.t``, ``t AS a`` or ``t a``: each side is aliased by
                # its alias, else its table name, so ``a.col`` resolves
                mt = re.fullmatch(rf"({_QNAME})(?:\s+(?:AS\s+)?(\w+))?", t,
                                  re.IGNORECASE)
                tdb, tn = _split_name(mt.group(1) if mt else t,
                                      self.current_db)
                if not mt or not self._table(tdb, tn).exists():
                    raise ValueError(f"unknown base table {t}")
                qualified.append(f"{tdb}.{tn}")
                aliases.append(mt.group(2) or tn)
            mvs = self._mvs(db)
            mvs[name] = {
                "type": "agg_join",
                "tables": qualified,
                "join_conds": conds,
                "hows": hows,
                "aliases": aliases,
                "select_list": m.group(2),
                "where": where,
                "group_by": group_by,
            }
            self._register_and_refresh_mv(db, name, mvs)
            return EngineResult()

        m = re.match(
            rf"CREATE MATERIALIZED VIEW ({_QNAME})\s+AS\s+"
            rf"SELECT\s+(.*?)\s+FROM\s+({_QNAME})"
            rf"(?:\s+WHERE\s+(.*?))?(?:\s+GROUP\s+BY\s+(.*?))?\s*$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            db, name = _split_name(m.group(1), self.current_db)
            bdb, bt = _split_name(m.group(3), self.current_db)
            if not self._table(bdb, bt).exists():
                if bt in self._mvs(bdb):
                    # CASCADE (round 17): the FROM names an existing MV —
                    # the new view maintains an aggregate OVER it by
                    # consuming its changelog.  Enabling the changelog on
                    # an already-refreshed source is safe: bootstrap
                    # seeds one segment with the CURRENT finalized state
                    # under the state's own cursor (idempotent), and all
                    # later refresh deltas compose on top.
                    if not self._mv(bdb, bt).is_aggregate:
                        raise ValueError(
                            f"cascade source {bdb}.{bt} is not an "
                            "aggregate view — only aggregate views emit "
                            "a changelog (a linear view's own state "
                            "table already IS one)"
                        )
                    smvs = self._mvs(bdb)
                    if not smvs[bt].get("changelog"):
                        smvs[bt]["changelog"] = True
                        self._save_mvs(bdb, smvs)
                    self._mv(bdb, bt).bootstrap_changelog()
                    mvs = self._mvs(db)
                    mvs[name] = {
                        "base_mv": f"{bdb}.{bt}",
                        "select_list": m.group(2),
                        "where": m.group(4),
                        "group_by": m.group(5),
                    }
                    self._register_and_refresh_mv(db, name, mvs)
                    return EngineResult()
                raise ValueError(f"unknown base table {bdb}.{bt}")
            mvs = self._mvs(db)
            mvs[name] = {
                "base": f"{bdb}.{bt}",
                "select_list": m.group(2),
                "where": m.group(4),
                "group_by": m.group(5),
            }
            self._register_and_refresh_mv(db, name, mvs)
            return EngineResult()

        m = re.match(rf"REFRESH MATERIALIZED VIEW ({_QNAME})\s*$", s, re.IGNORECASE)
        if m:
            db, name = _split_name(m.group(1), self.current_db)
            mv = self._mv(db, name)
            # cascade: refresh the upstream chain root-first so this
            # view's changelog base carries every pending transition
            chain = []
            up = getattr(mv, "_upstream", None)
            while up is not None:
                chain.append(up)
                up = getattr(up, "_upstream", None)
            for up in reversed(chain):
                up.refresh()
            n = mv.refresh()
            return EngineResult(["delta_rows"], [(n,)])

        m = re.match(rf"DROP MATERIALIZED VIEW ({_QNAME})\s*$", s, re.IGNORECASE)
        if m:
            db, name = _split_name(m.group(1), self.current_db)
            qn = f"{db}.{name}"
            self._refuse_drop(f"materialized view {qn}",
                              self._views_reading(lambda b: b == qn),
                              "cascaded view(s)")
            self._mv(db, name).drop()
            mvs = self._mvs(db)
            mvs.pop(name, None)
            self._save_mvs(db, mvs)
            return EngineResult()

        m = re.match(rf"CREATE VIEW ({_QNAME})\s+AS\s+(.*)$", s, re.IGNORECASE | re.DOTALL)
        if m:
            db, name = _split_name(m.group(1), self.current_db)
            self._run_select(m.group(2))  # validate now, like the reference
            views = self._views(db)
            views[name] = {"sql": m.group(2), "context_db": self.current_db}
            self._save_views(db, views)
            return EngineResult()

        m = re.match(rf"DROP TABLE ({_QNAME})\s*$", s, re.IGNORECASE)
        if m:
            db, name = _split_name(m.group(1), self.current_db)
            qn = f"{db}.{name}"
            # a view's cursor holds the dropped table's seqs: a table
            # re-created under the name would be skipped, not refreshed
            self._refuse_drop(f"table {qn}",
                              self._views_reading(lambda b: b == qn))
            self._table(db, name).drop()
            return EngineResult()

        m = re.match(rf"DROP VIEW ({_QNAME})\s*$", s, re.IGNORECASE)
        if m:
            db, name = _split_name(m.group(1), self.current_db)
            views = self._views(db)
            views.pop(name, None)
            self._save_views(db, views)
            return EngineResult()

        m = re.match(rf"COMPACT TABLE ({_QNAME})\s*$", s, re.IGNORECASE)
        if m:
            db, name = _split_name(m.group(1), self.current_db)
            # bring every dependent MV's cursor up to last_seq first —
            # compaction collapses the seq range, and a mid-range cursor
            # would otherwise re-consume merged rows (delta() now refuses
            # that loudly; refreshing makes COMPACT safe instead of fatal)
            qn = f"{db}.{name}"
            for mv_db, mv_name in self._views_reading(lambda b: b == qn):
                self._mv(mv_db, mv_name).refresh()
            self._table(db, name).compact()
            return EngineResult()

        m = re.match(rf"INSERT INTO ({_QNAME})\s+(.*)$", s, re.IGNORECASE | re.DOTALL)
        if m:
            db, name = _split_name(m.group(1), self.current_db)
            body = m.group(2)
            # the reference parser accepts the VALUE synonym
            # (parser/src/insert.rs values() alt kw("VALUE"))
            body = re.sub(r"^VALUE\b", "VALUES", body, flags=re.IGNORECASE)
            source_df = self._run_select(
                body if body.upper().startswith(("SELECT", "VALUES"))
                else "SELECT " + body
            )
            self._table(db, name).insert(source_df)
            return EngineResult()

        m = re.match(
            rf"DELETE FROM ({_QNAME})(?:\s+WHERE\s+(.*?))?(?:\s+LIMIT\s+(\d+))?\s*$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            db, name = _split_name(m.group(1), self.current_db)
            cond = m.group(2)
            if cond:
                cond = dialect.rewrite(cond, self.current_db)
                # strip table qualifiers the reference allows (t1.b = ...)
                cond = re.sub(rf"\b{name}\.", "", cond)
            limit = int(m.group(3)) if m.group(3) else None
            self._table(db, name).delete_where(cond, limit)
            return EngineResult()

        if u.startswith("SHOW DATABASES"):
            rows = [(d,) for d in self.databases()]
            return EngineResult(["name"], rows)
        if u.startswith("SHOW TABLES"):
            rows = [(n, k) for n, k in self.tables(self.current_db)]
            return EngineResult(["name", "type"], rows)
        if u.startswith("SHOW FUNCTIONS"):
            return EngineResult(
                ["function_name"], [(f,) for f in sorted(_FUNCTION_REGISTRY)]
            )

        if u.startswith("EXPLAIN SPARK"):
            # escape hatch: Catalyst's own formatted physical plan
            df = self._run_select(s[len("EXPLAIN SPARK"):].strip())
            plan = df._jdf.queryExecution().explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            return EngineResult(["plan"], [(line,) for line in plan.splitlines()])

        if u.startswith("EXPLAIN"):
            # reference-parity tree table (planner/src/explain/mod.rs:38-83)
            df = self._run_select(s[len("EXPLAIN"):].strip())
            return EngineResult(
                ["tree", "col_idx", "datatype", "expression"],
                reference_explain(df),
            )

        # SELECT / VALUES passthrough.  The wire server asks for
        # stream=True: iter_rows() then runs the query outside the server
        # lock, collected under a fence of WIRE_COLLECT_ROWS rows and
        # streamed past it, one partition at a time — matching the
        # reference's incremental row writes (server/src/mysql/mod.rs:
        # 103-111).  An unfenced full collect is, at 100 TB, a guaranteed
        # driver OOM for a plain SELECT * (measured: 90 GB RSS at sf10,
        # SCALING.md).
        df = self._run_select(s)
        if stream:
            return EngineResult(list(df.columns), [], df, streaming=True)
        max_rows = EMBEDDED_MAX_COLLECT_ROWS
        rows = _fenced_collect(df, max_rows)
        if rows is None:
            raise EmbeddedResultTooLarge(
                f"embedded SELECT returned more than {max_rows} rows; use "
                "execute_statement(..., stream=True)"
            )
        return EngineResult(list(df.columns), rows, df)
